package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.TaskContext

import scala.collection.mutable.ArrayBuffer

/** Shared broadcast-path batch search plumbing for both graph engines —
  * the sibling of [[GraphTableSearch]] (which parameterizes the
  * table-input path the same way). One implementation owns the pieces
  * that MUST stay identical across engines or silently diverge:
  *
  *  - whole-shard grouping + the decoded-shard executor cache;
  *  - per-LABEL insert epochs (online rewrites mix epochs in a shard);
  *  - shard routing (`probes`: shard → probing query indices; unrouted
  *    shards skip before decode);
  *  - DAG-level partition pruning: a routed search schedules only the
  *    probed shards' partitions, an unrouted search on a PINNED input
  *    only the partitions that hold a live shard;
  *  - the repeat-call layout fast path on a PINNED input: serve pure beam
  *    work without consuming the cached partition iterator when a prior
  *    call recorded the partition's (shard → epochs) layout and every
  *    needed shard is still decodable.
  *
  * Engines supply the column projection, the seg column index, decode,
  * and the per-(shard, query) search kernel. The result is the UNMERGED
  * per-shard candidate set; the caller picks the merge (a grouped top-k
  * shuffle for a query batch, one ordered take for a single query).
  */
object GraphBatchSearch {

  /** Run the batch search.
    *
    * @param graphDf     narrow projection: `shard` field 0, `label` field
    *                    1, seg at `segIdx` (LAST)
    * @param queries     (query_idx, vector) pairs, broadcast
    * @param segIdx      seg column position in `graphDf`
    * @param cacheKey    executor shard-cache key prefix (None = no cache)
    * @param prePartitioned graphDf is (a projection of) a dataset
    *                    hash-partitioned by `col("shard")` (the pin)
    * @param pinnedParts the PIN's partition count, when the caller knows
    *                    it for certain (AnnIndex recorded it at pin
    *                    time). Keys the layout cache and the partition
    *                    pruning without a per-call plan-to-RDD
    *                    conversion; absent, a prePartitioned input pays
    *                    one `.rdd.getNumPartitions` (correct for ANY
    *                    layout, ~20-40 ms of driver planning).
    * @param numShards   shard count for our own repartition sizing when
    *                    not pre-partitioned
    * @param probes      shard routing: shard id → probing query indices
    * @param liveShards  the index's live shard ids; on a prePartitioned
    *                    input with a known width an unrouted search
    *                    schedules only the partitions they hash to (the
    *                    rest of a pin's hash layout is empty by
    *                    construction)
    * @param decode      whole-shard rows → engine shard object
    * @param search      (shard, query) → (id, distance, label) candidates
    * @return (query_idx, id, _distance, seg) candidates, unmerged
    */
  def run(spark: SparkSession, graphDf: DataFrame,
          queries: Seq[(Int, Array[Float])], segIdx: Int,
          cacheKey: Option[String], prePartitioned: Boolean,
          pinnedParts: Option[Int], numShards: Int,
          codecSpill: GraphShardCache.SpillCodec,
          probes: Option[Map[Int, Array[Int]]],
          liveShards: Option[Seq[Int]],
          decode: (Int, scala.collection.Seq[Row]) => AnyRef,
          search: (AnyRef, Array[Float]) => Iterator[(Long, Double, Int)]): DataFrame = {
    val bcQueries = spark.sparkContext.broadcast(queries)
    val bcProbes = probes.map(spark.sparkContext.broadcast(_))
    val out = StructType(Seq(
      StructField("query_idx", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("_distance", DoubleType, nullable = false),
      StructField("seg", LongType, nullable = false)))

    val graph =
      if (prePartitioned) graphDf
      else if (numShards > 0)
        graphDf.repartition(Vamana.shardPartitions(numShards), col("shard"))
      else graphDf.repartition(col("shard"))

    // partition count, when knowable: the caller's recorded pin width, or
    // our explicit repartition width (AQE never resizes an explicit
    // numPartitions); an un-recorded prePartitioned input pays one .rdd
    // conversion — correct for any layout, never silently wrong
    val nPartsKnown: Option[Int] =
      if (prePartitioned) pinnedParts.orElse(Some(graph.rdd.getNumPartitions))
      else if (numShards > 0) Some(Vamana.shardPartitions(numShards))
      else None

    val body: (Int, Iterator[Row]) => Iterator[Row] = { (parentPid, rows) =>
      lazy val queriesByIdx = bcQueries.value.toMap
      def answer(shardId: Int, sh: AnyRef, segs: Array[Long]): Iterator[Row] = {
        val routed = bcProbes.map(_.value.getOrElse(shardId, Array.empty[Int]))
        val qIter: Iterator[(Int, Array[Float])] = routed match {
          case Some(idxs) => idxs.iterator.map(i => (i, queriesByIdx(i)))
          case None => bcQueries.value.iterator
        }
        qIter.flatMap { case (qi, q) =>
          search(sh, q).map { case (id, d, label) => Row(qi, id, d, segs(label)) }
        }
      }
      def needed(shardId: Int): Boolean =
        bcProbes.forall(_.value.getOrElse(shardId, Array.empty[Int]).nonEmpty)
      // repeat-call fast path (pinned only — the layout cache needs a
      // stable partition identity): layout recorded + every needed shard
      // decodable → pure beam work, the partition iterator is never
      // consumed. Same machinery and invalidation as the zip path (key
      // embeds the index meta version and P); partial eviction falls back
      // to the full scan, never a wrong answer.
      val layoutKey = for { ck <- cacheKey; np <- nPartsKnown if prePartitioned }
        yield s"$ck#batchLayout#$np#$parentPid"
      val fast: Option[Iterator[Row]] = layoutKey.flatMap { lk =>
        GraphShardCache.getLayout(lk).flatMap { layout =>
          val need = layout.filter { case (sid, _) => needed(sid) }
          val hits = need.flatMap { case (sid, segs) =>
            GraphShardCache.peek(s"${cacheKey.get}#$sid", Some(codecSpill))
              .map(sh => (sid, sh, segs))
          }
          if (hits.length != need.length) None
          else {
            GraphShardCache.batchFastPathHits.incrementAndGet()
            Some(hits.iterator.flatMap { case (sid, sh, segs) =>
              answer(sid, sh, segs) })
          }
        }
      }
      fast.getOrElse {
        // full path: a task may receive several (whole) shards — group by
        // the shard column
        val grouped = new scala.collection.mutable.LinkedHashMap[Int, ArrayBuffer[Row]]()
        rows.foreach { r => grouped.getOrElseUpdate(r.getInt(0), new ArrayBuffer[Row]) += r }
        if (layoutKey.isDefined) {
          // record the layout for repeat calls; it covers EVERY shard in
          // the partition (segs come from raw rows, no decode), so a later
          // call with a different probe set can still trust it
          val withSegs = grouped.iterator
            .map { case (sid, shardRows) => (sid, shardRows, Vamana.segArray(shardRows, segIdx)) }
            .toArray
          layoutKey.foreach(lk => GraphShardCache.putLayout(lk,
            withSegs.map { case (sid, _, segs) => (sid, segs) }))
          withSegs.iterator.flatMap { case (shardId, shardRows, segs) =>
            if (!needed(shardId)) Iterator.empty
            else answer(shardId, cached(cacheKey, shardId, shardRows, codecSpill, decode), segs)
          }
        } else {
          // no layout to record (unpinned): stay lazy — routed-away
          // shards never even pay the segArray pass
          grouped.iterator.flatMap { case (shardId, shardRows) =>
            if (!needed(shardId)) Iterator.empty
            else answer(shardId, cached(cacheKey, shardId, shardRows, codecSpill, decode),
              Vamana.segArray(shardRows, segIdx))
          }
        }
      }
    }

    // DAG-level partition pruning: the layouts above are
    // HashPartitioning(shard, P), so the partitions that can hold a probed
    // (routed) or live (unrouted, pinned) shard are known before the job
    // runs, and it schedules ONLY those. PartitionPruningRDD keeps retained
    // parent partitions in index order, so the sorted retained set maps the
    // pruned index back to the parent id the layout cache keys on.
    val scheduledShards: Option[Iterable[Int]] =
      probes.map(_.keys).orElse(liveShards.filter(_ => prePartitioned))
    val scheduledParts: Option[Set[Int]] = scheduledShards.flatMap { ids =>
      nPartsKnown.map(np => ids.iterator.map(Vamana.shardPartitionId(_, np)).toSet)
    }
    scheduledParts match {
      case Some(parts) =>
        val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
          graph.rdd, parts.contains)
        val parentIds = parts.toArray.sorted
        spark.createDataFrame(
          pruned.mapPartitionsWithIndex((i, rows) => body(parentIds(i), rows)),
          out)
      case None =>
        graph.mapPartitions { rows =>
          body(TaskContext.getPartitionId(), rows)
        }(Encoders.row(out))
    }
  }

  private def cached(cacheKey: Option[String], shardId: Int,
                     shardRows: scala.collection.Seq[Row],
                     spill: GraphShardCache.SpillCodec,
                     decode: (Int, scala.collection.Seq[Row]) => AnyRef): AnyRef =
    cacheKey match {
      case Some(ck) => GraphShardCache.getOrBuild(s"$ck#$shardId", Some(spill))(
        decode(shardId, shardRows))
      case None => decode(shardId, shardRows)
    }
}
