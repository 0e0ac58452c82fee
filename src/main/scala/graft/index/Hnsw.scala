package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.TaskContext

import graft.functions.VectorKernels
import graft.operators.TopK

import scala.collection.mutable.ArrayBuffer

/** HNSW graph engine (public algorithm: Malkov & Yashunin, "Efficient and
  * robust approximate nearest neighbor search using Hierarchical Navigable
  * Small World graphs", 2016). The reference exposes HNSW through FAISS
  * (`type='HNSW'`, hnsw_m default 32, src/include/faiss_index.hpp:38-44);
  * this is a fresh Scala implementation.
  *
  * Same distribution model as [[Vamana]]: partition-local layered graphs
  * (shards), built fully parallel, searched batch-amortized per task with
  * a grouped top-k merge. Level assignment is deterministic per id
  * (hash-seeded), so builds are reproducible.
  */
object Hnsw {

  /** node → level → neighbor labels (level 0 = base layer). */
  final case class Shard(ids: Array[Long], vectors: Array[Array[Float]],
                         levels: Array[Int], neighbors: Array[Array[Array[Int]]],
                         entry: Int, maxLevel: Int)

  /** Compact binary form of [[Shard]] for the executor-local disk tier
    * (see [[GraphShardCache]]) — decoded floats plus the layered adjacency,
    * reloaded with one sequential read instead of a parquet re-decode. */
  object ShardSpillCodec extends GraphShardCache.SpillCodec {
    def write(v: AnyRef, out: java.io.DataOutputStream): Unit = {
      val sh = v.asInstanceOf[Shard]
      val n = sh.ids.length
      out.writeInt(n); out.writeInt(sh.entry); out.writeInt(sh.maxLevel)
      out.writeInt(if (n > 0) sh.vectors(0).length else 0)
      var i = 0
      while (i < n) { out.writeLong(sh.ids(i)); i += 1 }
      i = 0
      while (i < n) {
        val vec = sh.vectors(i); var j = 0
        while (j < vec.length) { out.writeFloat(vec(j)); j += 1 }
        i += 1
      }
      i = 0
      while (i < n) { out.writeInt(sh.levels(i)); i += 1 }
      i = 0
      while (i < n) {
        val lv = sh.neighbors(i); out.writeInt(lv.length); var l = 0
        while (l < lv.length) {
          val nb = lv(l); out.writeInt(nb.length); var j = 0
          while (j < nb.length) { out.writeInt(nb(j)); j += 1 }
          l += 1
        }
        i += 1
      }
    }
    def read(in: java.io.DataInputStream): AnyRef = {
      val n = in.readInt(); val entry = in.readInt(); val maxLevel = in.readInt()
      val dim = in.readInt()
      val ids = new Array[Long](n)
      var i = 0
      while (i < n) { ids(i) = in.readLong(); i += 1 }
      val vecs = new Array[Array[Float]](n)
      i = 0
      while (i < n) {
        val vec = new Array[Float](dim); var j = 0
        while (j < dim) { vec(j) = in.readFloat(); j += 1 }
        vecs(i) = vec; i += 1
      }
      val lvls = new Array[Int](n)
      i = 0
      while (i < n) { lvls(i) = in.readInt(); i += 1 }
      val nbrs = new Array[Array[Array[Int]]](n)
      i = 0
      while (i < n) {
        val nLv = in.readInt(); val lv = new Array[Array[Int]](nLv); var l = 0
        while (l < nLv) {
          val len = in.readInt(); val nb = new Array[Int](len); var j = 0
          while (j < len) { nb(j) = in.readInt(); j += 1 }
          lv(l) = nb; l += 1
        }
        nbrs(i) = lv; i += 1
      }
      Shard(ids, vecs, lvls, nbrs, entry, maxLevel)
    }
  }

  final case class Params(m: Int, efConstruction: Int) {
    val mMax0: Int = 2 * m
    val mL: Double = 1.0 / math.log(m.toDouble)
  }

  object Params {
    def from(meta: IndexMeta): Params =
      Params(meta.param("hnsw_m", 32), meta.param("ef_construction", 64))
  }

  /** Deterministic level draw per id: floor(-ln(U) · mL) with U derived
    * from a splitmix of the id. */
  def levelFor(id: Long, mL: Double): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11).toDouble / (1L << 53).toDouble) max 1e-12
    math.min((-math.log(u) * mL).toInt, 31)
  }

  /** Greedy search on one layer with a bounded candidate pool of size ef.
    * Returns (label, distance) ascending. */
  def searchLayer(sh: Shard, q: Array[Float], entryPoints: Seq[(Int, Double)],
                  ef: Int, level: Int,
                  dist: (Array[Float], Array[Float]) => Double): ArrayBuffer[(Int, Double)] = {
    val visited = new java.util.BitSet(sh.vectors.length)
    val pool = new ArrayBuffer[(Int, Double)](ef + 1)

    def poolInsert(label: Int, d: Double): Unit = {
      if (pool.length >= ef && d >= pool.last._2) return
      var lo = 0; var hi = pool.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (pool(mid)._2 <= d) lo = mid + 1 else hi = mid
      }
      pool.insert(lo, (label, d))
      if (pool.length > ef) pool.remove(pool.length - 1)
    }

    val inPool = new java.util.BitSet(sh.vectors.length)
    entryPoints.foreach { case (l, d) =>
      if (!inPool.get(l)) { inPool.set(l); poolInsert(l, d) }
    }
    var continue = true
    while (continue) {
      var idx = -1; var i = 0
      while (idx < 0 && i < pool.length) {
        if (!visited.get(pool(i)._1)) idx = i
        i += 1
      }
      if (idx < 0) continue = false
      else {
        val (label, _) = pool(idx)
        visited.set(label)
        val nbrs = if (level < sh.neighbors(label).length) sh.neighbors(label)(level)
                   else Array.empty[Int]
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (!inPool.get(nb)) {
            inPool.set(nb)
            poolInsert(nb, dist(q, sh.vectors(nb)))
          }
          j += 1
        }
      }
    }
    pool
  }

  /** Full top-down search: greedy descent (ef=1) to level 1, then level-0
    * search with ef. */
  def search(sh: Shard, q: Array[Float], k: Int, ef: Int,
             dist: (Array[Float], Array[Float]) => Double): ArrayBuffer[(Int, Double)] = {
    if (sh.vectors.isEmpty) return ArrayBuffer.empty
    var ep = Seq((sh.entry, dist(q, sh.vectors(sh.entry))))
    var lvl = sh.maxLevel
    while (lvl > 0) {
      ep = Seq(searchLayer(sh, q, ep, 1, lvl, dist).head)
      lvl -= 1
    }
    searchLayer(sh, q, ep, math.max(ef, k), 0, dist)
  }

  /** Build one shard by incremental insert. */
  def buildShard(ids: Array[Long], vectors: Array[Array[Float]],
                 params: Params, metric: String): Shard = {
    val n = vectors.length
    val raw = VectorKernels.orderingDistance(metric) _
    // same small-shard pair-distance memo as Vamana.buildShard (values
    // bit-identical, see Vamana.memoDist): the layered insert re-scores
    // the same in-shard pairs across layers and neighbor re-selections
    val dist =
      if (n > 0 && n <= Vamana.MemoMaxRows) Vamana.memoDist(vectors, raw)
      else raw
    val levels = Array.tabulate(n)(i => levelFor(ids(i), params.mL))
    val neighbors = Array.tabulate(n)(i => Array.fill(levels(i) + 1)(Array.empty[Int]))
    if (n == 0) return Shard(ids, vectors, levels, neighbors, 0, 0)

    insertSweep(ids, vectors, levels, neighbors, 0, levels(0), 1, params, dist)
  }

  /** Insert labels [from, n) into the (mutable) parallel arrays — the
    * per-point step of Malkov & Yashunin Algorithm 1, shared by
    * [[buildShard]] (from=1, label 0 seeds the entry) and the online
    * append ([[insertIntoShard]], from=old n). Adjacency lists are
    * replaced wholesale, never element-written, so callers may share
    * inner Int arrays with an older shard snapshot. Returns the final
    * shard (entry/maxLevel updated as taller nodes land). */
  private def insertSweep(ids: Array[Long], vectors: Array[Array[Float]],
                          levels: Array[Int], neighbors: Array[Array[Array[Int]]],
                          entry0: Int, maxLevel0: Int, from: Int, params: Params,
                          dist: (Array[Float], Array[Float]) => Double): Shard = {
    val n = vectors.length
    var entry = entry0
    var maxLevel = maxLevel0
    var built = Shard(ids, vectors, levels, neighbors, entry, maxLevel)

    def selectNeighbors(cands: ArrayBuffer[(Int, Double)], m: Int): Array[Int] =
      cands.sortBy(_._2).take(m).map(_._1).toArray

    var v = from
    while (v < n) {
      val q = vectors(v)
      val vLevel = levels(v)
      var ep = Seq((built.entry, dist(q, vectors(built.entry))))
      // descend levels above the node's level
      var lvl = built.maxLevel
      while (lvl > vLevel) {
        ep = Seq(searchLayer(built, q, ep, 1, lvl, dist).head)
        lvl -= 1
      }
      // connect on each level from min(vLevel, maxLevel) down to 0
      lvl = math.min(vLevel, built.maxLevel)
      while (lvl >= 0) {
        val cands = searchLayer(built, q, ep, params.efConstruction, lvl, dist)
        val m = if (lvl == 0) params.mMax0 else params.m
        val selected = selectNeighbors(cands.filter(_._1 != v), params.m)
        neighbors(v)(lvl) = selected
        // bidirectional links with overflow prune (keep closest m)
        for (u <- selected) {
          val cur = neighbors(u)(lvl)
          if (!cur.contains(v)) {
            val merged = cur :+ v
            neighbors(u)(lvl) =
              if (merged.length <= m) merged
              else {
                val withD = merged.map(x => (x, dist(vectors(u), vectors(x))))
                withD.sortBy(_._2).take(m).map(_._1)
              }
          }
        }
        ep = cands.toSeq
        lvl -= 1
      }
      if (vLevel > built.maxLevel) { entry = v; maxLevel = vLevel }
      else { entry = built.entry; maxLevel = built.maxLevel }
      built = Shard(ids, vectors, levels, neighbors, entry, maxLevel)
      v += 1
    }
    built
  }

  /** Remove dead nodes from a layered shard (the HNSW sibling of
    * [[Vamana.removeFromShard]]): per level, a live node with a dead
    * neighbor absorbs the dead neighbor's live same-level neighbors and
    * keeps the closest m (mMax0 at level 0); labels then compact. If the
    * entry died, the tallest surviving node (smallest label on ties)
    * takes over. Returns the compacted shard + old→new label map (-1 for
    * dead). Input shard is not mutated. */
  def removeFromShard(sh: Shard, dead: Array[Boolean], params: Params,
                      metric: String): (Shard, Array[Int]) = {
    val n = sh.ids.length
    if (n == 0 || !dead.exists(identity))
      return (sh, Array.tabulate(n)(identity))
    val dist = VectorKernels.orderingDistance(metric) _
    val absorbed = new Array[Array[Array[Int]]](n)
    var u = 0
    while (u < n) {
      if (!dead(u)) {
        absorbed(u) = sh.neighbors(u).zipWithIndex.map { case (nbrs, lvl) =>
          if (!nbrs.exists(dead)) nbrs
          else {
            val cand = scala.collection.mutable.LinkedHashSet.empty[Int]
            nbrs.foreach { x =>
              if (dead(x)) {
                val dn = sh.neighbors(x)
                if (lvl < dn.length) dn(lvl).foreach(y =>
                  if (!dead(y) && y != u) cand += y)
              } else cand += x
            }
            val m = if (lvl == 0) params.mMax0 else params.m
            cand.iterator.map(x => (x, dist(sh.vectors(u), sh.vectors(x))))
              .toArray.sortBy(_._2).take(m).map(_._1)
          }
        }
      }
      u += 1
    }
    val map = new Array[Int](n)
    var next = 0
    var i = 0
    while (i < n) {
      if (dead(i)) map(i) = -1 else { map(i) = next; next += 1 }
      i += 1
    }
    val ids = new Array[Long](next)
    val vecs = new Array[Array[Float]](next)
    val lvls = new Array[Int](next)
    val nbrs = new Array[Array[Array[Int]]](next)
    i = 0
    while (i < n) {
      if (!dead(i)) {
        val l = map(i)
        ids(l) = sh.ids(i)
        vecs(l) = sh.vectors(i)
        lvls(l) = sh.levels(i)
        nbrs(l) = absorbed(i).map(_.collect { case x if map(x) >= 0 => map(x) })
      }
      i += 1
    }
    var entry = 0; var maxLevel = -1
    i = 0
    while (i < next) {
      if (lvls(i) > maxLevel) { maxLevel = lvls(i); entry = i }
      i += 1
    }
    (Shard(ids, vecs, lvls, nbrs, entry, math.max(maxLevel, 0)), map)
  }

  /** Online insert: extend an EXISTING shard's layered graph with new
    * points (same contract as [[Vamana.insertIntoShard]]): old labels keep
    * their positions, the input shard is not mutated (outer and per-node
    * level spines copied; lists replaced wholesale), and the entry point
    * moves only if a new node draws a taller level — exactly what the
    * from-scratch build would do with the same arrival order. */
  def insertIntoShard(sh: Shard, newIds: Array[Long],
                      newVectors: Array[Array[Float]],
                      params: Params, metric: String): Shard = {
    if (sh.ids.isEmpty) return buildShard(newIds, newVectors, params, metric)
    if (newIds.isEmpty) return sh
    val n0 = sh.ids.length
    val n = n0 + newIds.length
    val ids = java.util.Arrays.copyOf(sh.ids, n)
    System.arraycopy(newIds, 0, ids, n0, newIds.length)
    val vectors = java.util.Arrays.copyOf(sh.vectors, n)
    System.arraycopy(newVectors, 0, vectors, n0, newVectors.length)
    val levels = java.util.Arrays.copyOf(sh.levels, n)
    val neighbors = new Array[Array[Array[Int]]](n)
    var i = 0
    while (i < n0) { neighbors(i) = sh.neighbors(i).clone(); i += 1 }
    while (i < n) {
      levels(i) = levelFor(ids(i), params.mL)
      neighbors(i) = Array.fill(levels(i) + 1)(Array.empty[Int])
      i += 1
    }
    insertSweep(ids, vectors, levels, neighbors, sh.entry, sh.maxLevel, n0,
      params, {
        val raw = VectorKernels.orderingDistance(metric) _
        if (n <= Vamana.MemoMaxRows) Vamana.memoDist(vectors, raw) else raw
      })
  }

  val graphSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType), nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("neighbors", ArrayType(ArrayType(IntegerType)), nullable = false),
    StructField("is_entry", BooleanType, nullable = false)))

  /** `assignCol`: optional spatial shard assignment — see
    * [[Vamana.build]]; identical contract. */
  def build(prepared: DataFrame, shards: Int, params: Params, metric: String,
            assignCol: Option[String] = None): DataFrame = assignCol match {
    case None =>
      prepared
        .repartition(shards, col("id"))
        .mapPartitions { rows =>
          val buf = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
          if (buf.isEmpty) Iterator.empty
          else {
            val shardId = TaskContext.getPartitionId()
            val sh = buildShard(buf.map(_._1), buf.map(_._2), params, metric)
            sh.ids.indices.iterator.map { label =>
              Row(shardId, label, sh.ids(label), sh.vectors(label).toSeq,
                sh.levels(label),
                sh.neighbors(label).map(_.toIndexedSeq).toIndexedSeq,
                label == sh.entry)
            }
          }
        }(Encoders.row(graphSchema))
    case Some(c) =>
      // exact one-shard-per-task build layout (see
      // Vamana.identityPartitionByIntKey — hash buckets collide shards
      // into serial two-graph straggler tasks)
      Vamana.identityPartitionByIntKey(
        prepared.select(col(c).cast("int").as("__sa"), col("id"), col("vector")),
        "__sa", shards)
        .mapPartitions { rows =>
          AnnIndex.groupedByIntKey(rows, _.getInt(0)).flatMap { case (sid, rs) =>
            val ids = new Array[Long](rs.length)
            val vecs = new Array[Array[Float]](rs.length)
            var i = 0
            rs.foreach { r =>
              ids(i) = r.getLong(1); vecs(i) = r.getSeq[Float](2).toArray; i += 1
            }
            val sh = buildShard(ids, vecs, params, metric)
            sh.ids.indices.iterator.map { label =>
              Row(sid, label, sh.ids(label), sh.vectors(label).toSeq,
                sh.levels(label),
                sh.neighbors(label).map(_.toIndexedSeq).toIndexedSeq,
                label == sh.entry)
            }
          }
        }(Encoders.row(graphSchema))
  }

  /** Batch search; see [[Vamana.searchBatch]] for the whole-shard
    * guarantee — identical contract: repartition by shard unless the caller
    * certifies pre-partitioned input, and validate label completeness;
    * returns the same unmerged per-shard candidates. */
  def searchBatch(spark: SparkSession, graphDf: DataFrame,
                  queries: Seq[(Int, Array[Float])], k: Int, ef: Int,
                  metric: String, cacheKey: Option[String] = None,
                  prePartitioned: Boolean = false, numShards: Int = 0,
                  codec: Option[graft.functions.VectorCodec] = None,
                  probes: Option[Map[Int, Array[Int]]] = None,
                  pinnedParts: Option[Int] = None,
                  liveShards: Option[Seq[Int]] = None): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    // quantized datasets store codes; decode once at shard decode (cached)
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf.select("shard", "label", "id", vecColName, "level",
      "neighbors", "is_entry", "seg")
    GraphBatchSearch.run(spark, graph0, queries, segIdx = 7,
      cacheKey = cacheKey, prePartitioned = prePartitioned,
      pinnedParts = pinnedParts, numShards = numShards,
      codecSpill = ShardSpillCodec, probes = probes, liveShards = liveShards,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        search(s, q, k, ef, dist).iterator.take(math.max(k, ef))
          .map { case (label, d) => (s.ids(label), d, label) }
      })
  }

  /** Expanding-beam range search (approximate; see [[GraphRange]]) — the
    * batch plumbing of [[searchBatch]] but ef doubles per query until the
    * layer-0 frontier passes `radius·(1+eps)`; every within-radius pool
    * entry is emitted, no top-k cut. */
  def rangeBatch(spark: SparkSession, graphDf: DataFrame,
                 queries: Seq[(Int, Array[Float])], radius: Double, eps: Double,
                 initEf: Int, maxEf: Int, metric: String,
                 cacheKey: Option[String] = None,
                 prePartitioned: Boolean = false, numShards: Int = 0,
                 codec: Option[graft.functions.VectorCodec] = None): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    val bcQueries = spark.sparkContext.broadcast(queries)
    val out = StructType(Seq(
      StructField("query_idx", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("_distance", DoubleType, nullable = false),
      StructField("seg", LongType, nullable = false)))
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf.select("shard", "label", "id", vecColName, "level",
      "neighbors", "is_entry", "seg")
    val graph =
      if (prePartitioned) graph0
      else if (numShards > 0) graph0.repartition(Vamana.shardPartitions(numShards), col("shard"))
      else graph0.repartition(col("shard"))
    graph.mapPartitions { rows =>
      val grouped = new scala.collection.mutable.LinkedHashMap[Int, ArrayBuffer[Row]]()
      rows.foreach { r => grouped.getOrElseUpdate(r.getInt(0), new ArrayBuffer[Row]) += r }
      grouped.iterator.flatMap { case (shardId, shardRows) =>
        val sh = cacheKey match {
          case Some(ck) => GraphShardCache.getOrBuild(s"$ck#$shardId", Some(ShardSpillCodec))(
            decodeShard(shardId, shardRows, codec))
          case None => decodeShard(shardId, shardRows, codec)
        }
        val segs = Vamana.segArray(shardRows, 7)
        bcQueries.value.iterator.flatMap { case (qi, q) =>
          GraphRange.expanding(radius, eps, initEf, maxEf)(
              ef => search(sh, q, ef, ef, dist))
            .map { case (label, d) => Row(qi, sh.ids(label), d, segs(label)) }
        }
      }
    }(Encoders.row(out))
  }

  /** Whole-shard rows (layout: shard, label, id, vector|codes, level,
    * neighbors, is_entry, ...) → in-memory [[Shard]], with the same
    * label-completeness validation as [[Vamana.decodeShard]]. */
  private[index] def decodeShard(shardId: Int, shardRows: collection.Seq[Row],
                                 codec: Option[graft.functions.VectorCodec]): Shard = {
    val n = shardRows.length
    var maxLabel = -1
    shardRows.foreach { r => val lb = r.getInt(1); if (lb > maxLabel) maxLabel = lb }
    if (maxLabel + 1 != n) throw new IllegalStateException(
      s"partial or duplicated graph shard $shardId: $n rows but max label $maxLabel — " +
        "input must deliver each shard's rows exactly once per task")
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val lvls = new Array[Int](n)
    val nbrs = new Array[Array[Array[Int]]](n)
    var entry = 0; var maxLevel = 0
    shardRows.foreach { r =>
      val label = r.getInt(1)
      ids(label) = r.getLong(2)
      vecs(label) = codec match {
        case Some(c) => c.decode(r.getAs[Array[Byte]](3))
        case None => r.getSeq[Float](3).toArray
      }
      lvls(label) = r.getInt(4)
      // Row gives mutable ArraySeq elements; scala.Seq (=immutable) would CCE
      nbrs(label) = r.getSeq[scala.collection.Seq[Int]](5).map(_.toArray).toArray
      if (r.getBoolean(6)) { entry = label; maxLevel = lvls(label) }
    }
    var i = 0
    while (i < n) {
      if (vecs(i) == null) throw new IllegalStateException(
        s"graph shard $shardId missing label $i — duplicate or dropped rows")
      i += 1
    }
    Shard(ids, vecs, lvls, nbrs, entry, maxLevel)
  }

  /** Table-input expanding-beam RANGE search with NO driver collect — the
    * batch form of [[rangeBatch]] on the [[GraphTableSearch]] plumbing;
    * `k <= 0` on the merge keeps every within-radius hit (no top-k cut).
    * Cost is geometric in the final ef per query, never a full scan. */
  def rangeTableDistributed(spark: SparkSession, graphDf: DataFrame,
                            queries: DataFrame, radius: Double, eps: Double,
                            initEf: Int, maxEf: Int, metric: String,
                            cacheKey: Option[String], shardIds: Seq[Int],
                            codec: Option[graft.functions.VectorCodec],
                            graphPrePartitioned: Boolean = false): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf.select("shard", "label", "id", vecColName, "level",
      "neighbors", "is_entry", "seg")
    GraphTableSearch.run(spark, graph0, queries, shardIds, k = -1, cacheKey,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        GraphRange.expanding(radius, eps, initEf, maxEf)(
            ef => search(s, q, ef, ef, dist))
          .iterator.map { case (label, d) => (s.ids(label), d, label) }
      },
      graphPrePartitioned = graphPrePartitioned,
      spill = Some(ShardSpillCodec))
  }

  /** Table-input batch search with NO driver collect (see
    * [[GraphTableSearch]]); value-identical to [[searchBatch]] at the same
    * ef. */
  def searchTableDistributed(spark: SparkSession, graphDf: DataFrame,
                             queries: DataFrame, k: Int, ef: Int, metric: String,
                             cacheKey: Option[String], shardIds: Seq[Int],
                             codec: Option[graft.functions.VectorCodec],
                             graphPrePartitioned: Boolean = false,
                             route: Option[org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column] = None): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf.select("shard", "label", "id", vecColName, "level",
      "neighbors", "is_entry", "seg")
    GraphTableSearch.run(spark, graph0, queries, shardIds, k, cacheKey,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        search(s, q, k, ef, dist).iterator.take(math.max(k, ef))
          .map { case (label, d) => (s.ids(label), d, label) }
      },
      graphPrePartitioned = graphPrePartitioned,
      spill = Some(ShardSpillCodec),
      route = route)
  }
}
