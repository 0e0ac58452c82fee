package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.types._

import graft.functions.AnnFunctions._
import graft.functions.VectorKernels
import graft.operators.TopK

/** An ANN index as a *dataset, not a process object* (SURVEY §7.0):
  * partitioned parquet `(id BIGINT, vector ARRAY<FLOAT>)` bucketed by
  * `list_id` (IVF cell / FLAT single cell), plus `meta.json`, a `centroids`
  * dataset (IVF), and a tombstone delete-log dataset.
  *
  * Replaces the reference's in-memory/mmap index object
  * (reference: src/include/diskann_index.hpp:144-149 — label↔rowid maps and
  * tombstone set become columns and a delete-log DataFrame;
  * src/faiss_index.cpp:301-319 — IVF train/assign).
  *
  * Scale posture: searches prune parquet partitions by `list_id` (nprobe of
  * nlist directories are read at all), distances run in whole-stage codegen,
  * and top-k reduces map-side before any shuffle (TopK.grouped). The only
  * driver-side state is the centroid table (nlist × dim floats).
  */
class AnnIndex(val spark: SparkSession, val path: String) {

  @volatile var meta: IndexMeta = IndexMeta.read(path)

  private def dataPath = s"$path/data"
  private def deletesPath = s"$path/deletes"
  private def centroidsPath = s"$path/centroids"

  /** Optional in-memory pin of the index dataset — the Spark analogue of
    * the reference's in-memory index object (SURVEY §2.11: cached
    * DataFrames replace mmap). Repeated query batches then skip the
    * parquet scan entirely. Invalidated by insert/vacuum.
    *
    * Graph engines pin the dataset ALREADY hash-partitioned by `shard`
    * (one shuffle at pin time), so every subsequent query batch satisfies
    * the whole-shard-per-task contract without re-shuffling the index —
    * at scale the difference between touching cached shards and moving
    * the full graph over the network per batch. */
  @volatile private var pinned: Option[DataFrame] = None
  // the pin's exact partition count, recorded AT PIN TIME — downstream
  // search plumbing keys its layout cache and partition pruning on it
  // without a per-call plan-to-RDD conversion, and without assuming the
  // sizing formula stays in sync with persist() (it is the same value by
  // construction here, recorded rather than re-derived)
  @volatile private var pinnedPartsVar: Option[Int] = None
  // a mutation dropped the pin: persist() is a STANDING request, so the
  // next read re-pins the post-mutation dataset instead of silently
  // serving parquet forever (cleared only by an explicit unpersist())
  @volatile private var repinOnRead = false

  def persist(): this.type = synchronized {
    if (pinned.isEmpty) {
      val raw = readData()
      val (laidOut, parts) =
        if (isGraphEngine) {
          val p = Vamana.shardPartitions(math.max(1, meta.param("shards", 1)))
          (raw.repartition(p, col("shard")), Some(p))
        } else (raw, None)
      val df = laidOut.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize now
      pinned = Some(df)
      pinnedPartsVar = parts
    }
    this
  }

  def unpersist(): this.type = synchronized {
    pinned.foreach(_.unpersist())
    pinned = None
    pinnedPartsVar = None
    repinOnRead = false // explicit opt-out ends the standing pin request
    this
  }

  /** Whether reads currently serve from the pinned (cached) dataset. */
  def isPinned: Boolean = pinned.isDefined

  /** Run `body` as THE writer for this index — the cross-driver mutation
    * contract (README "Concurrent writers"). Every mutation entry point
    * wraps its WHOLE body (data writes, destructive replaces, the meta
    * publish) here: same-driver mutations serialize on a reentrant JVM
    * lock, cross-process writers serialize on an OS advisory file lock
    * (crash-released), and a writer whose instance is BEHIND the on-disk
    * publish generation — another driver published since this instance
    * last synced — fails fast BEFORE any destructive step runs. On
    * conflict this instance resyncs from disk (meta + caches) so it is
    * immediately reusable for a retry on the fresh state. */
  private def asWriter[T](body: => T): T =
    try IndexMeta.withWriter(path)(IndexMeta.publishGen(meta))(body)
    catch {
      case e: IndexMeta.ConcurrentWriteException =>
        meta = IndexMeta.read(path)
        invalidatePin()
        centroidsCache = null
        invalidateSummaries()
        throw e
    }

  /** The single meta-publish of a mutation: generation-CAS'd and stamped
    * (see [[IndexMeta.publish]]); the stamped meta becomes this
    * instance's truth only on success. */
  private def publishMeta(newMeta: IndexMeta): Unit =
    meta = IndexMeta.publish(path, newMeta, IndexMeta.publishGen(meta))

  private def invalidatePin(): Unit = synchronized {
    if (pinned.isDefined) {
      pinned.foreach(_.unpersist())
      pinned = None
      pinnedPartsVar = None
      repinOnRead = true
    }
  }

  /** Exact stored schema of the graph dataset (manifest layout), supplied
    * to every graph parquet read: Spark then SKIPS the footer-inference
    * job it otherwise runs per `spark.read.parquet` call — one fewer job
    * on every unpinned search and on every phase of a mutation (the
    * online-insert per-batch floor decomposition flagged these). The
    * layout is fully writer-controlled (this class + the builders), so
    * the schema is knowledge, not a guess. */
  private def graphDataSchema: StructType = {
    val vecField =
      if (meta.quantized) StructField("codes", BinaryType)
      else StructField("vector", ArrayType(FloatType))
    StructType(Seq(
      StructField("shard", IntegerType),
      StructField("label", IntegerType),
      StructField("id", LongType),
      vecField) ++
      (if (meta.engine == "HNSW")
        Seq(StructField("level", IntegerType),
          StructField("neighbors", ArrayType(ArrayType(IntegerType))))
      else Seq(StructField("neighbors", ArrayType(IntegerType)))) ++
      Seq(StructField("is_entry", BooleanType),
        StructField("seg", LongType)))
  }

  /** Schema-supplied graph read over specific shard dirs (see
    * [[graphDataSchema]]); shared by data reads, the online rewrite's
    * written-count, and summary computation. */
  private def readGraphShards(ids: Seq[Int]): DataFrame =
    spark.read.option("basePath", dataPath).schema(graphDataSchema)
      .parquet(ids.map(s => s"$dataPath/shard=$s"): _*)

  /** The index dataset as a reader may see it. Graph engines go through
    * the shard manifest (`meta.liveShards`): only dirs named by the
    * atomically-published manifest are read, so in-flight or crashed
    * writers' dirs are invisible — the read side of the copy-on-write
    * commit protocol (see `IndexMeta.liveShards`). FLAT/IVF append into
    * hive `list_id` dirs and keep the plain dataset read (their only
    * crash window is insert's documented append-vs-meta redo, handled by
    * streaming batch-id replay detection). */
  private def readData(): DataFrame = meta.liveShards match {
    case Some(live) if isGraphEngine =>
      if (live.isEmpty) emptyGraphData
      else readGraphShards(live)
    case _ => spark.read.parquet(dataPath)
  }

  /** Zero-row frame in the stored graph layout (fully-vacuumed index) —
    * the same engine-aware schema reads use, so an HNSW empty read still
    * carries its `level` column. */
  private def emptyGraphData: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], graphDataSchema)

  /** Live shard ids (manifest, or dir listing for legacy layouts). */
  private def liveShardIds: Seq[Int] =
    meta.liveShards.getOrElse(IndexMeta.listShardDirs(dataPath))

  def data: DataFrame = {
    // re-pin lazily after a mutation (first post-mutation read pays the
    // one repartition+cache pass; every later batch serves from memory
    // again — the behavior a serving loop that called persist() expects)
    if (repinOnRead && pinned.isEmpty) persist()
    pinned.getOrElse(readData())
  }

  def hasDeletes: Boolean = IndexMeta.existsDir(deletesPath)

  /** Current insert epoch. Every data row carries the epoch (`seg`) of the
    * insert batch that wrote it; tombstones record the epoch at delete
    * time. A row is dead iff a tombstone for its id has seg >= the row's
    * seg — so deleting an id and re-inserting it later (the standard CDC
    * update encoding) leaves the NEW row visible, like the reference's
    * rowid-keyed tombstones where a re-insert is a fresh rowid
    * (src/diskann_index.cpp:316-385). */
  def currentSeg: Long = meta.params.get("seg").map(_.toLong).getOrElse(0L)

  def deletes: DataFrame =
    if (hasDeletes) spark.read.parquet(deletesPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("seg", LongType))))

  /** THE epoch tombstone rule, defined once: a tombstone (id, s) masks a
    * row iff the row's insert epoch is at or before it (row.seg <= s) —
    * see [[currentSeg]] for why a re-inserted id outlives its delete.
    * `joinType` picks the survivors ("left_anti" — the mask) or the masked
    * rows themselves ("left_semi" — recounts). `df` must expose `id` and
    * `seg`. Callers gate on [[hasDeletes]] (or use [[maskDead]]). */
  private def joinDead(df: DataFrame, joinType: String): DataFrame = {
    val d = deletes.select(col("id").as("__did"), col("seg").as("__dseg"))
    df.join(broadcast(d),
      df("id") === col("__did") && df("seg") <= col("__dseg"), joinType)
  }

  private def maskDead(df: DataFrame): DataFrame =
    if (hasDeletes) joinDead(df, "left_anti") else df

  /** Live rows = data minus epoch-masked tombstones (reference filters
    * post-search, src/diskann_index.cpp:584-592; an anti-join before top-k
    * keeps exactness without the k+|deleted| overfetch). */
  def live: DataFrame = maskDead(data)

  /** IVF centroids, collected once per index instance (nlist × dim — tiny;
    * re-read after [[rebalanceCells]] swaps the cell set). */
  @volatile private var centroidsCache: Array[(Int, Array[Float])] = _
  def centroids: Array[(Int, Array[Float])] = {
    var c = centroidsCache
    if (c == null) {
      c = if (meta.engine != "IVF") Array((0, Array.empty[Float]))
      else spark.read.parquet(centroidsPath)
        .collect()
        .map(r => (r.getAs[Int]("list_id"), r.getAs[Seq[Float]]("centroid").toArray))
        .sortBy(_._1)
      centroidsCache = c
    }
    c
  }

  def centroidsDf: DataFrame = spark.read.parquet(centroidsPath)

  /** SQ8 params when the index stores u8 codes (sq8 only; fp16 is
    * parameter-free). */
  lazy val quantParams: Option[graft.functions.Sq8.QuantParams] =
    if (!meta.params.get("quantization").contains("sq8")) None
    else {
      val rows = spark.read.parquet(s"$path/quant").collect()
        .map(r => (r.getAs[Int]("dim"), r.getAs[Float]("vmin"), r.getAs[Float]("scale")))
        .sortBy(_._1)
      Some(graft.functions.Sq8.QuantParams(rows.map(_._2), rows.map(_._3)))
    }

  /** PQ codebooks when the index stores product-quantized codes. Collected
    * once per index instance (m × ksub rows of dsub floats — for dim 768,
    * m=96 that's ~75 MB at most; typical geometries are a few MB). */
  lazy val pqBooks: Option[graft.functions.Pq.Codebooks] =
    if (!meta.params.get("quantization").contains("pq")) None
    else {
      val m = meta.param("pq_m", 0)
      val ksub = meta.param("pq_ksub", 256)
      require(m > 0 && meta.dim % m == 0,
        s"index ${meta.name}: invalid persisted pq_m=$m for dim=${meta.dim}")
      val dsub = meta.dim / m
      val flat = new Array[Float](m * ksub * dsub)
      spark.read.parquet(s"$path/pq").collect().foreach { r =>
        val sub = r.getAs[Int]("sub")
        val code = r.getAs[Int]("code")
        val cent = r.getSeq[Float](r.fieldIndex("centroid"))
        // Validate persisted geometry: a corrupted $path/pq table must fail
        // with the index name, not silently mis-populate codebooks.
        require(sub >= 0 && sub < m && code >= 0 && code < ksub,
          s"index ${meta.name}: pq centroid (sub=$sub, code=$code) outside " +
            s"persisted geometry m=$m ksub=$ksub at $path/pq")
        require(cent.length == dsub,
          s"index ${meta.name}: pq centroid (sub=$sub, code=$code) has " +
            s"${cent.length} dims, expected dsub=$dsub (dim=${meta.dim}, m=$m)")
        val base = (sub * ksub + code) * dsub
        var j = 0
        cent.foreach { x => flat(base + j) = x; j += 1 }
      }
      Some(graft.functions.Pq.Codebooks(m, ksub, dsub, flat))
    }

  /** Stored-vector codec (None = plain float32 storage). */
  lazy val codec: Option[graft.functions.VectorCodec] =
    graft.functions.VectorCodec.forQuantization(
      meta.params.get("quantization"), quantParams, pqBooks, meta.dim,
      meta.params.get("rabitq_seed").map(_.toLong).getOrElse(42L))

  /** Name of the stored vector column: float array, or SQ8 codes. */
  def dataVecCol: String = if (meta.quantized) "codes" else "vector"

  /** Adaptive probing (create param `adaptive_nprobe=true`): instead of a
    * fixed cell count, probe every cell whose centroid distance is within
    * `nprobe_ratio` × the nearest centroid's distance (ratio of SQUARED L2,
    * so 4.0 ≈ 2× in actual distance). The distance-ratio prune is the
    * posting-list selection rule SPANN uses at billion scale (Chen et al.,
    * NeurIPS'21 §4.2): queries deep inside one cluster touch one cell,
    * boundary queries fan out — per-query cost tracks per-query ambiguity.
    * `nprobe` stays the floor and `nprobe_max` the cap; an explicit
    * searchParam always bypasses adaptivity (caller knows best). */
  private def adaptiveEnabled: Boolean =
    meta.params.get("adaptive_nprobe").exists(_.equalsIgnoreCase("true"))

  private def nprobeRatio: Double =
    meta.params.get("nprobe_ratio").map(_.toDouble).getOrElse(4.0)

  /** The probe cells for a query (L2 assignment, as faiss IVF): nearest
    * `nprobe` cells, widened/narrowed per query when adaptive probing is
    * allowed and enabled. Driver-side over the broadcast-size centroid
    * table — no extra pass over data. */
  def probeLists(q: Array[Float], nprobe: Int,
                 allowAdaptive: Boolean = false): Seq[Int] = {
    if (meta.engine == "FLAT") return Seq(0)
    val sorted = centroids
      .map { case (lid, c) => (lid, VectorKernels.l2Sq(q, c)) }
      .sortBy { case (lid, d) => (d, lid) }
    val n =
      if (allowAdaptive && adaptiveEnabled) {
        val cut = sorted.head._2 * nprobeRatio
        val within = sorted.segmentLength(_._2 <= cut) // prefix of the sort
        val cap = math.min(sorted.length, meta.param("nprobe_max", sorted.length))
        math.min(cap, math.max(math.max(1, nprobe), within))
      } else math.max(1, nprobe)
    sorted.take(n).map(_._1).toSeq
  }

  /** Query prepared for this index's metric (cosine → L2-normalized,
    * matching normalize-at-build + IP, SURVEY §2.7). */
  def prepQuery(q: Array[Float]): Array[Float] =
    if (meta.metric == "cosine") VectorKernels.normalize(q) else q

  /** Ordering-oriented distance column over FLOAT vectors (lower = better):
    * l2 → squared L2 (reference index semantics, diskann_basic.test:35-38),
    * ip → negated dot (rust_lib/src/distance.rs:20-23),
    * cosine → 1 - dot over normalized vectors. */
  def floatDistColumn(vec: Column, query: Column): Column = meta.metric match {
    case "l2"     => l2_distance_sq(vec, query)
    case "ip"     => negate(inner_product(vec, query))
    case "cosine" => lit(1.0) - inner_product(vec, query)
    case m        => throw new IllegalArgumentException(s"unknown metric: $m")
  }

  /** Like [[floatDistColumn]] but correct for RAW (not build-normalized)
    * vectors, e.g. base-table columns in a brute-force fallback: cosine uses
    * the full `1 - cosine_similarity` (the stored-vector shortcut `1 - dot`
    * assumes unit vectors and mis-ranks raw ones). */
  def rawDistColumn(vec: Column, query: Column): Column = meta.metric match {
    case "cosine" => lit(1.0) - cosine_similarity(vec, query)
    case _        => floatDistColumn(vec, query)
  }

  /** Storage-aware distance: quantized indexes decode-on-access inside
    * the codegen'd loop; float indexes use the plain expressions. `vec`
    * must be the [[dataVecCol]] column. */
  def distColumn(vec: Column, query: Column): Column = codec match {
    case Some(graft.functions.Sq8Codec(p)) =>
      // "cosine" renormalizes inside the kernel, absorbing quantization
      // drift of the build-time-normalized vectors
      org.apache.spark.sql.GraftBridge.column(graft.functions.Sq8Distance(
        org.apache.spark.sql.GraftBridge.expression(vec),
        org.apache.spark.sql.GraftBridge.expression(query),
        p.mins, p.scales, meta.metric))
    case Some(graft.functions.Fp16Codec) =>
      org.apache.spark.sql.GraftBridge.column(graft.functions.Fp16Distance(
        org.apache.spark.sql.GraftBridge.expression(vec),
        org.apache.spark.sql.GraftBridge.expression(query),
        meta.metric))
    case Some(graft.functions.PqCodec(books)) =>
      // a literal query folds the codebooks into ADC lookup tables (O(m)
      // per row); a column query decodes-on-access (O(dim), like sq8/fp16)
      org.apache.spark.sql.GraftBridge.column(graft.functions.PqDistance(
        org.apache.spark.sql.GraftBridge.expression(vec),
        org.apache.spark.sql.GraftBridge.expression(query),
        books, meta.metric))
    case Some(graft.functions.BqCodec(d)) =>
      // Hamming-ordered angular estimate (cosine metric only — enforced at
      // create): a literal query folds to packed sign bits, per-row work is
      // XOR+popcount over d/8 bytes
      org.apache.spark.sql.GraftBridge.column(graft.functions.BqDistance(
        org.apache.spark.sql.GraftBridge.expression(vec),
        org.apache.spark.sql.GraftBridge.expression(query),
        d, meta.metric))
    case Some(graft.functions.RabitqCodec(d, seed)) =>
      // asymmetric RaBitQ estimator (all metrics — r/cf trailers carry
      // magnitude): a literal query folds to per-byte ADC lookup tables
      org.apache.spark.sql.GraftBridge.column(graft.functions.RabitqDistance(
        org.apache.spark.sql.GraftBridge.expression(vec),
        org.apache.spark.sql.GraftBridge.expression(query),
        d, seed, meta.metric))
    case None => floatDistColumn(vec, query)
  }

  def defaultNprobe: Int = meta.param("nprobe", 1)

  /** S1/S2 `*_index_scan`: raw index search → (id, _distance), pre-sorted,
    * no base-row fetch (reference: src/diskann_functions.cpp:34-125).
    *
    * @param searchParam engine-specific: IVF nprobe; DISKANN
    *                    search_complexity (beam width override). */
  /** Radius (range) search: every live row whose index distance (squared
    * L2 / negated IP / 1-cos — the `_distance` scale used everywhere) is
    * within `radius`, ordered by distance. faiss exposes this as
    * range_search (public API); the reference surfaces only top-k.
    * Exact on FLAT. Exact on IVF too, by default: each cell stores its
    * max member distance (see create), so the triangle inequality
    * d(q, centroid) <= r + cell_radius prunes to exactly the cells a
    * match can live in — partition-pruned AND exact, the posture that
    * matters when nlist is large. An explicit `searchParam` overrides
    * with a plain nprobe cap (approximate, the top-k probing contract).
    * Graph engines have no range structure — the scan is the exhaustive
    * distance filter, which is also what makes it exact; it runs as
    * partition-parallel codegen over the (possibly pinned) dataset,
    * never a beam search. On quantized storage (sq8/fp16/pq) "exact"
    * means exact over the STORED representation: the boundary is
    * measured on decoded/ADC distances, so rows within quantization
    * error of the radius can flip sides vs float storage. */
  def rangeScan(q: Array[Float], radius: Double, searchParam: Int = -1): DataFrame = {
    val qq = prepQuery(q)
    val base =
      if (isGraphEngine) live
      else if (searchParam > 0)
        pruneToLists(live, probeLists(qq, searchParam, allowAdaptive = false))
      else pruneToLists(live, rangeProbeLists(qq, radius))
    base.withColumn("_distance", distColumn(col(dataVecCol), typedLit(qq)))
      .filter(col("_distance") <= radius)
      .select("id", "_distance")
      .orderBy(col("_distance"), col("id"))
  }

  /** Expanding-beam range search for graph engines — the OPT-IN
    * approximate alternative to [[rangeScan]]'s exact exhaustive default
    * (graph adjacency has no radius certificate, so exact means full
    * scan). Per shard the beam doubles until the result frontier passes
    * `radius·(1+eps)` or the reachable component is exhausted (see
    * [[GraphRange]]; faiss IndexHNSW range_search pattern) — cost is
    * geometric in the final beam width, never the full index. Recall vs
    * the exact scan is measured by [[graft.operators.Recall.rangeRecall]]
    * and floors are asserted in VamanaSpec/HnswSpec; an exhaustive beam
    * (searchParam > n) is asserted EQUAL to [[rangeScan]] there,
    * including the tombstone mask. The batch/table form is
    * [[rangeBeamTable]] (opt-in from [[rangeScanTable]] via
    * `spark.ann.rangeBeam=true`).
    *
    * @param eps safety margin on the ENGINE distance scale (squared-L2
    *            for l2): larger eps → beam runs farther past the ball →
    *            higher recall, more work
    * @param searchParam initial beam width (default: build complexity /
    *            ef_construction); the width cap is
    *            [[AnnIndex.RangeBeamMaxWidth]] */
  def rangeScanBeam(q: Array[Float], radius: Double,
                    eps: Double = AnnIndex.RangeBeamEps,
                    searchParam: Int = -1): DataFrame = {
    require(isGraphEngine,
      "rangeScanBeam: graph engines only — IVF/FLAT range search is exact via rangeScan")
    val qq = prepQuery(q)
    val ck = shardCacheKey
    val (src, prePart) = pinnedSource
    val nShards = math.max(1, meta.param("shards", 1))
    val maxW = AnnIndex.RangeBeamMaxWidth
    val res = meta.engine match {
      case "DISKANN" =>
        val p = Vamana.Params.from(meta)
        val initL = math.max(16, if (searchParam > 0) searchParam else p.buildComplexity)
        Vamana.rangeBatch(spark, src, Seq((0, qq)), radius, eps, initL, maxW,
          meta.metric, ck, prePart, nShards, codec)
      case _ =>
        val p = Hnsw.Params.from(meta)
        val initEf = math.max(16, if (searchParam > 0) searchParam else p.efConstruction)
        Hnsw.rangeBatch(spark, src, Seq((0, qq)), radius, eps, initEf, maxW,
          meta.metric, ck, prePart, nShards, codec)
    }
    // tombstone mask only — range semantics keep every surviving match,
    // there is no k to re-cut (cf. cleanGraphHits)
    val cleaned = maskDead(res)
    cleaned.drop("seg")
      .select("id", "_distance")
      .orderBy(col("_distance"), col("id"))
  }

  /** Table-input range search: every (query, row) pair within `radius`
    * (engine distance scale, squared-L2 for l2) — the batch form of
    * [[rangeScan]], fully distributed on both sides. IVF/l2 with tracked
    * cell radii prunes PER QUERY via the same triangle inequality as
    * [[rangeProbeLists]], as a join against the broadcast nlist-row
    * centroid table (exact — radii are maintained upper bounds); other
    * engines/metrics score exhaustively, which is the irreducible work
    * without cell bounds (graph adjacency gives top-k guidance, not
    * radius certificates). Graph engines can OPT IN to the approximate
    * expanding-beam path instead (`spark.ann.rangeBeam=true`, default
    * off = exact): the batch form of [[rangeScanBeam]] on the
    * [[GraphTableSearch]] plumbing — per (shard, query) beam cost is
    * geometric in the final width, never the full-index distance scan,
    * with [[AnnIndex.RangeBeamEps]] as the recall margin.
    *
    * @param queries exactly (__qid, __qvec float[]) — already prepped
    *                (cosine-normalized, nulls handled) by the caller
    * @return (__qid, id, _distance), unordered */
  private[graft] def rangeScanTable(queries: DataFrame, radius: Double): DataFrame = {
    import graft.functions.AnnFunctions.l2_distance_sq
    if (isGraphEngine &&
        spark.conf.get("spark.ann.rangeBeam", "false").toBoolean)
      return rangeBeamTable(queries, radius)
    val prunable = meta.engine == "IVF" && meta.metric == "l2" &&
      centroidsDf.columns.contains("radius")
    val pairs =
      if (prunable) {
        val rQ = math.sqrt(math.max(radius, 0.0))
        val cents = centroidsDf.select(col("list_id"),
          col("centroid").as("__cent"), col("radius").as("__crad"))
        val qCells = queries.join(broadcast(cents),
            sqrt(l2_distance_sq(col("__qvec"), col("__cent")))
              <= lit(rQ) + col("__crad") + lit(1e-9))
          .select(col("__qid"), col("__qvec"), col("list_id"))
        live.join(qCells, Seq("list_id"))
      } else live.crossJoin(queries)
    pairs
      .withColumn("_distance", distColumn(col(dataVecCol), col("__qvec")))
      .filter(col("_distance") <= radius)
      .select("__qid", "id", "_distance")
  }

  /** Batch expanding-beam range search for graph engines — [[rangeScanBeam]]
    * semantics over a query RELATION, on the distributed
    * [[GraphTableSearch]] plumbing (zip when pinned, cogroup otherwise):
    * no driver collect of queries, no full-index scan, tombstone mask
    * applied with NO k re-cut (range keeps every surviving match).
    *
    * @param queries exactly (__qid, __qvec float[]) — already prepped
    * @return (__qid, id, _distance), unordered */
  private[graft] def rangeBeamTable(queries: DataFrame, radius: Double,
                                    eps: Double = AnnIndex.RangeBeamEps,
                                    searchParam: Int = -1): DataFrame = {
    require(isGraphEngine, "rangeBeamTable: graph engines only")
    val ck = shardCacheKey
    val (src, prePart) = pinnedSource
    val maxW = AnnIndex.RangeBeamMaxWidth
    val res = meta.engine match {
      case "DISKANN" =>
        val p = Vamana.Params.from(meta)
        val initL = math.max(16, if (searchParam > 0) searchParam else p.buildComplexity)
        Vamana.rangeTableDistributed(spark, src, queries, radius, eps, initL,
          maxW, meta.metric, ck, liveShardIds, codec, graphPrePartitioned = prePart)
      case _ =>
        val p = Hnsw.Params.from(meta)
        val initEf = math.max(16, if (searchParam > 0) searchParam else p.efConstruction)
        Hnsw.rangeTableDistributed(spark, src, queries, radius, eps, initEf,
          maxW, meta.metric, ck, liveShardIds, codec, graphPrePartitioned = prePart)
    }
    val cleaned = maskDead(res)
    cleaned.drop("seg").select("__qid", "id", "_distance")
  }

  /** Cells a within-`radius` match can live in. l2 with tracked radii →
    * triangle-inequality prune (exact — radii are maintained upper
    * bounds: create computes them, insert extends, deletes only shrink
    * the truth). Non-l2 metrics and legacy centroid datasets without a
    * radius column fall back to every cell, which stays exact by
    * exhaustiveness. Driver-side over the nlist-row centroid table. */
  private[graft] def rangeProbeLists(q: Array[Float], radius: Double): Seq[Int] = {
    val all = centroids.map(_._1).toSeq
    if (meta.engine != "IVF" || meta.metric != "l2") return all
    val cdf = centroidsDf
    if (!cdf.columns.contains("radius")) return all
    val rQ = math.sqrt(math.max(radius, 0.0)) // radius is squared-L2 scale
    cdf.collect().iterator.flatMap { r =>
      val d = math.sqrt(VectorKernels.l2Sq(q, r.getAs[Seq[Float]]("centroid").toArray))
      if (d <= rQ + r.getAs[Double]("radius") + 1e-9) Some(r.getAs[Int]("list_id"))
      else None
    }.toSeq.sorted
  }

  def scan(q: Array[Float], k: Int, searchParam: Int = -1): DataFrame = {
    if (isGraphEngine) {
      // one query needs no grouped merge shuffle: the per-shard candidates
      // go straight into one ordered take (a single job over the scheduled
      // partitions). With tombstones the batch path's k+|deleted| cut runs
      // before the mask, so both paths keep the same survivors.
      val (cands, kk) = graphCandidates(Seq((0, prepQuery(q))), k, searchParam)
      val live =
        if (hasDeletes) maskDead(cands.orderBy(col("_distance"), col("id")).limit(kk))
        else cands
      return live.select("id", "_distance")
        .orderBy(col("_distance"), col("id"))
        .limit(k)
    }
    val qq = prepQuery(q)
    val np = if (searchParam > 0) searchParam else defaultNprobe
    val probed = pruneToLists(live, probeLists(qq, np, allowAdaptive = searchParam <= 0))
    probed
      .withColumn("_distance", distColumn(col(dataVecCol), typedLit(qq)))
      .select("id", "_distance")
      .orderBy(col("_distance"), col("id"))
      .limit(k)
  }

  /** DISKANN batch graph search with tombstone overfetch: beam width
    * l = max(k, search_complexity or build_complexity) plus |deleted|
    * (reference: rust_lib/src/index_manager.rs:344-350,
    * src/diskann_index.cpp:558-561). */
  def isGraphEngine: Boolean = meta.engine == "DISKANN" || meta.engine == "HNSW"

  // ---- shard routing (graph engines; see ShardSummaries) ----

  /** Driver-cached shard summaries; null = not loaded yet. Invalidated by
    * every mutation that touches the shard set (same sites as the pin). */
  @volatile private var summariesCache: Array[ShardSummaries.Summary] = _
  /** Lazily computed digest of `summariesCache`, PAIRED with the exact
    * array it was computed from (a bare Long could be read against a
    * different cache generation under a racing invalidation+refill and
    * trigger a spurious invalidate). Null until first use; dropped with
    * the cache. The refresh fast path compares file vs cache by digest,
    * and hashing ~O(shards×dim) of resident centroids on EVERY stats
    * call would defeat that path's purpose. */
  @volatile private var summariesDigestPair
      : (Array[ShardSummaries.Summary], Long) = _
  /** Monotonic version for the router cache below: bumped by every
    * invalidation, so a router built from pre-mutation summaries can
    * never be served after the mutation — even when a vacuum reuses the
    * same shard ids, and even if an invalidation lands mid-build (the
    * build's result is then returned unstored). AtomicLong + the
    * `synchronized` store in [[routerFor]]: a racing bump always wins
    * (a volatile `+= 1` could lose increments under concurrent
    * mutations, letting a pre-mutation router match the current
    * version). */
  private val summariesVersion = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Driver-cached routing decision per (summaries version, coarse
    * confs): a cache HIT is O(1) — no per-call coverage scan — which
    * matters at the 100k-shard shape where even rebuilding the covered
    * set per search call would be a linear fixed cost. Invalidation
    * marks the entry STALE (version mismatch) but keeps it: the stale
    * router is the incremental-patch base for the next build (see
    * [[ShardSummaries.Router.patch]]) — a mutation's router upkeep is
    * then O(changed shards), not a full coarse rebuild per online
    * batch. */
  @volatile private var routerCache: AnnIndex.RouterCacheEntry = _
  /** The most recent router that carried a coarse graph — the incremental
    * patch base, held SEPARATELY from the entry cache so neither
    * invalidation nor a coverage-gap (router=None) entry can evict it
    * (losing it downgrades the next build from an O(changed) patch to a
    * full rebuild). One Router object of O(shards×dim) per index, by
    * design — the same order as the summaries themselves. */
  @volatile private var patchBaseVar: ShardSummaries.Router = _
  private[index] def invalidateSummaries(): Unit = synchronized {
    summariesCache = null
    summariesDigestPair = null
    val rc = routerCache
    if (rc != null) rc.unpersistBroadcast() // executors re-fetch next version
    summariesVersion.incrementAndGet()
  }

  /** Summaries usable for routing: Some iff every live shard has EXACTLY
    * one summary (unknown ids — dead shards' leftovers — are ignored).
    * Any gap means a write landed without its summary (crash between the
    * meta publish and the summary merge, or a legacy index): routing
    * falls back to walk-all, which is always correct, and
    * [[refreshShardSummaries]] restores coverage on demand. */
  private def routingSummaries: Option[Array[ShardSummaries.Summary]] = {
    var s = summariesCache
    if (s == null) {
      // Capture the version BEFORE the disk read and store only if no
      // invalidation landed in between (mirrors the summariesDigestPair
      // store): a thread that read pre-mutation summaries.bin must not
      // refill the cache after invalidateSummaries() nulled it, or a
      // later routerEntryFor at the NEW version would build and cache a
      // pre-mutation router as current (vacuum reuses shard ids — the
      // stale centroids would route until the next mutation).
      val v0 = summariesVersion.get()
      s = ShardSummaries.read(path).getOrElse(Array.empty)
      synchronized {
        if (summariesVersion.get() == v0 && summariesCache == null)
          summariesCache = s
      }
    }
    val live = liveShardIds
    val liveSet = live.toSet
    val covered = s.filter(x => liveSet(x.shard))
    if (covered.length == live.size &&
        covered.iterator.map(_.shard).toSet.size == live.size)
      Some(covered)
    else None
  }

  /** The per-query probe width: `spark.ann.shardProbes` (0/absent = off —
    * walk every live shard, the exact-compat default). */
  private def shardProbes: Int =
    spark.conf.get("spark.ann.shardProbes", "0").toInt

  /** Routing decision shared by the broadcast and table paths: Some
    * whenever probing is on and summaries fully cover the manifest. A
    * width at or above the live count still goes THROUGH the router
    * (topShards clamps to all shards, in distance order, bypassing the
    * coarse level) — value-identical to walk-all, which is what lets a
    * strict-oracle row pin the routing plumbing itself.
    *
    * Above [[AnnIndex.RouteCoarseThreshold]] live shards the
    * router carries a coarse cell level (see [[ShardSummaries.Router]])
    * that keeps per-query routing O(√shards × dim) — the 100 TB shape has
    * 100k+ shards, where a flat per-query centroid scan is the next
    * linear wall. Built once per summaries version and cached. */
  private def routerFor(s: Int): Option[ShardSummaries.Router] =
    routerEntryFor(s).flatMap(_.router)

  /** The cache-entry form of [[routerFor]] — the table path needs the
    * ENTRY to reuse its pinned `Broadcast[Router]` across calls. */
  private def routerEntryFor(s: Int): Option[AnnIndex.RouterCacheEntry] = {
    if (s <= 0 || !isGraphEngine) return None
    val v0 = summariesVersion.get()
    val cached = routerCache
    if (cached != null && cached.version == v0) return Some(cached)
    // the dedicated patch-base slot: the coarse GRAPH depends only on the
    // summary set, so reconciling the most recent one beats rebuilding
    // regardless of why the entry cache missed
    val base = Option(patchBaseVar)
    val built = routingSummaries.map(covered =>
      // cachePath: the coarse graph persists next to summaries.bin
      // (digest-validated), so a fresh driver skips the rebuild — once
      // per summaries version, not per session
      ShardSummaries.Router.build(covered, meta.metric,
        AnnIndex.RouteCoarseThreshold, AnnIndex.RouteOverscan,
        cachePath = Some(path), base = base))
    val entry = AnnIndex.RouterCacheEntry(v0, built)
    // store only if no invalidation landed while building — a racing
    // mutation's version bump must win (the stale router is still
    // RETURNED for this in-flight call, which read its summaries before
    // the mutation's copy-on-write commit: same outcome as a search that
    // started a moment earlier). The synchronized re-check pairs with
    // invalidateSummaries' synchronized bump: the bump either lands
    // first (this store is skipped) or after (the stored entry's version
    // no longer matches — a plain stale entry).
    synchronized {
      // the patch base updates on EVERY coarse-carrying build (even one a
      // racing bump keeps out of the entry cache — it is still the
      // freshest graph content available to the next reconcile)
      for (r <- built; if r.coarse.isDefined) patchBaseVar = r
      if (summariesVersion.get() == v0) {
        if (cached != null && (cached ne entry)) cached.unpersistBroadcast()
        routerCache = entry // coverage-gap None entries cache negatively
        // too — a PERSISTENT gap (crash-deleted summaries, never
        // repaired) must not pay an O(shards) coverage scan per call
      }
    }
    Some(entry)
  }

  /** Spec/scale-arm accessor: the current router cache entry, if one is
    * stored (stale entries — version behind — included; the patch base
    * lives in its own slot). */
  private[graft] def routerCacheEntry: Option[AnnIndex.RouterCacheEntry] =
    Option(routerCache)

  /** Release the pinned router broadcast (instance-cache eviction hook):
    * the router object itself stays usable as a patch base; the next
    * table search re-broadcasts on demand. */
  private[index] def releaseRouterBroadcast(): Unit = {
    val rc = routerCache
    if (rc != null) rc.unpersistBroadcast()
  }

  /** Spec/scale-arm accessor: current summaries version. */
  private[graft] def summariesVersionNow: Long = summariesVersion.get()

  /** Coarse-router observability for `ann_routing_info`:
    * (router_state, coarse_nodes, coarse_live, coarse_floor,
    * coarse_agreement, router_bin).
    *  - router_state: "none" (no driver-cached router), "stale" (cached
    *    but a mutation bumped the version — the next search pays a
    *    reconcile), "flat" (current, one-level), "graph" (current, with
    *    a coarse centroid-graph level).
    *  - coarse_nodes/coarse_live: centroid-graph size and its
    *    non-tombstoned node count (dilution = nodes − live).
    *  - coarse_floor/coarse_agreement: the validated beam floor and the
    *    routing agreement it measured against the flat truth at build
    *    (ShardSummaries.Router.validatedCoarse) — agreement sliding
    *    across mutations is the recall-health gauge.
    *  - router_bin: the persisted coarse cache vs the live summary set
    *    ("absent" | "current" | "stale") — an operator watching a CDC
    *    stream can see a rebuild storm as persistent "stale" here. */
  def routerState: (String, Int, Int, Int, Double, String) = {
    if (!isGraphEngine) return ("none", 0, 0, 0, 0.0, "absent")
    val rc = routerCache
    val state =
      if (rc == null || rc.router.isEmpty) "none"
      else if (rc.version != summariesVersion.get()) "stale"
      else if (rc.router.get.coarse.exists(_.servable)) "graph"
      else if (rc.router.get.coarse.isDefined) "standdown" // kept, unserved
      else "flat"
    val (nodes, live, floor, agreement) =
      Option(rc).flatMap(_.router).flatMap(_.coarse) match {
        case Some(co) =>
          (co.graphShards.length, co.liveCount, co.floor, co.agreement.toDouble)
        case None => (0, 0, 0, 0.0)
      }
    // Prefer the digest the current-version router already carries —
    // rehashing O(shards×dim) of resident centroids per stats call is
    // the exact cost the digest machinery exists to avoid (the fallback
    // rehash only runs when no current router is cached).
    val coveredDigest: Option[Long] =
      if (rc != null && rc.version == summariesVersion.get())
        rc.router.map(_.sumsDigest)
      else routingSummaries.map(ShardSummaries.Router.digest)
    (state, nodes, live, floor, agreement,
      ShardSummaries.Router.cacheState(path, coveredDigest))
  }

  /** Routing status for ops surfaces (the SQL `ann_routing_info` verb):
    * (shard_assign mode, live shard count, live shards with a summary).
    * Routing is usable iff the last two are equal and positive. */
  def routingStatus: (String, Int, Int) = {
    if (!isGraphEngine)
      return (meta.params.getOrElse("shard_assign", "n/a"), 0, 0)
    val live = liveShardIds
    val liveSet = live.toSet
    val summarized = ShardSummaries.read(path)
      .map(_.count(s => liveSet(s.shard))).getOrElse(0)
    (meta.params.getOrElse("shard_assign", "hash"), live.size, summarized)
  }

  /** Recompute summaries for live shards lacking one and drop dead
    * entries; returns how many shards were (re)computed. Create and every
    * mutation maintain coverage incrementally — this is the repair path
    * (post-crash, legacy index, or after a failed merge). */
  def refreshShardSummaries(): Int = {
    require(isGraphEngine,
      s"refreshShardSummaries: ${meta.engine} routes via its own centroids")
    val live = liveShardIds
    val liveSet = live.toSet
    val existing = ShardSummaries.read(path).getOrElse(Array.empty)
    val kept = existing.filter(x => liveSet(x.shard))
    val have = kept.iterator.map(_.shard).toSet
    val missing = live.filterNot(have)
    // read-mostly fast path: coverage already complete and nothing dead to
    // drop — a stats verb calling this must not rewrite summaries.bin (and
    // churn the driver cache) on every invocation. It must still RECONCILE
    // the driver caches: if another driver/process repaired summaries.bin,
    // this driver's cached walk-all None (or pre-repair router) would
    // otherwise outlive the documented repair verb itself.
    if (missing.isEmpty && kept.length == existing.length) {
      val cachedSums = summariesCache
      if (cachedSums != null) {
        val pair = summariesDigestPair
        val cachedDig =
          if (pair != null && (pair._1 eq cachedSums)) pair._2
          else {
            val d = ShardSummaries.Router.digest(cachedSums)
            // store only while the digested array is still THE cache — a
            // racing invalidation must not get its digest resurrected,
            // and a reader must never pair a digest with a different
            // cache generation
            synchronized {
              if (summariesCache eq cachedSums)
                summariesDigestPair = (cachedSums, d)
            }
            d
          }
        if (cachedDig != ShardSummaries.Router.digest(existing))
          invalidateSummaries()
      }
      return 0
    }
    val added =
      if (missing.isEmpty) Seq.empty
      else ShardSummaries.compute(
        readGraphShards(missing).select(col("shard"), col(dataVecCol)),
        codec, meta.metric == "cosine")
    ShardSummaries.write(path, (kept.toSeq ++ added).sortBy(_.shard))
    invalidateSummaries()
    missing.size
  }

  /** Whether this index maintains routing summaries: spatially-sharded
    * indexes always (routing is why spatial exists), hash-sharded ones
    * only after an explicit [[refreshShardSummaries]] opt-in (their
    * create-time shard centroids are ~the global mean — no routing
    * signal — so the maintenance scans would be pure overhead; A/B'd on
    * the hnsw_build_sf bench line at +39%). Public so ops surfaces
    * (ann_refresh_stats) can repair coverage without accidentally
    * OPTING a hash index in. */
  def summariesMaintained: Boolean = isGraphEngine &&
    (meta.params.get("shard_assign").contains("spatial") ||
      ShardSummaries.exists(path))

  /** Post-publish summary maintenance: compute for the freshly written
    * shard ids (partition-pruned scan), drop the replaced/removed ids.
    * Runs AFTER the meta commit, so a crash here leaves a coverage gap
    * (→ walk-all fallback), never a wrong summary; failure degrades to
    * the same fallback by dropping the file. */
  private def updateSummariesAfterWrite(newIds: Seq[Int],
                                        removedIds: Seq[Int],
                                        force: Boolean = false): Unit = {
    if ((!summariesMaintained && !force) ||
        (newIds.isEmpty && removedIds.isEmpty)) return
    try {
      val added =
        if (newIds.isEmpty) Seq.empty
        else ShardSummaries.compute(
          readGraphShards(newIds).select(col("shard"), col(dataVecCol)),
          codec, meta.metric == "cosine")
      ShardSummaries.merge(path, added, removedIds)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // routing is an optimization with a safe fallback; the index
        // mutation itself is already committed and must not fail here
        System.err.println(s"[graft] shard summary update failed for $path: " +
          s"${e.getMessage} — routing falls back to walk-all until " +
          "refreshShardSummaries()")
        ShardSummaries.delete(path)
    } finally invalidateSummaries()
  }

  /** Cache key for executor-side decoded shards: any index write rewrites
    * meta.json, so its mtime versions the dataset. */
  private def shardCacheKey: Option[String] = scala.util.Try {
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path, "meta.json")).toMillis
    s"$path@$mtime"
  }.toOption

  /** Graph-scan source selection: a pinned dataset (persisted
    * post-`repartition(shard)`) is served directly, certifying the
    * whole-shard layout (no per-batch shuffle). `data` MUST be read first:
    * it lazily re-pins after a mutation, so the match sees the restored pin
    * and keeps the zero-shuffle layout. Shared by [[scanGraph]] and
    * [[scanGraphTable]] so the re-pin-ordering invariant lives once. */
  private def pinnedSource: (DataFrame, Boolean) = {
    val readOnce = data
    pinned match {
      case Some(p) => (p, true)
      case None => (readOnce, false)
    }
  }

  /** Batch graph search: the per-shard candidates merged to the top
    * k+|deleted| per query (grouped top-k), then tombstone-cleaned to k. */
  private[graft] def scanGraph(qs: Seq[(Int, Array[Float])], k: Int,
                               searchComplexity: Int): DataFrame = {
    val (cands, kk) = graphCandidates(qs, k, searchComplexity)
    cleanGraphHits(TopK.grouped(cands, "query_idx", "_distance", "id", kk), "query_idx", k)
  }

  /** Unmerged (query_idx, id, _distance, seg) graph candidates for `qs`,
    * searched with the tombstone overfetch kk = k + |deleted|, and kk. */
  private def graphCandidates(qs: Seq[(Int, Array[Float])], k: Int,
                              searchComplexity: Int): (DataFrame, Int) = {
    val overfetch = meta.numDeleted.toInt
    val kk = k + overfetch
    val ck = shardCacheKey
    val (src, prePart) = pinnedSource
    val nShards = math.max(1, meta.param("shards", 1))
    // shard routing (spark.ann.shardProbes > 0 + full summary coverage):
    // rank live shards per query by centroid distance driver-side (the
    // query batch and the summary table are both broadcast-sized here) and
    // hand the engines the INVERTED map — shard → probing queries — so an
    // unrouted shard is skipped before decode
    val probes: Option[Map[Int, Array[Int]]] = {
      val s = shardProbes
      routerFor(s).map { router =>
        val inv = scala.collection.mutable.HashMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
        qs.foreach { case (qi, q) =>
          router.topShards(q, s)
            .foreach(sid => inv.getOrElseUpdate(sid,
              new scala.collection.mutable.ArrayBuffer[Int]) += qi)
        }
        inv.iterator.map { case (sid, b) => sid -> b.toArray }.toMap
      }
    }
    // a pin's hash layout leaves most partitions empty: an unrouted search
    // schedules only those holding a live shard
    val (pinParts, live) = if (prePart) (pinnedPartsVar, Some(liveShardIds)) else (None, None)
    val res = meta.engine match {
      case "DISKANN" =>
        val p = Vamana.Params.from(meta)
        val l = Vamana.beamWidth(kk, searchComplexity, p.buildComplexity) + overfetch
        Vamana.searchBatch(spark, src, qs, l, meta.metric, ck,
          prePartitioned = prePart, numShards = nShards, codec = codec,
          probes = probes, pinnedParts = pinParts, liveShards = live)
      case "HNSW" =>
        // searchParam = ef_search override; default ef = ef_construction
        val p = Hnsw.Params.from(meta)
        val ef = math.max(kk,
          if (searchComplexity > 0) searchComplexity else p.efConstruction) + overfetch
        Hnsw.searchBatch(spark, src, qs, kk, ef, meta.metric, ck,
          prePartitioned = prePart, numShards = nShards, codec = codec,
          probes = probes, pinnedParts = pinParts, liveShards = live)
    }
    (res, kk)
  }

  /** Tombstone cleanup shared by the broadcast and distributed graph
    * paths: each hit carries its OWN row's insert epoch (per label, not
    * per shard — online rewrites mix epochs within a shard, see
    * Vamana.segArray), a tombstone only masks rows it is newer than
    * (epoch semantics, see currentSeg); the overfetched survivors re-cut
    * to k per group. */
  private def cleanGraphHits(res: DataFrame, groupCol: String, k: Int): DataFrame = {
    val cleaned =
      if (hasDeletes)
        graft.operators.TopK.grouped(maskDead(res), groupCol, "_distance", "id", k)
      else res
    cleaned.drop("seg")
  }

  /** Table-input graph search with NO driver collect: the query relation
    * stays distributed end-to-end (cogrouped against whole shards, see
    * [[GraphTableSearch]]) — the scale path behind `ann_search_table` on
    * DISKANN/HNSW for query sets above the collect bound. Same beam
    * widths, kernels, and deterministic merge as [[scanGraph]], so results
    * are value-identical to the broadcast path.
    *
    * @param queries exactly (__qid, __qvec float[]); __qid of any type
    * @return (__qid, id, _distance) */
  private[graft] def scanGraphTable(queries: DataFrame, k: Int,
                                    searchComplexity: Int): DataFrame = {
    val overfetch = meta.numDeleted.toInt
    val ck = shardCacheKey
    val kk = k + overfetch
    // pinned → the zip path: only the query relation shuffles, the cached
    // graph layout is read in place — a standing workload's repeat calls
    // move zero index bytes. Unpinned → the cogroup path (its one graph
    // shuffle reads from parquet anyway).
    val (src, prePart) = pinnedSource
    // shard routing on the table path: a row-local expression mapping each
    // query vector to its top-s shard ids (summary table broadcast once),
    // which replaces the walk-all explode inside GraphTableSearch — the
    // query relation replicates s ways instead of |live shards| ways, and
    // per-query beam work stops growing with corpus size
    val route: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = {
      val s = shardProbes
      // the Broadcast[Router] is pinned in the cache entry — one ship per
      // summaries version, however many table searches run against it
      routerEntryFor(s).flatMap(_.broadcastFor(spark.sparkContext)).map { bc =>
        val sN = s
        val f = udf { (v: Seq[Float]) =>
          bc.value.topShards(v.toArray, sN)
        }
        (qv: org.apache.spark.sql.Column) => f(qv)
      }
    }
    val res = meta.engine match {
      case "DISKANN" =>
        val p = Vamana.Params.from(meta)
        val l = Vamana.beamWidth(kk, searchComplexity, p.buildComplexity) + overfetch
        Vamana.searchTableDistributed(spark, src, queries, kk, l, meta.metric,
          ck, liveShardIds, codec, graphPrePartitioned = prePart, route = route)
      case "HNSW" =>
        val p = Hnsw.Params.from(meta)
        val ef = math.max(kk,
          if (searchComplexity > 0) searchComplexity else p.efConstruction) + overfetch
        Hnsw.searchTableDistributed(spark, src, queries, kk, ef, meta.metric,
          ck, liveShardIds, codec, graphPrePartitioned = prePart, route = route)
      case other => throw new IllegalArgumentException(
        s"scanGraphTable: $other is not a graph engine")
    }
    cleanGraphHits(res, "__qid", k)
  }

  /** Partition-pruned cell scan: `list_id IN (...)` reaches the parquet
    * source as partition filters — only nprobe directories are read. */
  private def pruneToLists(df: DataFrame, lists: Seq[Int]): DataFrame =
    if (meta.engine == "FLAT" || lists.size >= centroids.length) df
    else df.filter(col("list_id").isin(lists: _*))

  /** S3 `ann_search`: scan + fetch base columns + `_distance`, ordered by
    * (`_distance`, base id). Plans to the same index-top-k node as the
    * optimizer rewrite ([[graft.plans.AnnIndexTopK]]): a hits job of the
    * top k·oversample from the index, then the rows fetched with a
    * pushed-down `id IN (hits)` filter over `base` (reference:
    * src/ann_search.cpp:31-195; oversample :123).
    *
    * @param rerank recompute `_distance` EXACTLY from the base table's raw
    *               float vectors after the fetch and re-sort (the faiss
    *               IndexRefineFlat pattern). The natural partner of a lossy
    *               codec: ADC/quantized distances pick the k·oversample
    *               candidates cheaply, the k·oversample fetched rows —
    *               driver-tiny at any scale — are re-scored losslessly, so
    *               quantization error affects only candidate selection,
    *               never the final ranking. */
  def search(base: DataFrame, baseIdCol: String, q: Array[Float], k: Int,
             searchParam: Int = -1, oversample: Int = 1,
             rerank: Boolean = false): DataFrame = {
    val plan = org.apache.spark.sql.GraftBridge.analyzedPlan(base)
    val idOrdinal = org.apache.spark.sql.GraftBridge.expression(base(baseIdCol)) match {
      case a: Attribute => plan.output.indexWhere(_.exprId == a.exprId)
      case _ => -1
    }
    require(idOrdinal >= 0, s"search: $baseIdCol is not a column of the base")
    val node = graft.plans.AnnIndexTopK(path, meta.name, q, k,
      k * math.max(1, oversample), searchParam, rerank, plan, idOrdinal,
      plan.output.indices,
      plan.output :+ AttributeReference("_distance", DoubleType)())
    graft.plans.AnnOptimizer.installPlanner(spark)
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
  }

  /** S4 `ann_search_batch`: N queries at once → (query_idx, id, _distance).
    * Probe pairs are computed driver-side from the centroid table and
    * broadcast; data partitions are scanned once; per-query top-k reduces
    * map-side (reference: src/ann_search.cpp:202-388 + lock-step batch
    * search rust_lib/src/provider.rs:248-440). */
  def searchBatch(qs: Seq[Array[Float]], k: Int, searchParam: Int = -1): DataFrame = {
    import spark.implicits._
    if (isGraphEngine)
      return scanGraph(qs.map(prepQuery).zipWithIndex.map(_.swap), k, searchParam)
    val np = if (searchParam > 0) searchParam else defaultNprobe
    val prepped = qs.map(prepQuery)
    // bq fast path: binarize the (tiny) query batch ONCE driver-side, so
    // every (candidate, query) pair is XOR+popcount over dim/8 bytes — a
    // float query column would force the O(dim) binarize-on-access kernel
    // per pair, forfeiting the packed representation's whole advantage
    val bqDim = codec.collect { case graft.functions.BqCodec(d) => d }
    // rabitq fast path: rotate the (tiny) query batch ONCE driver-side —
    // a float query column would otherwise pay the O(dim²) per-pair
    // rotation in the asymmetric kernel
    val rabitqGeom = codec.collect { case graft.functions.RabitqCodec(d, s) => (d, s) }
    val queriesDf = (bqDim, rabitqGeom) match {
      case (Some(_), _) =>
        prepped.zipWithIndex.map { case (q, i) => (i, graft.functions.Bq.encode(q)) }
          .toDF("query_idx", "qbits")
      case (_, Some((d, s))) =>
        prepped.zipWithIndex
          .map { case (q, i) => (i, graft.functions.Rabitq.rotate(q, d, s)) }
          .toDF("query_idx", "qrot")
      case _ =>
        prepped.zipWithIndex.map { case (q, i) => (i, q) }.toDF("query_idx", "qvec")
    }
    val pairs = prepped.zipWithIndex
      .flatMap { case (q, i) =>
        probeLists(q, np, allowAdaptive = searchParam <= 0).map(l => (i, l)) }
      .toDF("query_idx", "list_id")

    val scored =
      if (meta.engine == "FLAT") {
        live.crossJoin(broadcast(queriesDf))
      } else {
        live.join(broadcast(pairs), Seq("list_id"))
          .join(broadcast(queriesDf), Seq("query_idx"))
      }
    val dist = (bqDim, rabitqGeom) match {
      case (Some(d), _) => org.apache.spark.sql.GraftBridge.column(
        graft.functions.BqCodesDistance(
          org.apache.spark.sql.GraftBridge.expression(col(dataVecCol)),
          org.apache.spark.sql.GraftBridge.expression(col("qbits")),
          d, meta.metric))
      case (_, Some((d, s))) => org.apache.spark.sql.GraftBridge.column(
        graft.functions.RabitqDistance(
          org.apache.spark.sql.GraftBridge.expression(col(dataVecCol)),
          org.apache.spark.sql.GraftBridge.expression(col("qrot")),
          d, s, meta.metric, preRotated = true))
      case _ => distColumn(col(dataVecCol), col("qvec"))
    }
    val withDist = scored.withColumn("_distance", dist)
      .select("query_idx", "id", "_distance")
    TopK.grouped(withDist, "query_idx", "_distance", "id", k)
  }

  // ---- maintenance (reference §2.10 BoundIndex hooks) ----

  /** Highest streaming micro-batch id applied to this index by the given
    * stream; -1 when that stream has never fed the index. Watermarks are
    * scoped PER STREAM because Spark batch ids are monotonic only per
    * checkpoint — a fresh checkpoint (ids restart at 0) or a second stream
    * feeding the same index must not be masked by another stream's
    * watermark. Persisted in meta.json (SURVEY §2.8). */
  def lastAppliedBatch(streamId: String = "default"): Long =
    meta.params.get(s"last_batch_id.$streamId").map(_.toLong).getOrElse(-1L)

  /** Record a batch id without any data change (empty micro-batch). */
  def recordAppliedBatch(batchId: Long, streamId: String = "default"): Unit =
    asWriter {
      publishMeta(meta.copy(params =
        meta.params + (s"last_batch_id.$streamId" -> batchId.toString)))
    }

  private def withBatch(params: Map[String, String],
                        batch: Option[(String, Long)]): Map[String, String] =
    params ++ batch.map { case (sid, b) => s"last_batch_id.$sid" -> b.toString }

  /** Build a graph over `rows` (id, vector) honoring this index's
    * `shard_assign` mode: a spatial index keeps NEW shards spatially
    * coherent too (fresh centers trained on the batch, seeded by the
    * epoch for determinism) so its routing summaries stay meaningful
    * through deltas, compactions, and vacuums. Hash indexes keep the
    * id-hash layout. */
  private def buildGraphFor(rows: DataFrame, nShards: Int,
                            nRows: Long): (DataFrame, Int) = {
    // nRows == 0: nothing to assign — the hash branch builds the empty
    // graph fine (mapPartitions emits nothing), while spatial center
    // training would throw on an empty sample. Reachable via vacuum() of
    // a fully-deleted spatial index (a normal purge lifecycle).
    val spatial = meta.params.get("shard_assign").contains("spatial") &&
      nShards > 1 && nRows > 0
    val (src, assignCol, actualShards) =
      if (spatial) {
        // oversized cells hash-split (per-task build budget holds under
        // skew), so the ACTUAL shard count can exceed the center count —
        // callers size their id range by it
        val (asg, total) = AnnIndexBuilder.spatialShardAssign(
          rows, nRows, nShards, AnnIndexBuilder.targetShardRows(meta.dim),
          seed = 42L + currentSeg)
        (asg, Some("__sa"), total)
      } else (rows, None, nShards)
    val graph = meta.engine match {
      case "DISKANN" => Vamana.build(src, actualShards, Vamana.Params.from(meta),
        meta.metric, assignCol)
      case "HNSW" => Hnsw.build(src, actualShards, Hnsw.Params.from(meta),
        meta.metric, assignCol)
    }
    (graph, actualShards)
  }

  /** Append the insert rows to the data dataset at epoch currentSeg+1;
    * returns (rowCount, paramsDelta) for the caller's single meta publish. */
  private def writeInsertData(rows: DataFrame, idCol: String,
                              vecCol: String): (Long, Map[String, String]) = {
    // pin the prepared batch for the mutation's duration: the caller's
    // `rows` can be an arbitrarily expensive upstream pipeline, and this
    // method runs it at least twice (the path-decision count, then the
    // build/union/write). persist keeps lineage (safe under task loss,
    // unlike localCheckpoint) and is released in the finally.
    val prepared = AnnIndexBuilder.prepare(rows, idCol, vecCol, meta.metric)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeInsertPrepared(prepared)
    finally prepared.unpersist()
  }

  private def writeInsertPrepared(
      prepared: DataFrame): (Long, Map[String, String]) = {
    val n = prepared.count()
    val segNew = currentSeg + 1
    val onlineMax =
      spark.conf.get("spark.ann.onlineInsertMaxRows", "0").toLong
    // online-insertable storage: floats, or a codec whose decode is
    // row-local and near-lossless (sq8/fp16) — old rows keep their codes
    // BYTE-IDENTICAL through the rewrite (only the new rows encode, with
    // the build-time params), and insert-time distance work runs on the
    // decoded stored representation, exactly what search sees. PQ/BQ/
    // RaBitQ decode is sign/codebook-lossy — graph edge selection on it
    // would diverge from the build-on-floats contract, so they keep the
    // delta path.
    val onlineCodecOk = codec.forall {
      case graft.functions.Sq8Codec(_) => true
      case graft.functions.Fp16Codec => true
      case _ => false
    }
    if (isGraphEngine && onlineCodecOk && n > 0 && n <= onlineMax
        && liveShardIds.nonEmpty) {
      writeOnlineInsert(prepared, n, segNew)
    } else if (isGraphEngine) {
      // size-aware delta: a small CDC batch stays one shard, but a bulk
      // insert (mergeFrom of a large index) splits by the same per-task
      // build budget as create — one fixed-size shard per task, never a
      // single straggler task building a giant graph
      val nDelta = AnnIndexBuilder.defaultGraphShards(n, meta.dim)
      // build first: spatial skew splitting can widen the shard count, and
      // the id range below must cover what the build ACTUALLY produces
      val (delta0raw, nActual) = buildGraphFor(prepared, nDelta, n)
      // `next_shard` allocates ids; `shards` counts live shards for
      // partition sizing. They diverge once compactShards leaves id gaps —
      // reusing a live id would mix two graphs in one shard directory.
      val nextShard = meta.param("next_shard", meta.param("shards", 1))
      val preLive = liveShardIds // capture before the write (legacy
        // fallback lists dirs, which would include the delta post-write)
        .filterNot(sid => sid >= nextShard && sid < nextShard + nActual)
      // Ids at/after next_shard are unlisted by definition: any dir there
      // is a crashed writer's orphan. Reclaim before writing so the
      // append can't mix two graphs under one shard id.
      (nextShard until nextShard + nActual).foreach(sid =>
        IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
      val delta0 = delta0raw
        .withColumn("shard", (col("shard") + lit(nextShard)).cast("int"))
      val delta = codec match {
        case Some(c) => delta0 // sq8: out-of-range values clamp to the build-time range
          .withColumn("codes", c.encodeUdf(col("vector")))
          .drop("vector")
        case None => delta0
      }
      delta.withColumn("seg", lit(segNew))
        .write.mode("append").partitionBy("shard")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(dataPath)
      // Learn which target ids actually received rows (an empty build
      // task writes no dir; manifesting a missing dir would break reads),
      // and publish them. Readers see the delta only after the caller's
      // meta write lands — the commit point.
      val written = IndexMeta.listShardDirs(dataPath)
        .filter(sid => sid >= nextShard && sid < nextShard + nActual)
      val newLive = preLive ++ written
      (n, Map("seg" -> segNew.toString,
        "shards" -> newLive.size.toString,
        "next_shard" -> (nextShard + nActual).toString,
        "live_shards" -> newLive.mkString(","),
        "__new_shards" -> written.mkString(",")))
    } else {
      val assigned = AnnIndexBuilder.assignLists(prepared, centroids, meta.engine)
      val stored = codec match {
        case Some(c) => assigned
          .withColumn("codes", c.encodeUdf(col("vector")))
          .drop("vector") // sq8: out-of-range values clamp to the build-time range
        case None => assigned
      }
      stored.withColumn("seg", lit(segNew))
        .write.mode("append").partitionBy("list_id")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(dataPath)
      if (meta.engine == "IVF") extendCellRadii(assigned)
      (n, Map("seg" -> segNew.toString))
    }
  }

  /** ONLINE graph insert: extend existing live shards' graphs in place of
    * opening a new delta shard — the reference's per-row live insert
    * (src/diskann_index.cpp:316-361), re-expressed as a copy-on-write shard
    * rewrite. Opt-in via `spark.ann.onlineInsertMaxRows` (=0 off): batches
    * at or under the cap take this path; larger batches keep the
    * parallel delta-shard build (rewriting every live shard for a bulk
    * load would be full-index write amplification). Both graph engines
    * (DISKANN via Vamana Algorithm 3, HNSW via the layered Algorithm 1
    * step — new nodes draw their deterministic per-id level, the entry
    * moves only when a taller node lands). Float and sq8/fp16 storage:
    * quantized shards carry codes through the rewrite — OLD rows' bytes
    * re-emit verbatim (no decode→re-encode degradation), only NEW rows
    * encode (build-time params, delta-path clamp semantics), and insert
    * distance work runs on decoded codes exactly as search does. PQ/BQ/
    * RaBitQ storage keeps the delta fallback (lossy decode would steer
    * edge selection).
    *
    * Scale shape: the batch is routed to `t` target shards where
    * t ≈ batchRows / targetShardRows (so per-task insert work stays inside
    * the create-time build budget). Target CHOICE: a summarized index
    * picks the shards the batch spatially BELONGS to — the modal
    * nearest-centroid shards of its rows — because rotation merges
    * spatially-unrelated rows into whatever shard is next and erodes the
    * coherence the routing tier depends on (r17 upkeep arm: 20 rotation
    * batches bimodalized 20 shard centroids and cost routed recall
    * 1.000 → 0.988); a growth guard (summary nrows < 2× the build
    * budget) keeps a hot cluster from growing one shard without bound.
    * Unsummarized indexes (and `spark.ann.onlineSpatialTargets=false`)
    * keep the r16 rotation: the SMALLEST live ids — a rewrite
    * re-publishes under fresh (maximal) ids, so smallest-first is
    * least-recently-rewritten and repeated micro-batches rotate through
    * the whole live set without any cursor state. Only the touched
    * shards are read (partition-pruned scan) and rewritten under FRESH
    * shard ids; the meta publish swaps old ids for new — a crash leaves
    * unmanifested orphan dirs, invisible to readers and reclaimed at the
    * ids' next allocation, exactly the delta-path contract. Write
    * amplification per micro-batch = t shards, vs the delta path's one
    * new shard + an eventual compaction rewrite. */
  private def writeOnlineInsert(prepared: DataFrame, n: Long,
                                segNew: Long): (Long, Map[String, String]) = {
    val live = liveShardIds.sorted
    val perShard = AnnIndexBuilder.targetShardRows(meta.dim)
    val t = math.min(live.size.toLong,
      math.max(1L, (n + perShard - 1) / perShard)).toInt
    val spatialTargets: Option[Array[Int]] =
      if (!summariesMaintained ||
          !spark.conf.get("spark.ann.onlineSpatialTargets", "true").toBoolean)
        None
      else ShardSummaries.read(path).flatMap { sums =>
        val liveSet = live.toSet
        val covered = sums.filter(s => liveSet(s.shard))
        if (covered.length != live.size) None // coverage gap → rotation
        else {
          val cands = covered.filter(_.nrows < 2L * perShard) // growth guard
          if (cands.isEmpty) None
          else {
            val bcC = spark.sparkContext.broadcast(
              (cands.map(_.shard), cands.map(_.centroid)))
            val nearestCand = udf { (v: Seq[Float]) =>
              val (ids, cs) = bcC.value
              val q = v.toArray
              var best = 0; var bestD = Double.MaxValue
              var i = 0
              while (i < cs.length) {
                val d = graft.functions.VectorKernels.l2Sq(q, cs(i))
                if (d < bestD) { bestD = d; best = i }
                i += 1
              }
              ids(best)
            }
            // modal nearest shard over the batch — one tiny job (the batch
            // is bounded by the online cap by definition)
            val hist = prepared.select(nearestCand(col("vector")).as("s"))
              .groupBy("s").count().collect()
              .map(r => r.getInt(0) -> r.getLong(1))
            bcC.unpersist(false)
            val byCount = hist.sortBy { case (sid, c) => (-c, sid) }.map(_._1)
            val chosen = byCount.take(t)
            val chosenSet = chosen.toSet
            // fewer hit shards than the budget: pad by rotation
            Some((chosen ++
              live.filterNot(chosenSet).take(t - chosen.length)).toArray)
          }
        }
      }
    // rotation fallback: least-recently-rewritten first (rewrites land on
    // fresh maximal ids, so the smallest live ids are longest-untouched)
    val targets = spatialTargets.getOrElse(live.take(t).toArray)
    val nextShard = meta.param("next_shard", meta.param("shards", 1))
    val remap = targets.zipWithIndex
      .map { case (old, i) => old -> (nextShard + i) }.toMap
    // ids at/after next_shard are unlisted by definition — reclaim any
    // crashed writer's orphans before appending under them
    remap.values.foreach(sid => IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
    // existing graph rows of ONLY the touched shards (partition-pruned),
    // tagged by their real label; new rows ride along with label = -1.
    // Quantized (sq8/fp16) shards carry their CODES through the whole
    // rewrite — old rows' bytes are preserved verbatim, new rows encode
    // once up front, and the in-task float working set decodes from codes
    // (the same values search scores).
    val isHnsw = meta.engine == "HNSW"
    val vecColName = dataVecCol
    val baseCols = Seq("shard", "label", "id", vecColName) ++
      (if (isHnsw) Seq("level") else Nil) ++ Seq("neighbors", "is_entry", "seg")
    val segIdx = baseCols.length - 1
    val deadIdx = segIdx + 1
    val graphRows0 = readData()
      .select(baseCols.map(col): _*)
      .where(col("shard").isin(targets.toSeq: _*))
    // Opportunistic consolidate_deletes (the reference's delete folding,
    // src/diskann_index.cpp:701-741): the rewrite is already paying for
    // this shard, so epoch-dead rows are dropped from the graph now —
    // live nodes absorb their dead neighbors' live neighbors and re-prune
    // (navigability preserved), labels compact. Tombstones stay (inert
    // once no row matches; they may still mask rows in untouched shards),
    // so numDeleted remains an overfetch upper bound until the next
    // compact/vacuum recount. Without this, a delete-heavy online stream
    // would grow its shards without bound.
    val hadDeletes = hasDeletes
    val graphRows =
      if (hadDeletes) {
        // same rule as joinDead (row.seg <= tombstone.seg), as a flag
        // instead of a mask: max tombstone epoch per id ≡ exists-tombstone
        val d = deletes.groupBy("id").agg(max("seg").as("__dseg"))
          .withColumnRenamed("id", "__did")
        graphRows0.join(broadcast(d),
            graphRows0("id") === col("__did") && graphRows0("seg") <= col("__dseg"),
            "left")
          .withColumn("__dead", col("__did").isNotNull)
          .drop("__did", "__dseg")
      } else graphRows0.withColumn("__dead", lit(false))
    val touchedTotal =
      if (hadDeletes) graphRows0.count() else 0L
    // batch → target routing: hash(id) by default; a SPATIAL index routes
    // each new row to the nearest target shard's summary centroid instead,
    // so online CDC preserves the spatial coherence the routing tier
    // depends on (falls back to hash when coverage is missing — safe, the
    // summaries of the rewritten shards are recomputed either way)
    val spatialCents: Option[Array[Array[Float]]] =
      if (!meta.params.get("shard_assign").contains("spatial")) None
      else ShardSummaries.read(path).flatMap { sums =>
        val byId = sums.iterator.map(s => s.shard -> s.centroid).toMap
        val cents = targets.flatMap(byId.get)
        if (cents.length == targets.length) Some(cents) else None
      }
    val routed = spatialCents match {
      case Some(cents) =>
        val bcT = spark.sparkContext.broadcast((targets, cents))
        udf { (v: Seq[Float]) =>
          val (tids, cs) = bcT.value
          val q = v.toArray
          var best = 0; var bestD = Double.MaxValue
          var i = 0
          while (i < cs.length) {
            val d = graft.functions.VectorKernels.l2Sq(q, cs(i))
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          tids(best)
        }.apply(col("vector")).as("shard")
      case None => element_at(typedLit(targets.toSeq),
        (pmod(hash(col("id")), lit(t)) + 1).cast("int")).as("shard")
    }
    val newVecExpr = (codec match {
      case Some(c) => c.encodeUdf(col("vector")) // build-time params; clamp
        // semantics identical to the delta path's encode
      case None => col("vector")
    }).as(vecColName)
    val newRows =
      (if (isHnsw) prepared.select(routed, lit(-1).as("label"), col("id"),
        newVecExpr, lit(0).as("level"), // recomputed per id at insert
        typedLit(Seq.empty[Seq[Int]]).as("neighbors"),
        lit(false).as("is_entry"), lit(segNew).as("seg"))
      else prepared.select(routed, lit(-1).as("label"), col("id"),
        newVecExpr, typedLit(Seq.empty[Int]).as("neighbors"),
        lit(false).as("is_entry"), lit(segNew).as("seg")))
        .withColumn("__dead", lit(false))
    // the remap is t entries (a handful): plain closure capture — a
    // broadcast would cost a driver round-trip per micro-batch for nothing
    val remapLocal = remap
    val engine = meta.engine
    val vParams = Vamana.Params.from(meta)
    val hParams = Hnsw.Params.from(meta)
    val metric = meta.metric
    val codecLocal = codec // local val: the codec rides the task closure
      // (it is Serializable); capturing `this` would drag AnnIndex along
    val vecField =
      if (codecLocal.isDefined) StructField("codes", BinaryType, nullable = false)
      else StructField("vector", ArrayType(FloatType), nullable = false)
    val outSchema = StructType(Seq(
      StructField("shard", IntegerType, nullable = false),
      StructField("label", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      vecField) ++
      (if (isHnsw) Seq(StructField("level", IntegerType, nullable = false),
        StructField("neighbors", ArrayType(ArrayType(IntegerType)), nullable = false))
      else Seq(StructField("neighbors", ArrayType(IntegerType), nullable = false))) ++
      Seq(StructField("is_entry", BooleanType, nullable = false),
        StructField("seg", LongType, nullable = false)))
    // single-target micro-batch (the CDC shape, t=1): every row — old and
    // new — already carries the ONE target's shard value, so the hash
    // repartition would move the whole shard across a shuffle just to pick
    // 1 of shardPartitions(1)=4 tasks, and the shard-contiguity sort is a
    // no-op over one key. coalesce(1) feeds the same single task straight
    // from the pruned scan + the batch, no exchange (guide §2.4). t>1
    // keeps the hash layout (several groups must land whole per task).
    val grouped = graphRows.unionByName(newRows)
    val partitioned =
      if (t == 1) grouped.coalesce(1)
      else grouped
        .repartition(Vamana.shardPartitions(t), col("shard"))
        .sortWithinPartitions(col("shard"))
    // t == 1 writes every row under shard=remap(targets(0)) with no shard
    // sort, so a row of any other shard would be misfiled: checked per
    // group in the task rather than trusted
    val singleTarget = if (t == 1) Some(targets(0)) else None
    // Note (r19, measured): an InternalRow variant of this task (no
    // external-Row boxing on either side, LogicalRDD-wrapped write) was
    // implemented and A/B'd on the CDC bench shape — rewrite-job and
    // per-batch walls were EQUAL within noise (parquet's per-element
    // array encode/decode loops dominate both sides, not the Row
    // conversion), so the simpler external-Row form stays.
    val rewritten = partitioned
      .mapPartitions { rows =>
        // one task sees whole shards (hash-partitioned on shard at t>1, or
        // the single coalesced target); the sort makes each shard's rows
        // CONTIGUOUS (trivial at t=1: one key), so this streams one
        // shard group at a time — peak memory is one shard + its inserts,
        // not every hash-colocated shard's boxed rows at once (a task can
        // hold 2+ whole shards when shard ids collide in the hash)
        AnnIndex.groupedByIntKey(rows, _.getInt(0)).flatMap { case (old, rs) =>
          singleTarget.foreach { target =>
            if (old != target) throw new IllegalStateException(
              s"online insert: the single-target rewrite of shard $target " +
                s"received rows of shard $old")
          }
          val (oldRows, ins) = rs.partition(_.getInt(1) >= 0)
          val segs = new Array[Long](oldRows.length)
          val deadArr = new Array[Boolean](oldRows.length)
          // per-label stored codes (quantized only): surviving rows'
          // bytes re-emit VERBATIM — the rewrite never decodes+re-encodes
          // an existing row, so stored precision cannot degrade
          val oldCodes: Array[Array[Byte]] =
            if (codecLocal.isDefined) new Array[Array[Byte]](oldRows.length)
            else null
          oldRows.foreach { r =>
            val lb = r.getInt(1)
            segs(lb) = r.getLong(segIdx)
            if (oldCodes != null) oldCodes(lb) = r.getAs[Array[Byte]](3)
            if (r.getBoolean(deadIdx)) deadArr(lb) = true
          }
          val newIds = ins.map(_.getLong(2)).toArray
          // insert-time distance work runs on the DECODED stored
          // representation — the same values every search scores
          val newVecs = codecLocal match {
            case Some(c) => ins.map(r => c.decode(r.getAs[Array[Byte]](3))).toArray
            case None => ins.map(_.getSeq[Float](3).toArray).toArray
          }
          val insCodes: Seq[Array[Byte]] =
            if (codecLocal.isDefined) ins.map(_.getAs[Array[Byte]](3)).toSeq
            else null
          val sid = remapLocal(old)
          def compact[T](src: Array[T], lmap: Array[Int])(
              implicit tag: scala.reflect.ClassTag[T]): Array[T] = {
            val out = new Array[T](lmap.count(_ >= 0))
            var i = 0
            while (i < lmap.length) {
              if (lmap(i) >= 0) out(lmap(i)) = src(i)
              i += 1
            }
            out
          }
          def vecValue(vectors: Int => Array[Float],
                       allCodes: Array[Array[Byte]], label: Int): Any =
            if (allCodes != null) allCodes(label) else vectors(label).toSeq
          engine match {
            case "HNSW" =>
              val (sh0, lmap) = Hnsw.removeFromShard(
                Hnsw.decodeShard(old, oldRows, codecLocal), deadArr, hParams, metric)
              val sh = Hnsw.insertIntoShard(sh0, newIds, newVecs, hParams, metric)
              val allSegs = compact(segs, lmap) ++ ins.map(_ => segNew)
              val allCodes =
                if (oldCodes == null) null
                else compact(oldCodes, lmap) ++ insCodes
              sh.ids.indices.iterator.map { label =>
                org.apache.spark.sql.Row(sid, label, sh.ids(label),
                  vecValue(sh.vectors, allCodes, label), sh.levels(label),
                  sh.neighbors(label).map(_.toSeq).toSeq,
                  label == sh.entry, allSegs(label))
              }
            case _ =>
              val (sh0, lmap) = Vamana.removeFromShard(
                Vamana.decodeShard(old, oldRows, codecLocal), deadArr, vParams, metric)
              val sh = Vamana.insertIntoShard(sh0, newIds, newVecs, vParams, metric)
              val allSegs = compact(segs, lmap) ++ ins.map(_ => segNew)
              val allCodes =
                if (oldCodes == null) null
                else compact(oldCodes, lmap) ++ insCodes
              sh.ids.indices.iterator.map { label =>
                org.apache.spark.sql.Row(sid, label, sh.ids(label),
                  vecValue(sh.vectors, allCodes, label),
                  sh.neighbors(label).toSeq,
                  label == sh.entry, allSegs(label))
              }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    if (t == 1)
      // single known target: write the one shard's file straight into
      // its hive dir — same bytes/layout as partitionBy("shard") (the
      // partition column is never stored in the files), minus the
      // dynamic-partitioning machinery (partition-col sort, per-dir
      // writer tracking, partition discovery at commit)
      rewritten.drop("shard").write.mode("append")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(s"$dataPath/shard=${remap(targets(0))}")
    else
      rewritten.write.mode("append").partitionBy("shard")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(dataPath)
    val written = IndexMeta.listShardDirs(dataPath)
      .filter(sid => sid >= nextShard && sid < nextShard + t)
    // with no tombstones every target re-emits (its rows are preserved
    // verbatim); with consolidation, a fully-dead shard with no routed
    // inserts legitimately vanishes from the live set
    if (!hadDeletes) require(written.size == t,
      s"online insert rewrote ${written.size} of $t target shards — " +
        "a live shard produced no rows (corrupt manifest?)")
    // consolidation bookkeeping: rows dropped = (old rows of the touched
    // shards + the batch) - rows actually written. Both counts are
    // parquet-footer reads over the touched dirs only.
    val dropped =
      if (hadDeletes) {
        val writtenCount =
          if (written.isEmpty) 0L
          else readGraphShards(written).count()
        touchedTotal + n - writtenCount
      } else 0L
    val newLive = (live.filterNot(targets.contains) ++ written).sorted
    // __online_* are bookkeeping for the publisher (splitOnlineMarkers):
    // swapped dirs are reclaimed AFTER the meta commit, and the dropped
    // count deflates numDeleted — neither belongs in meta.params
    (n - dropped, Map("seg" -> segNew.toString,
      "shards" -> newLive.size.toString,
      "next_shard" -> (nextShard + t).toString,
      "live_shards" -> newLive.mkString(","),
      "__online_dropped" -> dropped.toString,
      "__online_swapped" -> targets.mkString(","),
      "__new_shards" -> written.mkString(",")))
  }

  /** Grow the stored per-cell radii to cover an insert batch, keeping the
    * range-search prune bound an upper bound (see create). Driver-side
    * merge of two nlist-row sets, rewritten tmp-then-swap. */
  private def extendCellRadii(assigned: DataFrame): Unit = {
    val cdf = centroidsDf
    if (!cdf.columns.contains("radius")) return // legacy: no radii tracked
    val bcC = spark.sparkContext.broadcast(centroids.toMap)
    val dToCent = udf { (lid: Int, v: Seq[Float]) =>
      math.sqrt(graft.functions.VectorKernels.l2Sq(v.toArray, bcC.value(lid)))
    }
    val batchMax = assigned
      .groupBy("list_id").agg(max(dToCent(col("list_id"), col("vector"))).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    if (batchMax.isEmpty) return
    val merged = cdf.collect().map { r =>
      val lid = r.getAs[Int]("list_id")
      // toArray: parquet reads yield mutable ArraySeq, which the tuple
      // encoder rejects (Spark 4.1)
      (lid, r.getAs[Seq[Float]]("centroid").toArray,
        math.max(r.getAs[Double]("radius"), batchMax.getOrElse(lid, 0.0)))
    }
    import spark.implicits._
    val tmp = s"$path/centroids_tmp"
    merged.toSeq.toDF("list_id", "centroid", "radius")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    IndexMeta.replaceDir(tmp, centroidsPath)
  }

  /** Append (id, epoch) tombstones; returns the tombstone count. Counts
    * FIRST and skips the write for an empty batch — an append of zero
    * rows would still create the deletes/ dir, flipping [[hasDeletes]] on
    * forever and making every search pay the mask join for nothing. */
  private def writeTombstones(ids: DataFrame): Long = {
    val n = ids.count()
    if (n > 0)
      ids.select(col(ids.columns.head).cast(LongType).as("id"),
          lit(currentSeg).as("seg"))
        .write.mode("append").parquet(deletesPath)
    n
  }

  /** Append/Insert hook: assign cells (FLAT/IVF) or build a delta graph
    * shard (DISKANN — the append-segment model of §2.8), append to the
    * index dataset (reference: src/diskann_index.cpp:316-361).
    *
    * `batch` = (streamId, batchId) for streaming maintenance, recorded in
    * the SAME meta write that publishes the new row count, so a replayed
    * micro-batch after a successful commit is detected and skipped.
    * Crash before that write: graph engines leave only unmanifested
    * orphan shard dirs — invisible to readers, reclaimed at the next
    * allocation of those ids — so the replay is clean; FLAT/IVF append
    * into shared list_id dirs, where the same crash is a redo window
    * with duplicate rows until the batch replays (the reference's WAL
    * redo has those semantics, src/diskann_index.cpp:536-546). */
  def insert(rows: DataFrame, idCol: String, vecCol: String,
             batch: Option[(String, Long)] = None): Unit = asWriter {
    val (n, delta0) = writeInsertData(rows, idCol, vecCol)
    val (delta, dropped, swapped, newShards) = splitOnlineMarkers(delta0)
    val (reclaimPatch, ripe) = deferReclaim(swapped)
    publishMeta(meta.copy(numVectors = meta.numVectors + n,
      numDeleted = math.max(0L, meta.numDeleted - dropped),
      params = reclaimPatch(withBatch(meta.params ++ delta, batch))))
    finishOnlinePublish(dropped, ripe)
    updateSummariesAfterWrite(newShards, swapped)
    invalidatePin()
    maybeAutoCompact()
  }

  /** GRACE-DEFERRED space reclamation for swapped-out shard dirs. The
    * old immediate post-publish delete raced standing readers: a scan
    * PLANNED against the pre-mutation manifest (its parquet file listing
    * is fixed at plan time) whose tasks run after the publish read
    * deleted files — measured as a hard FAILED_READ_FILE.FILE_NOT_EXIST
    * on a plan that merely spanned one online batch. Swapped-out ids sit
    * below next_shard and are NEVER re-allocated, so deletion is pure
    * space reclamation and can wait: each publish stamps its newly dead
    * ids into the `reclaim_pending` meta param and deletes only entries
    * older than `spark.ann.reclaimGraceMs` (default 60 s; 0 = the old
    * immediate behavior). A reader outliving the grace against a
    * mutating index should pin (persist) the index — the same advice any
    * snapshot-isolation system gives long readers. Crash-safe: the
    * pending list rides the meta commit, so the NEXT successful publish
    * (or an explicit gcOrphans) reclaims a crashed writer's backlog.
    *
    * @return (params patch to apply INSIDE the publishing meta write,
    *         ids ripe for deletion AFTER that write lands) */
  private def deferReclaim(newlyDead: Seq[Int])
      : (Map[String, String] => Map[String, String], Seq[Int]) = {
    val grace = spark.conf.get("spark.ann.reclaimGraceMs", "60000").toLong
    val now = System.currentTimeMillis()
    val pending = meta.params.get(AnnIndex.ReclaimKey).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).flatMap { e =>
        // tolerant parse: a malformed entry (hand-edited meta.json, a
        // foreign writer) must not poison every future mutation with a
        // parse throw — drop it (worst case one leaked dir; gcOrphans
        // reclaims)
        val at = e.lastIndexOf('@')
        if (at <= 0) None
        else scala.util.Try(
          (e.substring(0, at).toInt, e.substring(at + 1).toLong)).toOption
      }
    // Reader pins make the grace a FLOOR, not the whole story: a scan
    // longer than the grace registers a pin (pinScan) BEFORE planning,
    // and a dir that died at time t stays pending while any unexpired
    // pin was taken at or before t — that pin's planned manifest may
    // still reference it. Pins taken AFTER the death don't block (their
    // manifest already excludes the dir), so rolling short pins can't
    // starve reclamation; a crashed reader's pin expires by TTL.
    val pins = activePinTimes(now)
    val candidates = pending ++ newlyDead.map(sid => (sid, now))
    val (ripeEntries, remain) = candidates.partition { case (_, t) =>
      (grace <= 0 || now - t >= grace) && !pins.exists(_ <= t)
    }
    val ripe = ripeEntries.map(_._1)
    val patch: Map[String, String] => Map[String, String] =
      if (remain.isEmpty) _ - AnnIndex.ReclaimKey
      else _ + (AnnIndex.ReclaimKey ->
        remain.map { case (s, t) => s"$s@$t" }.mkString(","))
    (patch, ripe)
  }

  // ---- standing-reader pins (the documented "long readers should pin"
  //      advice, as code) ----

  private def pinsDir = java.nio.file.Paths.get(path, "pins")

  /** Register a standing-reader pin and return its token. Call BEFORE
    * planning a scan expected to outlive `spark.ann.reclaimGraceMs`
    * (a 100 TB near-dup pass over a CDC index): while the pin is live,
    * grace reclamation defers deleting any shard dir that was still
    * manifested when the pin was taken, so the scan's plan-time file
    * listing stays readable across online batches. Cross-process by
    * construction (a lease file under the index dir — another driver's
    * mutations see it); crash-safe via the TTL
    * (`spark.ann.scanPinTtlMs`, default 6 h — a died reader's pin
    * expires instead of blocking reclamation forever). Release with
    * [[unpinScan]] when the scan completes. NOT a snapshot: vacuum()'s
    * wholesale dataset replace and the explicit gcOrphans() lever still
    * proceed — pins cover the online-mutation reclaim path. */
  def pinScan(ttlMs: Long = -1L): String = pinScanWithExpiry(ttlMs)._1

  /** [[pinScan]] plus the lease's absolute expiry millis — the SQL verb
    * surfaces the expiry so an operator can tell whether a planned scan
    * will outlive its pin. */
  def pinScanWithExpiry(ttlMs: Long = -1L): (String, Long) = {
    val ttl =
      if (ttlMs > 0) ttlMs
      else spark.conf.get("spark.ann.scanPinTtlMs", "21600000").toLong
    java.nio.file.Files.createDirectories(pinsDir)
    val token = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    val tmp = pinsDir.resolve(s"$token.tmp")
    java.nio.file.Files.writeString(tmp, s"$now@${now + ttl}")
    java.nio.file.Files.move(tmp, pinsDir.resolve(token),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    (token, now + ttl)
  }

  /** Release a [[pinScan]] pin; unknown/expired tokens are a no-op.
    * Tokens are validated against the UUID alphabet BEFORE the path
    * resolve — the SQL verb passes user strings here, and a traversal
    * token ("../meta.json", an absolute path) must never delete anything
    * outside the pins dir. */
  def unpinScan(token: String): Unit = {
    if (token == null || token.isEmpty || token.length > 64 ||
        !token.forall(c => c.isLetterOrDigit || c == '-')) return
    try java.nio.file.Files.deleteIfExists(pinsDir.resolve(token))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Timestamps of unexpired reader pins; expired lease files are
    * cleaned opportunistically. Tolerant of malformed files (a foreign
    * writer must not poison mutations). */
  private def activePinTimes(now: Long): Seq[Long] = {
    val dir = pinsDir
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Files.list holds an open DirectoryStream until closed — this runs
    // inside deferReclaim on EVERY mutation, so relying on GC to close
    // it leaks one fd per micro-batch (EMFILE on a long CDC driver)
    val listing = java.nio.file.Files.list(dir)
    try listing.forEach { f =>
      val name = f.getFileName.toString
      if (!name.endsWith(".tmp")) {
        val parsed = scala.util.Try {
          val s = java.nio.file.Files.readString(f)
          val at = s.indexOf('@')
          (s.substring(0, at).toLong, s.substring(at + 1).toLong)
        }.toOption
        parsed match {
          case Some((pinnedAt, expires)) if expires > now => out += pinnedAt
          case Some(_) => // expired lease: clean it up
            try java.nio.file.Files.deleteIfExists(f)
            catch { case scala.util.control.NonFatal(_) => () }
          case None => () // unreadable: leave it; TTL-less garbage is
            // inert (no timestamp parses → never blocks)
        }
      }
    } finally listing.close()
    out.toSeq
  }

  /** Post-publish half of an online rewrite (no-op on the delta path):
    * reclaim the RIPE pre-rewrite shard dirs (pure space reclamation
    * AFTER the meta commit, grace-deferred via [[deferReclaim]] — without
    * it a steady online stream leaks one full-size dead dir per
    * micro-batch, since those ids sit below next_shard and are never
    * re-allocated),
    * and when consolidation dropped rows, run the exact recount so the
    * overfetch bound stays an UPPER bound: delete() increments numDeleted
    * by tombstone count, but one tombstone can mask several physical
    * copies of an id (re-insert without delete is legal append
    * semantics), so decrementing by physically-dropped rows can leave the
    * counter UNDER the surviving masked-row count — and an undercounted
    * k+numDeleted beam silently returns short/wrong top-k. The recount is
    * one partition-pruned count against the tombstone broadcast, paid
    * only on delete-consolidating batches; it also drops a delete log
    * that no longer masks anything. */
  private def finishOnlinePublish(dropped: Long, ripe: Seq[Int]): Unit = {
    ripe.foreach(sid => IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
    if (dropped > 0) refreshDeadCount()
  }

  /** Strip the reserved bookkeeping keys a graph write returns next to
    * its real params delta: (clean delta, consolidated-away row count,
    * swapped-out shard ids, freshly written shard ids). */
  private def splitOnlineMarkers(
      delta: Map[String, String]): (Map[String, String], Long, Seq[Int], Seq[Int]) = {
    def ids(key: String) = delta.get(key).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.toInt)
    val dropped = delta.get("__online_dropped").map(_.toLong).getOrElse(0L)
    (delta - "__online_dropped" - "__online_swapped" - "__new_shards",
      dropped, ids("__online_swapped"), ids("__new_shards"))
  }

  /** Conf-driven compaction trigger: with `spark.ann.autoCompactMinShards`
    * set to N > 0, any graph-engine mutation that leaves >= N live shards
    * folds the undersized ones via [[compactShards]] before returning.
    * Runs inside the caller's mutation (insert/applyCdc), so the
    * single-writer contract holds by construction — there is never a
    * second concurrent writer to race. Off by default (0): steady bulk
    * loads don't need it, and a serving deployment opts in with the
    * shard-count ceiling it wants. Without it, repeated CDC micro-batches
    * accumulate one delta shard each until someone calls compactShards()
    * manually. */
  // Shard set the last NO-OP compaction attempt ran against: when every
  // live shard is already above the size threshold, compactShards() keeps
  // returning 0 — without this marker each subsequent micro-batch would
  // re-pay its full per-shard count job (plus a re-pin) for a compaction
  // that can never happen until the shard set changes again.
  @volatile private var lastNoopCompactShards: Set[Int] = Set.empty

  private def maybeAutoCompact(): Unit = {
    if (!isGraphEngine) return
    val minShards = spark.conf.get("spark.ann.autoCompactMinShards", "0").toInt
    if (minShards <= 0) return
    val live = liveShardIds.toSet
    if (live.size < minShards || live == lastNoopCompactShards) return
    if (compactShards() == 0) lastNoopCompactShards = live
    else lastNoopCompactShards = Set.empty
  }

  /** Delete hook: tombstone the ids at the current epoch
    * (reference: src/diskann_index.cpp:363-385). */
  def delete(ids: DataFrame, batch: Option[(String, Long)] = None): Unit =
    asWriter {
      val n = writeTombstones(ids)
      publishMeta(meta.copy(numDeleted = meta.numDeleted + n,
        params = withBatch(meta.params, batch)))
    }

  def delete(ids: Seq[Long]): Unit = {
    import spark.implicits._
    delete(ids.toDF("id"))
  }

  /** Mixed CDC micro-batch with ONE meta publish: tombstones land at the
    * pre-batch epoch, inserts at the next epoch (so a delete+insert of the
    * same id in one batch is a visible update), and a single meta write
    * publishes both counts plus the stream watermark. A crash before that
    * write replays the whole batch: re-appended tombstone rows are
    * duplicates with identical (id, seg) — semantically inert — and
    * re-appended data rows are superseded only by the watermark skip, so
    * the redo window stays the same single append-vs-meta gap as insert. */
  def applyCdc(delIds: DataFrame, insRows: DataFrame, idCol: String,
               vecCol: String, batch: Option[(String, Long)] = None): Unit =
      asWriter {
    val nDel = if (delIds.isEmpty) 0L else writeTombstones(delIds)
    val (nIns, delta0) =
      if (insRows.isEmpty) (0L, Map.empty[String, String])
      else writeInsertData(insRows, idCol, vecCol)
    val (delta, dropped, swapped, newShards) = splitOnlineMarkers(delta0)
    val (reclaimPatch, ripe) = deferReclaim(swapped)
    publishMeta(meta.copy(
      numVectors = meta.numVectors + nIns,
      numDeleted = math.max(0L, meta.numDeleted + nDel - dropped),
      params = reclaimPatch(withBatch(meta.params ++ delta, batch))))
    finishOnlinePublish(dropped, ripe)
    updateSummariesAfterWrite(newShards, swapped)
    invalidatePin()
    maybeAutoCompact()
  }

  /** Vacuum: compact away tombstones, atomically replacing the dataset
    * (reference: src/diskann_index.cpp:701-741). */
  def vacuum(): Unit = {
    if (!hasDeletes) return
    // whole-body writer lock: vacuum destructively replaces the live
    // dataset BEFORE its publish — a vacuum racing another driver's
    // publish must fail fast before replaceDir, or it would destroy dirs
    // the winning mutation just manifested
    asWriter(vacuumLocked())
  }

  private def vacuumLocked(): Unit = {
    val tmp = s"$path/data_compact"
    if (isGraphEngine) {
      // graph compaction = rebuild without tombstones (the reference also
      // rebuilds + remaps, rust_lib/src/index_manager.rs:687-716)
      // quantized graphs rebuild from dequantized vectors (same reconstruct-
      // then-rebuild shape as mergeFrom; codes are re-fit-free: quant params
      // are range-stable under row removal)
      val liveFloats = codec match {
        case Some(c) => data.select(col("id"),
          c.decodeUdf(col("codes")).as("vector"), col("seg"))
        case None => data.select(col("id"), col("vector"), col("seg"))
      }
      // epoch-aware tombstone mask, matching `live`
      val liveVecs = maskDead(liveFloats).select("id", "vector")
      val liveCount = liveVecs.count()
      // re-size to the SURVIVING data (the same per-task budget create
      // defaults to) rather than reusing meta's live-shard count: that
      // count may be skew-split-inflated or delete-deflated, and reusing
      // it would ratchet — a 90%-deleted index would rebuild its tiny
      // remainder across the old wide shard set forever
      val shards = AnnIndexBuilder.defaultGraphShards(liveCount, meta.dim)
      val (rebuilt0, shardsActual) = buildGraphFor(liveVecs, shards, liveCount)
      val rebuilt = (codec match {
        case Some(c) => rebuilt0
          .withColumn("codes", c.encodeUdf(col("vector")))
          .drop("vector")
        case None => rebuilt0
      }).withColumn("seg", lit(currentSeg)) // tombstones are cleared below,
      // so a uniform epoch on the rebuilt shards is sound
      rebuilt.write.mode("overwrite").partitionBy("shard")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(tmp)
      IndexMeta.replaceDir(tmp, dataPath)
      IndexMeta.deleteDir(deletesPath)
      // full-rebuild manifest: exactly the dirs the rebuild produced
      // (orphans died with the old dir); contiguous ids again. The
      // grace-pending list MUST die here too: vacuum is the one mutation
      // that REUSES shard ids, so a carried-over reclaim_pending entry
      // would later grace-delete a now-LIVE dir (permanent data loss) —
      // the old pending dirs were replaced wholesale by replaceDir anyway.
      val liveNow = IndexMeta.listShardDirs(dataPath)
      publishMeta(meta.copy(numVectors = liveCount, numDeleted = 0,
        params = meta.params - AnnIndex.ReclaimKey
          + ("shards" -> math.max(liveNow.size, 1).toString)
          + ("next_shard" -> shardsActual.toString)
          + ("live_shards" -> liveNow.mkString(","))))
      // vacuum REUSES shard ids (the one mutation that does), so stale
      // summaries under the same ids would be silently wrong — drop the
      // file first, then recompute from scratch (preserving a hash
      // index's explicit opt-in, captured before the delete)
      val maintained = summariesMaintained
      ShardSummaries.delete(path)
      invalidateSummaries()
      if (maintained) updateSummariesAfterWrite(liveNow, Nil, force = true)
      invalidatePin()
      return
    } else {
      val liveCount = live.count()
      live.write.mode("overwrite").partitionBy("list_id")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(tmp)
      IndexMeta.replaceDir(tmp, dataPath)
      IndexMeta.deleteDir(deletesPath)
      publishMeta(meta.copy(numVectors = liveCount, numDeleted = 0))
    }
    invalidatePin()
  }

  /** Data dirs present on disk for a cell-partitioned (FLAT/IVF) dataset. */
  private def listCellDirs: Seq[Int] = {
    val p = java.nio.file.Paths.get(dataPath)
    if (!java.nio.file.Files.isDirectory(p)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val listing = java.nio.file.Files.list(p)
    try listing.forEach { f =>
      val n = f.getFileName.toString
      if (n.startsWith("list_id=") && java.nio.file.Files.isDirectory(f))
        scala.util.Try(n.stripPrefix("list_id=").toInt).foreach(out += _)
    } finally listing.close()
    out.sorted.toSeq
  }

  /** SPANN-style IVF cell rebalancing: split every cell whose physical row
    * count exceeds `maxCellFactor` × the mean into sub-cells with freshly
    * trained sub-centroids. At 100 TB a skewed posting list makes every
    * probe that touches it a straggler; balanced lists are the SPANN
    * design invariant (Chen et al., NeurIPS'21 — the same paper behind
    * the adaptive-nprobe rule). Returns the number of cells split.
    *
    * Mutation model (same redo-window class insert documents):
    *  1. orphan GC — a data dir the centroid table doesn't know is a
    *     crashed writer's leftover; reclaimed first, which also makes a
    *     crashed rebalance repair itself on the next run;
    *  2. sub-cell rows append under FRESH list_ids — probed searches
    *     cannot reach them (no centroid yet); only exhaustive scans see
    *     duplicates inside the redo window;
    *  3. the centroid-table swap (tmp + atomic replace) is the commit;
    *  4. old cell dirs are deleted after the swap — a crash between 3
    *     and 4 leaves orphans for step 1.
    *
    * Quantized cells assign sub-centroids on decoded reconstructions —
    * clustering the stored representation, consistent with search.
    *
    * Single-writer discipline (the contract every mutation here has): an
    * AnnIndex instance created BEFORE a rebalance holds the old centroid
    * set and must be reloaded before further inserts — assigning into a
    * split cell would write rows only the orphan GC can see. This
    * instance refreshes itself. */
  def rebalanceCells(maxCellFactor: Double = 4.0): Int = {
    require(meta.engine == "IVF",
      s"rebalanceCells is an IVF operation (engine ${meta.engine})")
    require(maxCellFactor > 1.0, s"maxCellFactor must exceed 1, got $maxCellFactor")
    asWriter(rebalanceCellsLocked(maxCellFactor))
  }

  private def rebalanceCellsLocked(maxCellFactor: Double): Int = {
    val cdf = centroidsDf
    val hasRadius = cdf.columns.contains("radius")
    val cents = cdf.collect().map(r => (r.getAs[Int]("list_id"),
      r.getAs[Seq[Float]]("centroid").toArray,
      if (hasRadius) r.getAs[Double]("radius") else 0.0))
    val known = cents.map(_._1).toSet
    listCellDirs.filterNot(known).foreach(lid =>
      IndexMeta.deleteDir(s"$dataPath/list_id=$lid")) // step 1: orphan GC

    val sizes = readData().groupBy("list_id").count().collect()
      .map(r => r.getAs[Int]("list_id") -> r.getLong(1)).toMap
    if (sizes.isEmpty) return 0
    val mean = sizes.values.sum.toDouble / sizes.size
    val oversized = sizes.filter(_._2 > maxCellFactor * mean).keys.toSeq.sorted
    if (oversized.isEmpty) return 0

    var nextId = (known ++ sizes.keySet).max + 1
    val newCents = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Float], Double)]
    val decodedVec: Column = codec match {
      case Some(c) => c.decodeUdf(col("codes"))
      case None => col("vector")
    }
    for (lid <- oversized) {
      val n = sizes(lid)
      val cell = readData().filter(col("list_id") === lid)
      val withV = cell.withColumn("__v", decodedVec)
      // sub-cell count sized to land splits near the mean; bounded sample
      // for training (faiss posture: training is always sampled)
      val s = math.min(16, math.max(2, math.ceil(n / mean).toInt))
      val cap = math.min(n, math.min(256L * s, AnnIndexBuilder.MaxTrainRows.toLong))
      val trainDf = if (cap < n) withV.sample(withReplacement = false, cap.toDouble / n, seed = 42)
        else withV
      val sample = trainDf.select("__v").collect().map(_.getSeq[Float](0).toArray)
      val subs = AnnIndexBuilder
        .trainCentroids(sample, math.min(s, math.max(1, sample.length)),
          maxIter = 10, seed = 42 + lid)
        .map { case (i, c) => (nextId + i, c) }
      nextId += subs.length
      val bc = spark.sparkContext.broadcast(subs)
      val assign = udf { (v: Seq[Float]) =>
        val q = v.toArray
        var best = bc.value.head._1; var bestD = Double.MaxValue
        for ((sid, c) <- bc.value) {
          val d = graft.functions.VectorKernels.l2Sq(q, c)
          if (d < bestD) { bestD = d; best = sid }
        }
        best
      }
      val dTo = udf { (sid: Int, v: Seq[Float]) =>
        math.sqrt(graft.functions.VectorKernels.l2Sq(v.toArray,
          bc.value.find(_._1 == sid).get._2))
      }
      val assigned = withV.withColumn("list_id", assign(col("__v"))).cache()
      // step 2: append the re-assigned rows under the fresh ids
      assigned.drop("__v")
        .write.mode("append").partitionBy("list_id")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(dataPath)
      val radii = assigned
        .groupBy("list_id").agg(max(dTo(col("list_id"), col("__v"))).as("r"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assigned.unpersist()
      newCents ++= subs.map { case (sid, c) => (sid, c, radii.getOrElse(sid, 0.0)) }
    }

    // step 3: commit — swap the centroid table
    val merged = cents.filterNot(c => oversized.contains(c._1)) ++ newCents
    import spark.implicits._
    val tmp = s"$path/centroids_tmp"
    val mergedDf =
      if (hasRadius) merged.toSeq.toDF("list_id", "centroid", "radius")
      else merged.toSeq.map { case (l, c, _) => (l, c) }.toDF("list_id", "centroid")
    mergedDf.coalesce(1).write.mode("overwrite").parquet(tmp)
    IndexMeta.replaceDir(tmp, centroidsPath)

    // step 4: drop the split cells' old dirs
    oversized.foreach(lid => IndexMeta.deleteDir(s"$dataPath/list_id=$lid"))

    publishMeta(meta.copy(params =
      meta.params + ("nlist" -> merged.size.toString)))
    centroidsCache = null
    invalidatePin()
    oversized.size
  }

  /** MergeIndexes: pull every live vector from the other index and insert;
    * quantized sources are dequantized first (FAISS path uses
    * reconstruct_n the same way, src/faiss_index.cpp:783-838). */
  def mergeFrom(other: AnnIndex): Unit = {
    val src = other.codec match {
      case Some(c) => other.live.select(col("id"),
        c.decodeUdf(col("codes")).as("vector"))
      case None => other.live.select(col("id"), col("vector"))
    }
    insert(src, "id", "vector")
  }

  /** Compact small graph shards WITHOUT a full rebuild. Repeated
    * inserts/CDC batches accumulate small delta shards, and every shard
    * costs one beam search per query — search time grows with shard
    * count even when row count doesn't. This rebuilds ONLY the shards
    * below `minRows` (default: half the dimension-aware per-shard budget)
    * into properly-sized shards and leaves large shards untouched; at
    * scale that rewrites a few small segments instead of vacuum()'s
    * whole-index rebuild. Dead rows of the compacted shards are dropped
    * (their tombstones remain and keep masking other shards' rows —
    * sound, because a surviving row's epoch strictly exceeds every
    * tombstone epoch for its id, so re-stamping it at the current epoch
    * cannot resurrect anything; see `currentSeg`). After the drop,
    * `numDeleted` is recounted against the surviving data so the search
    * overfetch (k + numDeleted) deflates with the dead rows instead of
    * staying permanently inflated until a full vacuum; a delete log
    * that no longer masks anything is removed outright.
    *
    * Atomicity: copy-on-write via the shard manifest. The merged shards
    * are appended under fresh ids (invisible — not yet manifested), then
    * ONE atomic meta write swaps small-out/merged-in, then the old dirs
    * are deleted (pure space reclamation). A reader observes either the
    * full pre- or full post-compaction index at every point; a crash
    * leaves only unlisted junk dirs, reclaimed when their ids are next
    * allocated or by `vacuum()`.
    *
    * Returns the number of shards compacted away (0 = nothing to do). */
  def compactShards(minRows: Long = 0): Int = {
    require(isGraphEngine, s"compactShards: ${meta.engine} has no graph shards")
    asWriter(compactShardsLocked(minRows))
  }

  private def compactShardsLocked(minRows: Long): Int = {
    val counts = data.groupBy("shard").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val threshold =
      if (minRows > 0) minRows
      else AnnIndexBuilder.targetShardRows(meta.dim) / 2
    val small = counts.filter(_._2 < threshold).map(_._1).sorted
    if (small.length < 2) return 0 // one small shard is already compact

    val smallSet = small.toSet
    val subsetTotal = counts.collect { case (s, c) if smallSet(s) => c }.sum
    val subset = data.filter(col("shard").isin(small.toSeq: _*))
    val floats = codec match {
      case Some(c) => subset.select(col("id"),
        c.decodeUdf(col("codes")).as("vector"), col("seg"))
      case None => subset.select(col("id"), col("vector"), col("seg"))
    }
    // epoch-aware tombstone mask, matching `live`
    val liveSub = maskDead(floats).select("id", "vector")
    val liveCount = liveSub.count()

    val nextShard = meta.param("next_shard", meta.param("shards", 1))
    val nNewTarget = if (liveCount == 0) 0
      else AnnIndexBuilder.defaultGraphShards(liveCount, meta.dim)
    // build first: spatial skew splitting can widen the id range below
    val (rebuiltRaw, nNew) =
      if (nNewTarget == 0) (null: DataFrame, 0)
      else buildGraphFor(liveSub, nNewTarget, liveCount)
    val preLive = liveShardIds // legacy fallback lists dirs: exclude the
      // target range, which is reclaimed and rewritten below
      .filterNot(sid => sid >= nextShard && sid < nextShard + nNew)
    // reclaim crashed writers' orphans at the target ids (never live)
    (nextShard until nextShard + nNew).foreach(sid =>
      IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
    if (nNew > 0) {
      val rebuilt = (codec match {
        case Some(c) => rebuiltRaw
          .withColumn("codes", c.encodeUdf(col("vector")))
          .drop("vector")
        case None => rebuiltRaw
      }).withColumn("shard", (col("shard") + lit(nextShard)).cast("int"))
        .withColumn("seg", lit(currentSeg))
      rebuilt.write.mode("append").partitionBy("shard")
        .option("parquet.enable.dictionary", "false") // §6: see create
        .parquet(dataPath)
    }
    // Manifest swap: old small shards out, written merged shards in —
    // published in ONE atomic meta write, so every reader sees either the
    // full pre-compaction or the full post-compaction index. The dir
    // deletes after the publish are pure space reclamation.
    val written = IndexMeta.listShardDirs(dataPath)
      .filter(sid => sid >= nextShard && sid < nextShard + nNew)
    val newLive = preLive.filterNot(smallSet) ++ written
    val (reclaimPatch, ripe) = deferReclaim(small.toSeq)
    publishMeta(meta.copy(
      numVectors = meta.numVectors - (subsetTotal - liveCount),
      params = reclaimPatch(meta.params
        + ("shards" -> newLive.size.toString)
        + ("next_shard" -> (nextShard + nNew).toString)
        + ("live_shards" -> newLive.mkString(",")))))
    ripe.foreach(sid => IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
    updateSummariesAfterWrite(written, small.toSeq)
    invalidatePin()
    refreshDeadCount()
    small.length
  }

  /** Delete unmanifested shard dirs — a crashed writer's leftovers.
    * Reclaim normally happens lazily when an orphan's id is next
    * allocated (insert/compactShards pre-clean their target range) or
    * wholesale at vacuum; this makes the space reclamation schedulable.
    * Single-writer assumption (same as every mutation here): must not
    * run concurrently with an in-flight insert, whose pre-publish dirs
    * are indistinguishable from orphans. Returns dirs removed. */
  def gcOrphans(): Int = {
    require(isGraphEngine, s"gcOrphans: ${meta.engine} has no shard manifest")
    asWriter {
      meta.liveShards match {
        case None => 0 // legacy layout: every dir is live
        case Some(live) =>
          val liveSet = live.toSet
          val orphans = IndexMeta.listShardDirs(dataPath).filterNot(liveSet)
          orphans.foreach(sid => IndexMeta.deleteDir(s"$dataPath/shard=$sid"))
          // the sweep just deleted any grace-pending dirs too (they are
          // unmanifested by definition) — retire their bookkeeping; the
          // verb is the explicit reclaim-NOW lever, grace included
          if (meta.params.contains(AnnIndex.ReclaimKey))
            publishMeta(meta.copy(params = meta.params - AnnIndex.ReclaimKey))
          orphans.size
      }
    }
  }

  /** Recount `numDeleted` as the number of data rows a tombstone still
    * masks. Physical drops (compactShards) make tombstones obsolete
    * without shrinking the counter, and the counter drives the graph
    * search overfetch (k + numDeleted) — left to only grow, every search
    * carries beam width for rows that no longer exist. When no row is
    * masked anymore the delete log itself is removed (the log is an
    * upper bound between refreshes; `vacuum()` still clears everything).
    * Public: an operator (or the SQL verb `ann_refresh_stats`) schedules
    * it when overfetch drift matters between compactions. */
  def refreshDeadCount(): Unit = if (hasDeletes) asWriter {
    val base = readData() // unpinned: the pin may predate the drop
    val dead = joinDead(base, "left_semi").count()
    if (dead == 0) IndexMeta.deleteDir(deletesPath)
    publishMeta(meta.copy(numDeleted = dead))
  }
}

object AnnIndex {

  /** Safety margin of the beam range frontier, on the ENGINE distance
    * scale (squared-L2 for l2): larger → the beam runs farther past the
    * query ball → higher recall, more work. */
  val RangeBeamEps = 0.1

  /** Cap on the doubling beam width of range search: a query ball denser
    * than the cap returns the cap's nearest within-radius subset. */
  val RangeBeamMaxWidth = 4096

  /** Live-shard count above which the router builds its coarse level
    * (see [[ShardSummaries.Router.build]], which floors it). */
  val RouteCoarseThreshold = 256

  /** Coarse-level beam width factor: the centroid graph is searched at
    * `RouteOverscan × s` before keeping the best s shards. */
  val RouteOverscan = 4

  /** Meta-param key holding grace-pending shard dirs (`sid@deadMillis`
    * CSV) awaiting deferred reclamation — see `deferReclaim`. */
  private[index] val ReclaimKey = "reclaim_pending"

  /** Router-cache slot: the routing decision (None = coverage gap →
    * walk-all) pinned to the summaries version it was computed at — plus
    * the routed TABLE path's `Broadcast[Router]`, created at most once per
    * entry. Before the pin,
    * every `scanGraphTable` call re-broadcast the O(shards × dim) router
    * (~300 MB at 100k×d768) and never unpersisted it: a standing
    * workload (the near-dup loop is exactly repeat table searches)
    * re-shipped the payload per pass and leaked broadcast blocks for the
    * driver's lifetime. Now one broadcast serves every call of a
    * summaries version; invalidation unpersists it (non-blocking —
    * executors holding the old blocks re-fetch from the driver if an
    * in-flight task still needs them; only `destroy()` would break that,
    * and we never destroy). */
  private[index] final case class RouterCacheEntry(
      version: Long, router: Option[ShardSummaries.Router]) {
    @volatile private var bcVar
        : org.apache.spark.broadcast.Broadcast[ShardSummaries.Router] = _
    def broadcastFor(sc: org.apache.spark.SparkContext)
        : Option[org.apache.spark.broadcast.Broadcast[ShardSummaries.Router]] =
      router.map { r =>
        var b = bcVar
        if (b == null) synchronized {
          b = bcVar
          if (b == null) { b = sc.broadcast(r); bcVar = b }
        }
        b
      }
    def unpersistBroadcast(): Unit = {
      val b = bcVar
      if (b != null) b.unpersist(false)
    }
    /** Broadcast identity for specs/arms pinning the one-per-version
      * contract (None until the table path first materializes it). */
    private[graft] def broadcastId: Option[Long] = Option(bcVar).map(_.id)
  }
  /** Stream key-contiguous row groups from a sorted iterator — the caller
    * must have `sortWithinPartitions` on the key column, which is what
    * lets one group at a time live in memory instead of a whole-partition
    * `toSeq.groupBy`. */
  private[index] def groupedByIntKey(
      rows: Iterator[org.apache.spark.sql.Row],
      key: org.apache.spark.sql.Row => Int)
      : Iterator[(Int, scala.collection.Seq[org.apache.spark.sql.Row])] = {
    val it = rows.buffered
    new Iterator[(Int, scala.collection.Seq[org.apache.spark.sql.Row])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Int, scala.collection.Seq[org.apache.spark.sql.Row]) = {
        val k = key(it.head)
        val buf = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
        while (it.hasNext && key(it.head) == k) buf += it.next()
        (k, buf)
      }
    }
  }
}
