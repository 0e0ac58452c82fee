package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/** Index build internals shared by create + insert paths. */
object AnnIndexBuilder {

  /** Canonicalize (id BIGINT, vector ARRAY<FLOAT>); cosine metric stores
    * L2-normalized vectors (normalize-at-build + IP, SURVEY §2.7). The
    * single-pass [[graft.functions.NormalizeVector]] expression is the SAME
    * kernel queries use at search time, so build- and query-side
    * normalization are bit-identical. */
  def prepare(df: DataFrame, idCol: String, vecCol: String, metric: String): DataFrame = {
    // vector_nonnull narrows the element type to containsNull=false (null
    // elements → NaN, excluded from every top-k): index datasets then store
    // REQUIRED parquet elements and every scan/build kernel compiles
    // without the per-element null guard.
    val base = df.select(
      col(idCol).cast(LongType).as("id"),
      graft.functions.AnnFunctions.vector_nonnull(col(vecCol)).as("vector"))
    if (metric == "cosine")
      base.withColumn("vector",
        graft.functions.AnnFunctions.normalize_vector(col("vector")))
    else base
  }

  /** Assign each row to its nearest cell (L2, as faiss IVF assignment,
    * reference: src/faiss_index.cpp:301-319). Executor-side loop over the
    * broadcast centroid array — no shuffle. */
  def assignLists(df: DataFrame, centroids: Array[(Int, Array[Float])],
                  engine: String): DataFrame = {
    if (engine == "FLAT" || centroids.length <= 1) {
      df.withColumn("list_id", lit(0))
    } else {
      val sc = df.sparkSession.sparkContext
      val bc = sc.broadcast(centroids)
      val assign = udf { (v: Seq[Float]) =>
        val q = v.toArray
        var best = 0; var bestD = Double.MaxValue
        for ((lid, c) <- bc.value) {
          val d = graft.functions.VectorKernels.l2Sq(q, c)
          if (d < bestD) { bestD = d; best = lid }
        }
        best
      }
      df.withColumn("list_id", assign(col("vector")))
    }
  }

  /** Hard ceiling on rows collected for centroid training, whatever the
    * caller asks for — training is ALWAYS sampled, as in faiss. */
  val MaxTrainRows = 262144

  /** Nearest-center shard assignment (row-local, broadcast centers) as a
    * `__sa` column for the graph builders' assignCol path. */
  def assignShards(prepared: DataFrame,
                   centers: Array[(Int, Array[Float])]): DataFrame =
    assignLists(prepared, centers, "IVF").withColumnRenamed("list_id", "__sa")

  /** Bounded-cell spatial assignment for a graph index
    * (`shard_assign=spatial`), trained and SIZED from one driver sample
    * (the IVF coarse-training posture: 256 rows/center, MaxTrainRows
    * ceiling — spatially coherent shards are what give per-shard routing
    * summaries their signal; hash shards' centroids are ~the global
    * mean): k-means trains the centers, the sample's per-cell shares
    * estimate cell sizes, and any cell whose
    * estimate exceeds `targetRows` hash-splits into ceil(est/target)
    * sub-shards. k-means balance is data-dependent — on a real corpus one
    * dominant cluster would otherwise become a build task arbitrarily
    * larger than the per-task budget (straggler/OOM at exactly the scale
    * spatial sharding exists for). Sub-shards keep their parent's
    * locality, so each gets a meaningful routing summary; a query near a
    * split cluster ranks its sub-shards adjacently and widens into them
    * as `spark.ann.shardProbes` allows.
    *
    * Sizing from the SAMPLE (not an exact count pass) keeps this to a
    * single cluster-side assignment: an exact pre-count would evaluate
    * the O(n·k·d) nearest-center UDF twice over the full batch. The
    * estimate's error band (~1/√sample per cell at the 256·k sample) can
    * leave a borderline cell ~modestly above target — a soft perf budget
    * with headroom, not a correctness bound.
    *
    * Returns (rows with a dense `__sa` in [0, total), total). */
  def spatialShardAssign(prepared: DataFrame, n: Long, k: Int,
                         targetRows: Long, seed: Long): (DataFrame, Int) = {
    val cap = math.min(n, math.min(256L * k, MaxTrainRows.toLong))
    val sampleDf =
      if (cap < n)
        prepared.sample(withReplacement = false,
          math.min(1.0, cap.toDouble / n * 1.2), seed).limit(cap.toInt)
      else prepared
    val sample = sampleDf.select("vector").collect()
      .map(_.getSeq[Float](0).toArray)
    val centers = trainCentroids(sample, math.min(k, math.max(1, sample.length)),
      maxIter = 10, seed = seed)
    // estimate cell sizes from the training sample's shares
    val sampleCounts = new Array[Long](centers.length)
    sample.foreach { v =>
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < centers.length) {
        val d = graft.functions.VectorKernels.l2Sq(v, centers(i)._2)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      sampleCounts(best) += 1
    }
    val centerIds = centers.map(_._1) // 0..k-1 from trainCentroids
    val splits = sampleCounts.map { sc =>
      val est = if (sample.isEmpty) 0L else sc * n / sample.length
      math.max(1L, (est + targetRows - 1) / targetRows).toInt
    }
    val total = splits.sum
    val assigned = assignShards(prepared, centers)
    if (total == centerIds.length) return (assigned, centerIds.length)
    val bases = splits.scanLeft(0)(_ + _)
    val baseOf = centerIds.zip(bases).toMap
    val splitOf = centerIds.zip(splits).toMap
    val sc = prepared.sparkSession.sparkContext
    val bc = sc.broadcast((baseOf, splitOf))
    val sub = udf { (c: Int, id: Long) =>
      val (baseM, splitM) = bc.value
      val s = splitM(c)
      // splitmix-style id mix: deterministic, uniform across sub-shards
      val h = java.lang.Long.hashCode(id * -7046029254386353131L)
      baseM(c) + (if (s == 1) 0 else (h % s + s) % s)
    }
    (assigned.withColumn("__sa", sub(col("__sa"), col("id"))), total)
  }

  /** Default graph-engine shard count: bounded per-task BUILD TIME, not
    * just memory. Empirical (single-thread shard-sizing runs): insert cost
    * scales ~ n·d — 1.5 ms/insert at d=64 but ~17 ms at d=768, so a fixed
    * 100k-row shard would be a ~3 min task at d=64 yet ~30 min at d=768
    * (straggler/retry poison). Budgeting n·d ≈ 12.8M per shard (100k rows
    * at d=128) keeps any shard's build at roughly 3-5 minutes and its
    * decoded size ≈ 50 MB + edges at every dimension. */
  val ShardCellBudget = 12800000L // n·d per shard

  def defaultGraphShards(n: Long, dim: Int): Int =
    math.max(1, math.ceil(n.toDouble * math.max(dim, 1) / ShardCellBudget.toDouble).toInt)

  /** Target rows per shard at a given dimension (the budget above in rows). */
  def targetShardRows(dim: Int): Long =
    math.max(1L, ShardCellBudget / math.max(dim, 1))

  /** IVF centroid training: kmeans++ seeding + Lloyd iterations over a
    * DRIVER-SIDE bounded sample.
    *
    * faiss trains on ~max_points_per_centroid (256) rows per cell and
    * subsamples anything larger (reference: src/faiss_index.cpp:304-315) —
    * so training data is O(nlist) rows at ANY table scale, and a
    * distributed fit would be dominated by per-iteration job scheduling,
    * not compute (the round-1/2 bench: 5-7 s of 20 scheduled jobs for
    * milliseconds of arithmetic). Deterministic: seeded sample, seeded
    * init, fixed iteration order.
    */
  /** Rows per parallel training chunk. Both the seeding distance pass and
    * the Lloyd assignment pass are O(sample·k·d) arithmetic — at the scale
    * contract's nlist ~ √n (1M rows, nlist=1000, 256k-row sample) that is
    * hundreds of GFLOPs, far too much for one core. Chunks are processed on
    * the common pool but accumulation stays DETERMINISTIC: within a chunk
    * the row order is sequential, and chunk partials merge in fixed chunk
    * order, so results never depend on thread scheduling. */
  private val TrainChunkRows = 8192

  def trainCentroids(sample: Array[Array[Float]], k: Int, maxIter: Int,
                     seed: Long): Array[(Int, Array[Float])] = {
    val n = sample.length
    val kk = math.min(k, n)
    require(kk > 0, "cannot train centroids on an empty sample")
    val dim = sample(0).length
    val rnd = new scala.util.Random(seed)
    val nChunks = (n + TrainChunkRows - 1) / TrainChunkRows
    def parChunks(body: Int => Unit): Unit =
      if (nChunks <= 1) { var ch = 0; while (ch < nChunks) { body(ch); ch += 1 } }
      else java.util.stream.IntStream.range(0, nChunks).parallel().forEach(ch => body(ch))

    // kmeans++ seeding (the per-centroid distance refresh fans out over
    // chunks; the weighted prefix-scan draw stays sequential — it is O(n)
    // adds, negligible next to the O(n·d) distance pass)
    val centroids = Array.ofDim[Float](kk, dim)
    val d2 = Array.fill(n)(Double.MaxValue)
    var first = rnd.nextInt(n)
    System.arraycopy(sample(first), 0, centroids(0), 0, dim)
    var c = 1
    val chunkTotals = new Array[Double](nChunks)
    while (c < kk) {
      val prev = centroids(c - 1)
      parChunks { ch =>
        val lo = ch * TrainChunkRows
        val hi = math.min(n, lo + TrainChunkRows)
        var t = 0.0
        var i = lo
        while (i < hi) {
          val d = graft.functions.VectorKernels.l2Sq(sample(i), prev)
          if (d < d2(i)) d2(i) = d
          t += d2(i)
          i += 1
        }
        chunkTotals(ch) = t
      }
      var total = 0.0
      var tch = 0
      while (tch < nChunks) { total += chunkTotals(tch); tch += 1 }
      // weighted draw proportional to squared distance
      var target = rnd.nextDouble() * total
      var pick = 0
      var i = 0
      var acc = 0.0
      while (i < n && acc + d2(i) < target) { acc += d2(i); pick = i + 1; i += 1 }
      if (pick >= n) pick = n - 1
      System.arraycopy(sample(pick), 0, centroids(c), 0, dim)
      c += 1
    }

    // Lloyd iterations: per-chunk partial (sums, counts, changed), merged
    // in chunk order; empty cells keep their previous centroid
    val assign = new Array[Int](n)
    val sums = Array.ofDim[Double](kk, dim)
    val counts = new Array[Int](kk)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val chSums = new Array[Array[Array[Double]]](nChunks)
      val chCounts = new Array[Array[Int]](nChunks)
      val chChanged = new Array[Boolean](nChunks)
      parChunks { ch =>
        val lo = ch * TrainChunkRows
        val hi = math.min(n, lo + TrainChunkRows)
        val s = Array.ofDim[Double](kk, dim)
        val cnt = new Array[Int](kk)
        var anyChanged = false
        var i = lo
        while (i < hi) {
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < kk) {
            val d = graft.functions.VectorKernels.l2Sq(sample(i), centroids(j))
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          if (assign(i) != best) { assign(i) = best; anyChanged = true }
          val sb = s(best)
          val v = sample(i)
          var m = 0
          while (m < dim) { sb(m) += v(m); m += 1 }
          cnt(best) += 1
          i += 1
        }
        chSums(ch) = s; chCounts(ch) = cnt; chChanged(ch) = anyChanged
      }
      changed = false
      java.util.Arrays.fill(counts, 0)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var ch = 0
      while (ch < nChunks) {
        if (chChanged(ch)) changed = true
        val s = chSums(ch); val cnt = chCounts(ch)
        var j = 0
        while (j < kk) {
          counts(j) += cnt(j)
          val sj = sums(j); val cj = s(j)
          var m = 0
          while (m < dim) { sj(m) += cj(m); m += 1 }
          j += 1
        }
        ch += 1
      }
      var j = 0
      while (j < kk) {
        if (counts(j) > 0) {
          var m = 0
          while (m < dim) { centroids(j)(m) = (sums(j)(m) / counts(j)).toFloat; m += 1 }
        }
        j += 1
      }
      iter += 1
    }
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
  }

  /** Fit SQ8 per-dimension (min, scale) from the prepared vectors and
    * persist them under `$path/quant`; returns the params for the quantize
    * pass (reference SQ8 appendix, rust_lib/src/index_manager.rs:508-536). */
  def fitSq8(prepared: DataFrame, path: String): graft.functions.Sq8.QuantParams = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val mm = prepared
      .select(posexplode(col("vector")).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("vmin"), max("v").as("vmax"))
      .collect().map(r => (r.getInt(0), r.getFloat(1), r.getFloat(2)))
      .sortBy(_._1)
    mm.toSeq.map { case (d, lo, hi) => (d, lo, hi - lo) }
      .toDF("dim", "vmin", "scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/quant")
    graft.functions.Sq8.QuantParams(mm.map(_._2), mm.map(t => t._3 - t._2))
  }

  /** Train PQ codebooks (per-subspace kmeans over a bounded driver-side
    * sample — faiss likewise trains PQ on a subsample) and persist them
    * under `$path/pq`; returns the codebooks for the encode pass. The
    * sample is O(ksub) rows at ANY table scale, so training cost never
    * grows with the data (same posture as IVF centroid training above). */
  def fitPq(prepared: DataFrame, path: String, dim: Int, n: Long,
            params: Map[String, String]): graft.functions.Pq.Codebooks = {
    val proj = pqTrainProjection(prepared, dim, n, params)
    val books = fitPqBooksFromSample(
      proj.collect().map(_.getSeq[Float](0).toArray), dim, params)
    writePqBooks(prepared.sparkSession, books, path)
    books
  }

  /** The caller-thread half of the PQ fit: builds AND fully plans the
    * bounded training projection. A create can then collect it + train on
    * a worker thread (§2.6 overlap with the coarse centroid training or a
    * graph engine's shard build) — but Dataset CONSTRUCTION must stay on
    * the calling thread: a create() invoked during SQL analysis (the
    * `ann_create` TVF path) holds the SessionCatalog monitor, and a
    * worker-thread analysis would deadlock on it (observed: AnnSqlSpec
    * hung at the r19 overlap's first form). Forcing `executedPlan` here
    * leaves only catalog-free job execution to the async side. */
  def pqTrainProjection(prepared: DataFrame, dim: Int, n: Long,
                        params: Map[String, String]): DataFrame = {
    val (_, ksub) = graft.functions.Pq.resolveGeometry(dim, params)
    val want = math.min(math.max(64L * ksub, 16384L), MaxTrainRows.toLong)
    val trainDf =
      if (want < n) prepared.sample(withReplacement = false, want.toDouble / n, seed = 42)
      else prepared
    val proj = trainDf.select("vector")
    proj.queryExecution.executedPlan // analyze+optimize+plan on THIS thread
    proj
  }

  /** The pure-CPU training half of [[fitPq]] (see [[pqTrainProjection]]
    * for the split's thread-safety rationale). */
  def fitPqBooksFromSample(sample: Array[Array[Float]], dim: Int,
      params: Map[String, String]): graft.functions.Pq.Codebooks = {
    val (m, ksub) = graft.functions.Pq.resolveGeometry(dim, params)
    val dsub = dim / m
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty sample")
    val kk = math.min(ksub, sample.length)
    val flat = new Array[Float](m * ksub * dsub)
    // subspaces are independent kmeans problems — train them on parallel
    // driver threads (each writes a disjoint flat-array slice; results stay
    // deterministic because every subspace keeps its own fixed seed)
    val futures = (0 until m).map { s =>
      java.util.concurrent.CompletableFuture.runAsync(() => {
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
        val cents = trainCentroids(sub, kk, maxIter = 10, seed = 42 + s)
        for ((c, vec) <- cents)
          System.arraycopy(vec, 0, flat, (s * ksub + c) * dsub, dsub)
        // kk < ksub (tiny training set): unused slots repeat the last
        // trained centroid so no reachable code ever decodes to zeros
        for (c <- kk until ksub)
          System.arraycopy(cents.last._2, 0, flat, (s * ksub + c) * dsub, dsub)
      })
    }
    futures.foreach(await(_))
    graft.functions.Pq.Codebooks(m, ksub, dsub, flat)
  }

  /** `f.join()` that rethrows a failed future's own exception, not the
    * CompletionException wrapping it — async work keeps the failure type
    * its synchronous form had. */
  def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join()
    catch {
      case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause
    }

  /** The persistence half of [[fitPq]] (see [[fitPqBooks]]). */
  def writePqBooks(spark: SparkSession,
                   books: graft.functions.Pq.Codebooks, path: String): Unit = {
    import spark.implicits._
    val m = books.m; val ksub = books.ksub; val dsub = books.dsub
    (0 until m).flatMap(s => (0 until ksub).map { c =>
      val base = (s * ksub + c) * dsub
      (s, c, java.util.Arrays.copyOfRange(books.flat, base, base + dsub).toSeq)
    }).toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
  }
}

/** Index lifecycle manager — the catalog the reference keeps in DuckDB's
  * catalog + extension registry (reference: src/ann_extension.cpp:23-41,
  * src/ann_list.cpp:35-221). Indexes persist as parquet datasets + JSON
  * metadata; a JVM-wide registry maps name → path for `list`/`info`.
  *
  * The build replaces the reference's explicitly single-threaded sink
  * (`ParallelSink()=false`, src/include/diskann_index.hpp:197-199) with a
  * fully parallel Spark job: train on a sample, assign partitions in
  * parallel, write cell-partitioned parquet.
  */
object AnnIndexManager {

  private val registry = TrieMap.empty[String, String] // name → path
  private val buildLocks = TrieMap.empty[String, Object]
  private val metaCache = TrieMap.empty[String, ((Long, Long), IndexMeta)] // path → ((mtime, size), meta)
  /** Loaded-instance cache (path → AnnIndex): the driver-side serving
    * caches an AnnIndex carries — shard summaries, the two-level router,
    * its pinned `Broadcast[Router]`, the decoded-shard cache key — only
    * pay off when repeat calls REUSE the instance. The SQL surface loads
    * by name per STATEMENT, so without this every SQL search re-read the
    * summaries, rebuilt/re-read the router, and re-broadcast it.
    * Validity = in-memory `meta` equals the current on-disk meta: an
    * instance's own mutations rewrite meta.json to exactly its new
    * in-memory value (reused), while an out-of-process rewrite diverges
    * (fresh instance — same contract as `cachedMeta`'s stamp). A cached
    * instance bound to a DIFFERENT (stopped) SparkSession is likewise
    * replaced. LRU-bounded: each instance roots up to O(shards×dim) of
    * router state for the driver's lifetime (invalidation keeps stale
    * routers as patch bases by design), so an unbounded map would grow
    * with every index a long-lived session ever touches; eviction
    * unpersists the pinned router broadcast (the evicted instance, if
    * still referenced elsewhere, keeps working — an unpersisted broadcast
    * re-ships on demand until destroyed, and we never destroy). */
  private val InstanceCacheMax = 64
  private val instanceCache: java.util.Map[String, AnnIndex] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, AnnIndex](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, AnnIndex]): Boolean = {
          val evict = size() > InstanceCacheMax
          if (evict) e.getValue.releaseRouterBroadcast()
          evict
        }
      })

  def register(name: String, path: String): Unit = registry.put(name, path)
  def registered: Map[String, String] = registry.toMap

  /** Remove a catalog entry (the on-disk index dataset is untouched and
    * any loaded AnnIndex keeps working from its path). Transient indexes —
    * e.g. dedup scratch builds — unregister so they don't pollute
    * ann_list() or widen the optimizer rule's per-query catalog scan. */
  def unregister(name: String): Unit = registry.remove(name)

  /** Index metadata cached by meta.json (mtime, size): hot paths (the
    * optimizer rule scans the whole catalog per candidate query) must not
    * re-read from storage. In-process writes invalidate explicitly
    * (IndexMeta.write); the (mtime, size) key also catches out-of-process
    * rewrites unless both collide within the mtime granularity. */
  def cachedMeta(path: String): Option[IndexMeta] = scala.util.Try {
    val p = java.nio.file.Paths.get(path, "meta.json")
    val stamp = (java.nio.file.Files.getLastModifiedTime(p).toMillis,
      java.nio.file.Files.size(p))
    metaCache.get(path) match {
      case Some((s, m)) if s == stamp => m
      case _ =>
        val m = IndexMeta.read(path)
        metaCache.put(path, (stamp, m))
        m
    }
  }.toOption

  /** Drop a path's cached metadata (called by IndexMeta.write). */
  private[index] def invalidateMetaCache(path: String): Unit =
    metaCache.remove(path)

  /** CREATE INDEX (S12): validates the column shape like the reference
    * (FLOAT[N] with fixed dim, src/diskann_index.cpp:78-84), trains IVF
    * cells if requested, writes the index dataset.
    *
    * params: metric (l2|ip|cosine), nlist, nprobe, train_sample (0=all),
    * train_mode (sample|full — `full` refines the sampled kmeans++ pilot
    * with distributed full-data Lloyd rounds,
    * [[graft.pipeline.CorpusPipeline.trainClusterCentroidsDistributed]]:
    * the 100 TB path where a driver-capped sample under-represents the
    * distribution and cell sizes skew), plus engine-specific knobs
    * carried through to meta.
    */
  /** FAISS `index_factory`-style description strings (reference
    * `description` param, src/include/faiss_index.hpp:37-113):
    *
    *  - "Flat" → FLAT; "SQ8" / "SQfp16" → FLAT + scalar quantization;
    *    "PQ<m>" / "PQ<m>x<b>" → FLAT + product quantization
    *  - "IVF<n>" / "IVF<n>,Flat" → IVF nlist=n; "IVF<n>,SQ8" /
    *    "IVF<n>,SQfp16" → + scalar codes; "IVF<n>,PQ<m>" /
    *    "IVF<n>,PQ<m>x<b>" → + PQ codes (m subspaces, 2^b centroids each;
    *    b defaults to 8, faiss's convention)
    *  - "HNSW" / "HNSW<m>" → HNSW (m = graph degree)
    */
  def parseDescription(desc: String): (String, Map[String, String]) = {
    val ivf = "(?i)IVF(\\d+)(?:,(.+))?".r
    val hnsw = "(?i)HNSW(\\d+)?".r

    // the coding suffix shared by flat and IVF forms
    def coding(c: String): Map[String, String] = {
      val pq = "(?i)PQ(\\d+)(?:x(\\d+))?".r
      c.trim match {
        case f if f.equalsIgnoreCase("Flat") => Map.empty
        case s if s.equalsIgnoreCase("SQ8") => Map("quantization" -> "sq8")
        case s if s.equalsIgnoreCase("SQfp16") => Map("quantization" -> "fp16")
        case pq(m, bits) =>
          val ksub = Option(bits).map(b => math.pow(2, b.toInt).toInt)
          require(ksub.forall(k => k >= 2 && k <= 65536),
            s"PQ bit width out of range in description '$desc' (1..16 bits)")
          Map("quantization" -> "pq", "pq_m" -> m) ++
            ksub.map(k => "pq_ksub" -> k.toString)
        case other => throw new IllegalArgumentException(
          s"unsupported coding '$other' in index description: $desc " +
            "(expected Flat, SQ8, SQfp16, or PQ<m>[x<b>])")
      }
    }

    desc.trim match {
      case d if d.equalsIgnoreCase("Flat") => ("FLAT", Map.empty)
      case ivf(n, rest) =>
        ("IVF", Map("nlist" -> n) ++ Option(rest).map(coding).getOrElse(Map.empty))
      case hnsw(m) => ("HNSW", Option(m).map(v => Map("hnsw_m" -> v)).getOrElse(Map.empty))
      case c => ("FLAT", coding(c)) // bare SQ8 / SQfp16 / PQ<m> = coded flat
    }
  }

  def create(spark: SparkSession, name: String, df: DataFrame,
             idCol: String, vecCol: String, engineIn: String,
             params0: Map[String, String], path: String): AnnIndex = {
    // `description` overrides the engine choice, faiss-factory style
    val (engine, params1) = params0.get("description") match {
      case Some(desc) =>
        val (e, extra) = parseDescription(desc)
        (e, params0 ++ extra)
      case None => (engineIn, params0)
    }
    val metric = params1.getOrElse("metric", "l2")
    require(Seq("l2", "ip", "cosine").contains(metric), s"unknown metric $metric")
    require(Seq("FLAT", "IVF", "DISKANN", "HNSW").contains(engine),
      s"unknown engine $engine")
    params1.get("quantization").foreach(q =>
      require(graft.functions.VectorCodec.Supported(q),
        s"unknown quantization $q (supported: ${graft.functions.VectorCodec.Supported.mkString(", ")})"))
    // sign bits carry direction only — Hamming is an angular proxy, not a
    // magnitude-aware one, so bq storage is cosine-metric-only (fail fast,
    // never silently mis-rank; cf. the graph-engine sq8 lesson)
    if (params1.get("quantization").contains("bq"))
      require(metric == "cosine",
        s"quantization=bq requires metric=cosine (got $metric): sign bits cannot rank l2/ip")

    // dimension check on a sample row (schema validation, reference
    // src/diskann_index.cpp:82-84)
    val firstVec = df.select(vecCol).limit(1).collect()
    require(firstVec.nonEmpty, s"cannot index empty input for $name")
    val dim = firstVec.head.getSeq[Any](0).size

    // PQ geometry resolves (and validates against dim) up front so meta
    // always records the effective (pq_m, pq_ksub) — memory accounting and
    // reload both need them
    val params = params1 ++ (if (params1.get("quantization").contains("pq")) {
      val (m, ksub) = graft.functions.Pq.resolveGeometry(dim, params1)
      Map("pq_m" -> m.toString, "pq_ksub" -> ksub.toString)
    } else Map.empty[String, String]) ++
      // rabitq: pin the rotation seed in meta so every later encode
      // (inserts, vacuum, merges) and every query-side rotation agree
      (if (params1.get("quantization").contains("rabitq"))
         Map("rabitq_seed" -> params1.getOrElse("rabitq_seed", "42"))
       else Map.empty[String, String])

    val prepared = AnnIndexBuilder.prepare(df, idCol, vecCol, metric).cache()
    // create-time async jobs (PQ training, IVF radii): the finally joins
    // them on EVERY path, so a failed create leaves no Spark job running
    // behind it, and the caller sees the create's first failure
    val pending =
      scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.CompletableFuture[_]]
    def async[T](body: => T): java.util.concurrent.CompletableFuture[T] = {
      val f = java.util.concurrent.CompletableFuture.supplyAsync(() => body)
      pending += f
      f
    }
    try {
      val n = prepared.count()

      // §2.6 overlap: PQ codebook training reads only the cached prepared
      // set and nothing else until the encode step — start it NOW so its
      // sample-collect + driver kmeans run concurrently with whatever the
      // engine does next (coarse centroid training, or a graph engine's
      // whole shard build). Values unchanged: same sample seed and
      // per-subspace seeds; only the book WRITE stays inside the commit
      // window (it lands in the cleared index dir). The projection is
      // built AND planned on THIS thread — only the catalog-free job runs
      // async (see pqTrainProjection: a TVF-invoked create holds the
      // SessionCatalog monitor, and off-thread analysis deadlocks on it).
      val pqBooksFut =
        if (params.get("quantization").contains("pq")) {
          val proj = AnnIndexBuilder.pqTrainProjection(prepared, dim, n, params)
          Some(async(AnnIndexBuilder.fitPqBooksFromSample(
            proj.collect().map(_.getSeq[Float](0).toArray), dim, params)))
        } else None

      // build the stored representation: sq8 fits per-dim params from the
      // data first; fp16 is parameter-free half-precision packing
      def encodeStored(df0: DataFrame): DataFrame = params.get("quantization") match {
        case Some("sq8") =>
          val qp = AnnIndexBuilder.fitSq8(prepared, path)
          df0.withColumn("codes",
            graft.functions.Sq8.quantizeUdf(qp)(col("vector"))).drop("vector")
        case Some("fp16") =>
          df0.withColumn("codes",
            graft.functions.Fp16.encodeUdf(col("vector"))).drop("vector")
        case Some("pq") =>
          val books = AnnIndexBuilder.await(pqBooksFut.get)
          AnnIndexBuilder.writePqBooks(spark, books, path)
          df0.withColumn("codes",
            graft.functions.Pq.encodeUdf(books)(col("vector"))).drop("vector")
        case Some("bq") => // parameter-free sign packing, 1 bit/dim
          df0.withColumn("codes",
            graft.functions.Bq.encodeUdf(col("vector"))).drop("vector")
        case Some("rabitq") => // rotated sign bits + (r, cf) trailers
          val seed = params.getOrElse("rabitq_seed", "42").toLong
          df0.withColumn("codes",
            graft.functions.Rabitq.encodeUdf(seed)(col("vector"))).drop("vector")
        case _ => df0
      }

      if (engine == "DISKANN" || engine == "HNSW") {
        // partition-local graphs; default shard sizing bounds per-task
        // build time AND memory at any total scale (dimension-aware)
        val shards = params.get("shards").map(_.toInt)
          .getOrElse(AnnIndexBuilder.defaultGraphShards(n, dim))
        // shard_assign=spatial: rows go to their nearest trained shard
        // center (SPANN-style), giving per-shard routing summaries their
        // signal — spark.ann.shardProbes can then prune shards per query.
        // Default "hash" keeps the id-hash layout (uniform shards, no
        // routing signal, zero behavior change).
        val assignMode = params.getOrElse("shard_assign", "hash")
        require(assignMode == "hash" || assignMode == "spatial",
          s"shard_assign must be hash|spatial, got: $assignMode")
        // spatial: `shards` is the CENTER count; oversized cells
        // hash-split to keep every build task inside the per-task budget
        // (spatialShardAssign), so the actual shard count may exceed it
        val (buildSrc, assignCol, buildShards) =
          if (assignMode == "spatial" && shards > 1) {
            val (asg, total) = AnnIndexBuilder.spatialShardAssign(
              prepared, n, shards, AnnIndexBuilder.targetShardRows(dim), 42L)
            (asg, Some("__sa"), total)
          } else (prepared, None, shards)
        val graph = engine match {
          case "DISKANN" => Vamana.build(buildSrc, buildShards, Vamana.Params(
            params.getOrElse("max_degree", "64").toInt,
            params.getOrElse("build_complexity", "128").toInt,
            params.getOrElse("alpha", "1.2").toDouble), metric, assignCol)
          case "HNSW" => Hnsw.build(buildSrc, buildShards, Hnsw.Params(
            params.getOrElse("hnsw_m", "32").toInt,
            params.getOrElse("ef_construction", "64").toInt), metric, assignCol)
        }
        // destructive replace window under the writer lock (exclusion,
        // not CAS — a create overwrites by design; the lock keeps a
        // concurrent mutation of the PRIOR index from interleaving with
        // the replace, and the generation continues monotonically so
        // that mutation fails its CAS afterwards)
        IndexMeta.withWriter(path)(IndexMeta.diskGenNow(path)) {
          // replaced index's generation, captured BEFORE the clear wipes
          // meta.json — the new index continues the sequence at +1 so a
          // stale instance of the old index fails its next CAS
          val priorGen = IndexMeta.diskGenNow(path)
          IndexMeta.clearDirForReplace(path)
          // Quantization on graph engines: the topology is built on EXACT
          // floats (no quantization noise in edge selection), then only the
          // stored rows carry codes — 4x (sq8) / 2x (fp16) smaller on disk
          // and over any shuffle. Search decodes once per shard at decode
          // time (cached) — value-identical to the reference's
          // dequantize-on-access.
          val storedGraph =
            encodeStored(graph).withColumn("seg", lit(0L)) // insert epoch 0 = create
          storedGraph.write.mode("overwrite").partitionBy("shard")
            .option("parquet.enable.dictionary", "false") // §6: float/code payloads never dictionary-encode — the attempted pages are wasted write CPU (r19 build-phase A/B)
            .parquet(s"$path/data")
          // manifest = the dirs the build actually produced (an empty task
          // writes none); readers only ever see manifested dirs, making
          // every later mutation a copy-on-write commit (IndexMeta.liveShards)
          val liveIds = IndexMeta.listShardDirs(s"$path/data")
          val meta = IndexMeta(name, engine, metric, dim, idCol, vecCol, n, 0L,
            params + ("shards" -> math.max(liveIds.size, 1).toString)
              + ("next_shard" -> buildShards.toString)
              + ("live_shards" -> liveIds.mkString(",")))
          IndexMeta.publishReplace(path, meta, priorGen)
        }
        register(name, path)
        val idx = new AnnIndex(spark, path)
        // replace any prior index's instance at this path — the graph
        // engines are exactly the ones whose driver caches (summaries,
        // router, its broadcast) the instance cache exists to share;
        // the DISPLACED instance's pinned router broadcast is released
        // (put() bypasses the LRU eviction hook, same as drop())
        Option(instanceCache.put(path, idx)).foreach(_.releaseRouterBroadcast())
        // per-shard routing summaries (ShardSummaries), SPATIAL indexes
        // only: one columnar pass over the just-written dataset so
        // spark.ann.shardProbes works from the first query; mutations
        // maintain coverage incrementally from here on. Hash-sharded
        // indexes skip it — their shard centroids are ~the global mean
        // (no routing signal), and the pass showed up as +39% on the
        // hnsw_build_sf bench line (r15 A/B). refreshShardSummaries()
        // remains the explicit opt-in for them.
        if (assignMode == "spatial") try idx.refreshShardSummaries()
        catch {
          case scala.util.control.NonFatal(e) =>
            // the index is already committed and registered; summaries
            // are an optimization with a walk-all fallback — a transient
            // failure here must not make the caller believe (and retry)
            // a whole failed build
            System.err.println(s"[graft] create-time shard summaries failed " +
              s"for $name: ${e.getMessage} — routing falls back to walk-all " +
              "until refreshShardSummaries()")
        }
        return idx
      }

      val centroids: Array[(Int, Array[Float])] = engine match {
        case "IVF" =>
          val nlist = params.getOrElse("nlist", "100").toInt
          val trainSample = params.getOrElse("train_sample", "0").toInt
          // default 256 rows per cell (faiss max_points_per_centroid,
          // src/faiss_index.cpp:304-315); explicit train_sample overrides;
          // both clamp to the hard driver-side ceiling
          val requested =
            if (trainSample > 0) trainSample.toLong else math.min(n, 256L * nlist)
          val cap = math.min(requested, AnnIndexBuilder.MaxTrainRows.toLong)
          val kk = math.min(nlist, math.max(1, n.toInt))
          params.getOrElse("train_mode", "sample") match {
            case "full" =>
              // distributed full-data Lloyd: the sampled pilot seeds, then
              // every row participates in the refinement rounds — one
              // shuffle-free partial-sum pass per round
              graft.pipeline.CorpusPipeline.trainClusterCentroidsDistributed(
                prepared, "vector", kk, maxIter = 10, seed = 42,
                initSampleCap = math.min(cap, Int.MaxValue.toLong).toInt)
            case "sample" =>
              val trainDf =
                if (cap < n) prepared.sample(withReplacement = false, cap.toDouble / n, seed = 42)
                else prepared
              val sampleArr = trainDf.select("vector").collect()
                .map(_.getSeq[Float](0).toArray)
              AnnIndexBuilder.trainCentroids(sampleArr, kk, maxIter = 10,
                seed = 42)
            case other => throw new IllegalArgumentException(
              s"train_mode must be sample|full, got '$other'")
          }
        case _ => Array((0, Array.empty[Float]))
      }

      val assigned = AnnIndexBuilder.assignLists(prepared, centroids, engine)
      // same destructive-replace lock window as the graph branch
      IndexMeta.withWriter(path)(IndexMeta.diskGenNow(path)) {
      val priorGen = IndexMeta.diskGenNow(path) // before the clear, as above
      IndexMeta.clearDirForReplace(path)

      // quantized storage: codes instead of floats (sq8 fits params first)
      val stored0 = encodeStored(assigned)
      // cluster writers by cell for multi-cell engines: without this every
      // input task writes its own file into every list_id dir it touches —
      // tasks x nlist small files (tens of thousands at the scale
      // contract's nlist ~ sqrt n), NameNode poison and a per-probe open()
      // tax. Hash-clustering on list_id caps files at ~one per cell while
      // keeping up to shuffle-partitions writers busy. Single-cell engines
      // (FLAT, graph shards written elsewhere) keep the parallel no-shuffle
      // write.
      val stored =
        if (centroids.length > 1)
          stored0.repartition(
            math.min(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
              centroids.length),
            col("list_id"))
        else stored0

      // Per-cell max member distance (sqrt L2) alongside each centroid:
      // the triangle-inequality bound that lets range search prune cells
      // EXACTLY — a cell can hold a point within r of q only if
      // d(q, centroid) <= r + cell_radius. One extra agg pass over the
      // cached prepared set; radii are upper bounds thereafter (deletes/
      // vacuum only shrink cells; inserts extend them, AnnIndex keeps
      // the maxima fresh). §2.6 overlap: the pass reads only the cached
      // prepared set — independent of the data write below — so it runs
      // as a concurrent job whose tasks back-fill the write's tail.
      val radiiFut =
        if (engine == "IVF") {
          val bcC = spark.sparkContext.broadcast(centroids.toMap)
          val dToCent = udf { (lid: Int, v: Seq[Float]) =>
            math.sqrt(graft.functions.VectorKernels.l2Sq(v.toArray, bcC.value(lid)))
          }
          // built AND planned on THIS thread; only the catalog-free job
          // runs async (see pqTrainProjection for the deadlock this avoids)
          val radiiDf = assigned
            .groupBy("list_id").agg(max(dToCent(col("list_id"), col("vector"))).as("r"))
          radiiDf.queryExecution.executedPlan
          Some(async(radiiDf.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap))
        } else None

      stored.withColumn("seg", lit(0L)) // insert epoch 0 = create
        .write.mode("overwrite").partitionBy("list_id")
        .option("parquet.enable.dictionary", "false")
        .parquet(s"$path/data")

      if (engine == "IVF") {
        import spark.implicits._
        val radii = AnnIndexBuilder.await(radiiFut.get)
        centroids.toSeq.map { case (l, c) => (l, c, radii.getOrElse(l, 0.0)) }
          .toDF("list_id", "centroid", "radius")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      }

      val meta = IndexMeta(name, engine, metric, dim, idCol, vecCol, n, 0L, params)
      IndexMeta.publishReplace(path, meta, priorGen)
      } // end writer-lock window
      register(name, path)
      val idx = new AnnIndex(spark, path)
      // replace any instance of a prior index here, releasing the
      // displaced instance's pinned broadcast (put() bypasses the LRU hook)
      Option(instanceCache.put(path, idx)).foreach(_.releaseRouterBroadcast())
      idx
    } finally {
      pending.foreach(f => scala.util.Try(f.join())) // a second failure is dropped
      prepared.unpersist()
    }
  }

  def load(spark: SparkSession, path: String): AnnIndex = {
    val idx = Option(instanceCache.get(path))
      .filter(i => (i.spark eq spark) && cachedMeta(path).contains(i.meta))
      .getOrElse {
        val fresh = new AnnIndex(spark, path)
        instanceCache.put(path, fresh)
        fresh
      }
    register(idx.meta.name, path)
    idx
  }

  /** DROP INDEX: unregister AND delete the on-disk dataset (reference
    * CommitDrop hook). Returns whether the name was registered. Any
    * still-referenced lazy plan over this index fails on next execution —
    * same contract as dropping a table out from under a reader. The dir
    * itself remains holding only the `writer.lock` anchor (see the
    * comment in the body). */
  def drop(name: String): Boolean = registry.remove(name) match {
    case Some(path) =>
      metaCache.remove(path)
      // remove() bypasses removeEldestEntry, so release the dropped
      // instance's pinned Broadcast[Router] here too — otherwise the
      // executor-side blocks linger until GC/ContextCleaner.
      Option(instanceCache.remove(path)).foreach(_.releaseRouterBroadcast())
      // under the writer lock: a mutation in flight on another driver
      // finishes (or fails its CAS) before the dataset disappears under
      // it mid-commit. The `writer.lock` ANCHOR deliberately survives:
      // unlinking a lock file while holding it hands the next writer a
      // fresh inode to lock — two writers inside a destructive window.
      // A later create on this path locks the same anchor (exclusion
      // preserved across drop/create cycles); the empty dir + anchor is
      // the one on-disk residue of a dropped index.
      IndexMeta.withWriter(path)(IndexMeta.diskGenNow(path)) {
        IndexMeta.clearDirForReplace(path)
      }
      true
    case None => false
  }

  /** S8 `ann_list`: catalog scan → (name, engine, table_name). */
  def list(spark: SparkSession): DataFrame = {
    import spark.implicits._
    registry.toSeq.sortBy(_._1).map { case (name, path) =>
      val m = IndexMeta.read(path)
      (m.name, m.engine, m.params.getOrElse("table", ""))
    }.toDF("name", "engine", "table_name")
  }

  /** S9 `ann_index_info`: diagnostics (reference: src/ann_list.cpp:97-221). */
  def info(spark: SparkSession): DataFrame = {
    import spark.implicits._
    registry.toSeq.sortBy(_._1).map { case (name, path) =>
      val m = IndexMeta.read(path)
      (m.name, m.engine, m.params.getOrElse("table", ""),
        m.numVectors, m.numDeleted, m.memoryBytes, m.quantized)
    }.toDF("name", "engine", "table_name", "num_vectors", "num_deleted",
      "memory_bytes", "quantized")
  }

  /** S10 analogue of `faiss_gpu_info`: there is no GPU in a Spark CPU
    * engine, so report the execution-capability probe that matters here —
    * cluster shape + codegen/AQE status (reference: src/faiss_fn_gpu.cpp:13-56
    * answers "what accelerates my search"; for this engine that is
    * whole-stage codegen and the executor pool). */
  def engineInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    Seq((
      org.apache.spark.SPARK_VERSION,
      sc.master,
      sc.defaultParallelism,
      spark.conf.get("spark.sql.codegen.wholeStage", "true").toBoolean,
      spark.conf.get("spark.sql.adaptive.enabled", "false").toBoolean
    )).toDF("spark_version", "master", "default_parallelism",
      "whole_stage_codegen", "adaptive_enabled")
  }

  /** Build-once cache for driver-run queries: same JVM reuses the built
    * index; the fingerprint keys on data dir + engine + params. */
  /** Bump when the on-disk index layout changes: keys the build cache so
    * caches from older code versions rebuild instead of misloading. */
  val FormatVersion = 3 // v3: per-row insert epoch (seg) + (id, seg) tombstones

  def getOrBuild(spark: SparkSession, name: String, sfDir: String,
                 build: String => AnnIndex): AnnIndex = {
    val fp = math.abs((name + sfDir + s"v$FormatVersion").hashCode).toString
    val path = s"${sys.props("java.io.tmpdir")}/graft_indexes/${name}_$fp"
    val lock = buildLocks.getOrElseUpdate(path, new Object)
    lock.synchronized {
      // a usable cached index needs BOTH meta.json and the data dataset —
      // a half-deleted cache must rebuild, not fail every query
      if (IndexMeta.exists(path) && IndexMeta.existsDir(s"$path/data")) load(spark, path)
      else { IndexMeta.deleteDir(path); build(path) }
    }
  }
}
