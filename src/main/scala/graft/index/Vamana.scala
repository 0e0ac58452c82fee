package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.TaskContext

import graft.functions.VectorKernels
import graft.operators.TopK

import scala.collection.mutable.ArrayBuffer

/** Executor-JVM cache of decoded graph shards, keyed by
  * `<indexPath>@<metaVersion>#<shardId>` — repeated query batches against a
  * pinned index skip the row→array decode (the analogue of the reference's
  * long-lived in-memory index object). Any index write changes the meta
  * version, so stale entries are never served.
  *
  * Values are SoftReferences: a decoded shard can be hundreds of MB, so the
  * executor JVM must be able to reclaim entries under memory pressure
  * instead of OOMing; a cleared entry just rebuilds lazily. The entry bound
  * only caps map-key garbage accumulation.
  */
object GraphShardCache {
  private val MaxEntries = 1024
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[AnyRef]]()

  /** Serializer for the executor-local disk tier (see [[spillDir]]).
    * Extends [[Serializable]]: codec singletons ride inside task closures
    * (e.g. the zipPartitions closure of [[GraphTableSearch.runZip]]), and a
    * Scala `object` deserializes back to its module instance. */
  trait SpillCodec extends Serializable {
    def write(v: AnyRef, out: java.io.DataOutputStream): Unit
    def read(in: java.io.DataInputStream): AnyRef
  }

  // Executor-local disk tier under the SoftReference cache — the analogue
  // of the reference's mmap'd disk segments (rust_lib/src/disk_provider.rs:
  // 186-332): when GC clears a decoded shard under memory pressure, the
  // rebuild reads a compact per-JVM binary (OS page-cache-backed, one
  // sequential read) instead of re-paying the parquet row->array decode.
  // Files live for the executor JVM's lifetime only (the key embeds the
  // index meta version, so a stale file is never even looked up) and are
  // bounded by the same entry cap as the in-memory map.
  private lazy val spillDir: Option[java.nio.file.Path] = {
    val conf = Option(org.apache.spark.SparkEnv.get).map(_.conf)
    val enabled = conf.forall(_.getBoolean("spark.ann.shardSpill.enabled", true))
    if (!enabled) None
    else try {
      val base = conf.flatMap(c => Option(c.get("spark.ann.shardSpill.dir", null)))
        .getOrElse(System.getProperty("java.io.tmpdir"))
      val p = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(base), "graft-shard-spill-")
      // ONE recursive-delete shutdown hook for the whole tier: per-file
      // File.deleteOnExit would grow a never-pruned JVM-lifetime set (one
      // entry per spilled shard, kept even after early eviction)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }))
      Some(p)
    } catch { case _: Throwable => None } // spill is an optimization only
  }
  /** Byte budget for the disk tier (decoded shards are tens-to-hundreds of
    * MB each; an entry-count cap alone could reach hundreds of GB of local
    * disk on a mutation-heavy workload whose meta-version churn keeps
    * minting fresh keys). Oldest-entry eviction keeps the tier under it. */
  private lazy val spillMaxBytes: Long =
    Option(org.apache.spark.SparkEnv.get).map(_.conf)
      .flatMap(c => Option(c.get("spark.ann.shardSpill.maxBytes", null)))
      .map(_.toLong).getOrElse(16L << 30)
  private val spilledBytes = new java.util.concurrent.atomic.AtomicLong()
  // value carries the byte size RECORDED AT PUBLISH: decrements on evict/
  // corrupt-read must be exact regardless of on-disk state (a Files.size at
  // evict time could see a different key's replacement file after a name
  // collision, or throw on an already-gone path — either would drift the
  // counter and cause premature eviction in long sessions)
  private val spilled =
    new java.util.concurrent.ConcurrentHashMap[String, (java.nio.file.Path, Long)]()
  private val Magic = 0x47534831 // "GSH1"
  /** Reloads served from the disk tier (observability + test hook). */
  val spillReloads = new java.util.concurrent.atomic.AtomicLong()

  private def trySpillWrite(key: String, v: AnyRef, codec: SpillCodec): Unit =
    spillDir.foreach { dir =>
      if (!spilled.containsKey(key)) try {
        val tmp = java.nio.file.Files.createTempFile(dir, "shard", ".tmp")
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          java.nio.file.Files.newOutputStream(tmp), 1 << 16))
        // full key inside the file: filenames are hashed, so a (however
        // unlikely) name collision must fail the read, never alias shards
        try { out.writeInt(Magic); out.writeUTF(key); codec.write(v, out) }
        finally out.close()
        val fin = dir.resolve(
          java.lang.Integer.toHexString(key.hashCode) + "-" +
            java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL) + ".shard")
        java.nio.file.Files.move(tmp, fin,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) // atomic publish
        val finBytes = java.nio.file.Files.size(fin)
        // evict oldest entries until BOTH bounds hold (entry count AND the
        // byte budget) — stale meta-version files are unreachable by key,
        // so byte-budget eviction is also what ultimately reclaims them
        while (spilled.size() >= MaxEntries ||
               (spilledBytes.get() + finBytes > spillMaxBytes && !spilled.isEmpty)) {
          val it = spilled.keySet().iterator()
          if (it.hasNext) {
            val k = it.next()
            val f = spilled.remove(k)
            if (f != null) {
              spilledBytes.addAndGet(-f._2)
              try java.nio.file.Files.deleteIfExists(f._1)
              catch { case _: Throwable => () }
            }
          }
        }
        if (finBytes > spillMaxBytes) {
          java.nio.file.Files.deleteIfExists(fin) // single shard over budget
        } else if (spilled.putIfAbsent(key, (fin, finBytes)) == null) {
          spilledBytes.addAndGet(finBytes) // count once under racing writers
        }
      } catch { case _: Throwable => () } // best-effort tier
    }

  private def trySpillRead(key: String, codec: SpillCodec): Option[AnyRef] = {
    val f = spilled.get(key)
    if (f == null) None
    else try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(f._1), 1 << 16))
      try {
        require(in.readInt() == Magic, s"bad spill magic for $key")
        require(in.readUTF() == key, s"spill filename collision for $key")
        val v = codec.read(in)
        spillReloads.incrementAndGet()
        Some(v)
      } finally in.close()
    } catch { case _: Throwable =>
      val gone = spilled.remove(key)
      if (gone != null) {
        spilledBytes.addAndGet(-gone._2)
        try java.nio.file.Files.deleteIfExists(gone._1)
        catch { case _: Throwable => () }
      }
      None
    }
  }

  def getOrBuild[T <: AnyRef](key: String)(build: => T): T =
    getOrBuild(key, None)(build)

  def getOrBuild[T <: AnyRef](key: String, spill: Option[SpillCodec])(build: => T): T = {
    val ref = cache.get(key)
    if (ref != null) {
      val hit = ref.get()
      if (hit != null) return hit.asInstanceOf[T]
    }
    // memory miss: the disk tier first (sequential page-cache read), then
    // the full decode; either way re-publish a fresh SoftReference
    val v = spill.flatMap(c => trySpillRead(key, c)) match {
      case Some(reloaded) => reloaded.asInstanceOf[T]
      case None =>
        val built = build // concurrent duplicate builds are harmless (idempotent)
        spill.foreach(c => trySpillWrite(key, built, c))
        built
    }
    // evict single arbitrary entries, never the whole map: clearing would
    // thrash every cached shard once the key bound is reached
    while (cache.size() >= MaxEntries) {
      val it = cache.keySet().iterator()
      if (it.hasNext) cache.remove(it.next()) else return v
    }
    cache.put(key, new java.lang.ref.SoftReference[AnyRef](v))
    v
  }

  /** Memory-then-disk lookup WITHOUT building: the repeat-call fast path
    * of [[GraphTableSearch.runZip]] must know whether a shard is still
    * decodable before deciding to skip the graph iterator — a build here
    * would defeat the point (no rows are at hand). Re-publishes the soft
    * reference on a disk-tier hit. */
  def peek(key: String, spill: Option[SpillCodec]): Option[AnyRef] = {
    val ref = cache.get(key)
    if (ref != null) {
      val hit = ref.get()
      if (hit != null) return Some(hit)
    }
    spill.flatMap(c => trySpillRead(key, c)).map { v =>
      cache.put(key, new java.lang.ref.SoftReference[AnyRef](v))
      v
    }
  }

  // Zipped-partition shard layouts: (shardId, per-label insert epochs) a
  // full partition scan observed, keyed by <cacheKey>#zipLayout#<partId>.
  // Lets a repeat zip call serve queries straight from decoded shards
  // without consuming (= decoding) the cached graph partition at all.
  // Epochs are per LABEL (8 B/row — ~1% of the decoded shard) because an
  // online insert (AnnIndex.writeOnlineInsert) rewrites a shard with
  // mixed epochs; same entry-count bound as the main map.
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Long])]]()

  def putLayout(key: String, v: Array[(Int, Array[Long])]): Unit = {
    while (layouts.size() >= MaxEntries) {
      val it = layouts.keySet().iterator()
      if (it.hasNext) layouts.remove(it.next()) else return
    }
    layouts.put(key, v)
  }

  def getLayout(key: String): Option[Array[(Int, Array[Long])]] =
    Option(layouts.get(key))

  /** Zip-path repeat calls served WITHOUT consuming the graph iterator
    * (observability + test hook; per-partition, so one repeat call over P
    * partitions adds up to P). */
  val zipFastPathHits = new java.util.concurrent.atomic.AtomicLong()

  /** Broadcast-path (searchBatch) repeat calls served without consuming
    * the pinned partition — the batch sibling of [[zipFastPathHits]]. */
  val batchFastPathHits = new java.util.concurrent.atomic.AtomicLong()

  /** TEST ONLY: clear the in-memory references (simulates GC under
    * pressure) without touching the disk tier. */
  private[index] def clearSoftRefsForTest(): Unit = cache.clear()
}

/** Vamana (DiskANN) graph engine, Spark-native.
  *
  * Public algorithm: Subramanya et al., "DiskANN: Fast Accurate
  * Billion-point Nearest Neighbor Search on a Single Node", NeurIPS'19 —
  * greedy beam search + alpha-pruned incremental insert. The reference
  * delegates insert to the Microsoft diskann crate
  * (rust_lib/src/index_manager.rs:263-313) and implements standalone
  * search kernels (rust_lib/src/provider.rs:443-518); this is a fresh
  * Scala implementation of the published algorithm.
  *
  * Distribution model (SURVEY §7.1 M3): the index is a set of
  * **partition-local graphs** ("shards"). Build runs fully parallel — one
  * Vamana graph per shard inside `mapPartitions` — replacing the
  * reference's sequential global build (its scalability wall,
  * src/diskann_index.cpp:226-232). Search builds each shard's adjacency
  * once per task and answers the whole query batch against it (the
  * lock-step batch idea, rust_lib/src/provider.rs:248-440), then merges
  * per-shard top-l via grouped top-k. Recall is a statistical contract
  * (≥70% floor, test/sql/diskann_streaming.test:47-55), matched by tests.
  */
object Vamana {

  /** In-memory shard: parallel arrays by local label. */
  final case class Shard(ids: Array[Long], vectors: Array[Array[Float]],
                         neighbors: Array[Array[Int]], entry: Int)

  /** Compact binary form of [[Shard]] for the executor-local disk tier
    * (decoded floats, NOT parquet — reload is one sequential read). */
  object ShardSpillCodec extends GraphShardCache.SpillCodec {
    def write(v: AnyRef, out: java.io.DataOutputStream): Unit = {
      val sh = v.asInstanceOf[Shard]
      val n = sh.ids.length
      out.writeInt(n); out.writeInt(sh.entry)
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
      while (i < n) {
        val nb = sh.neighbors(i); out.writeInt(nb.length); var j = 0
        while (j < nb.length) { out.writeInt(nb(j)); j += 1 }
        i += 1
      }
    }
    def read(in: java.io.DataInputStream): AnyRef = {
      val n = in.readInt(); val entry = in.readInt(); val dim = in.readInt()
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
      val nbrs = new Array[Array[Int]](n)
      i = 0
      while (i < n) {
        val len = in.readInt(); val nb = new Array[Int](len); var j = 0
        while (j < len) { nb(j) = in.readInt(); j += 1 }
        nbrs(i) = nb; i += 1
      }
      Shard(ids, vecs, nbrs, entry)
    }
  }

  final case class Params(maxDegree: Int, buildComplexity: Int, alpha: Double)

  object Params {
    /** Reference defaults (src/include/diskann_index.hpp:21-25). */
    def from(meta: IndexMeta): Params = Params(
      meta.param("max_degree", 64),
      meta.param("build_complexity", 128),
      meta.param("alpha", 1.2))
  }

  // ---- kernels ----

  /** Bounded sorted candidate pool over primitive parallel arrays — the
    * reference's streaming top-l (rust_lib/src/provider.rs:520-540) without
    * per-candidate boxing; inserts shift via System.arraycopy. */
  final class Pool(val cap: Int) {
    val labels = new Array[Int](cap)
    val dists = new Array[Double](cap)
    var size = 0

    def insert(label: Int, d: Double): Unit = {
      if (size >= cap && d >= dists(size - 1)) return
      var lo = 0; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dists(mid) <= d) lo = mid + 1 else hi = mid
      }
      val moveTo = math.min(size, cap - 1)
      if (moveTo > lo) {
        System.arraycopy(labels, lo, labels, lo + 1, moveTo - lo)
        System.arraycopy(dists, lo, dists, lo + 1, moveTo - lo)
      }
      labels(lo) = label; dists(lo) = d
      if (size < cap) size += 1
    }

    def toBuffer: ArrayBuffer[(Int, Double)] = {
      val b = new ArrayBuffer[(Int, Double)](size)
      var i = 0
      while (i < size) { b += ((labels(i), dists(i))); i += 1 }
      b
    }
  }

  /** Greedy best-first beam search with a bounded sorted result pool of
    * size l. Returns the pool, ascending by distance. */
  def beamSearchPool(sh: Shard, q: Array[Float], l: Int,
                     dist: (Array[Float], Array[Float]) => Double): Pool = {
    val n = sh.vectors.length
    val pool = new Pool(math.max(1, l))
    if (n == 0) return pool
    val visited = new java.util.BitSet(n)
    val inPool = new java.util.BitSet(n)

    pool.insert(sh.entry, dist(q, sh.vectors(sh.entry)))
    inPool.set(sh.entry)

    var continue = true
    while (continue) {
      // closest unvisited in pool
      var idx = -1
      var i = 0
      while (idx < 0 && i < pool.size) {
        if (!visited.get(pool.labels(i))) idx = i
        i += 1
      }
      if (idx < 0) continue = false
      else {
        val label = pool.labels(idx)
        visited.set(label)
        val nbrs = sh.neighbors(label)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (!inPool.get(nb)) {
            inPool.set(nb)
            pool.insert(nb, dist(q, sh.vectors(nb)))
          }
          j += 1
        }
      }
    }
    pool
  }

  /** Tuple-returning wrapper (tests / non-hot callers). */
  def beamSearch(sh: Shard, q: Array[Float], l: Int,
                 dist: (Array[Float], Array[Float]) => Double): ArrayBuffer[(Int, Double)] =
    beamSearchPool(sh, q, l, dist).toBuffer

  /** RobustPrune (DiskANN Algorithm 2) over sorted primitive candidate
    * arrays: keep closest candidate p*, drop any candidate c with
    * alpha · d(p*, c) ≤ d(p, c); repeat to maxDegree. */
  def robustPruneArr(p: Int, candLabels: Array[Int], candDists: Array[Double],
                     candSize: Int, vectors: Array[Array[Float]], alpha: Double,
                     maxDegree: Int,
                     dist: (Array[Float], Array[Float]) => Double): Array[Int] = {
    val result = new Array[Int](maxDegree)
    var rs = 0
    val removed = new java.util.BitSet(candSize)
    var i = 0
    while (i < candSize && rs < maxDegree) {
      if (!removed.get(i) && candLabels(i) != p) {
        val star = candLabels(i)
        result(rs) = star; rs += 1
        var j = i + 1
        while (j < candSize) {
          if (!removed.get(j) && candLabels(j) != p &&
              alpha * dist(vectors(star), vectors(candLabels(j))) <= candDists(j)) {
            removed.set(j)
          }
          j += 1
        }
      }
      i += 1
    }
    java.util.Arrays.copyOf(result, rs)
  }

  /** Tuple-based wrapper (overflow-prune path and tests). */
  def robustPrune(p: Int, candidates: ArrayBuffer[(Int, Double)],
                  vectors: Array[Array[Float]], alpha: Double, maxDegree: Int,
                  dist: (Array[Float], Array[Float]) => Double): Array[Int] = {
    val sorted = candidates.sortBy(_._2)
    robustPruneArr(p, sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      sorted.length, vectors, alpha, maxDegree, dist)
  }

  /** Approximate medoid of a bounded prefix sample (cheap, deterministic). */
  private def sampleMedoid(vectors: Array[Array[Float]],
                           dist: (Array[Float], Array[Float]) => Double): Int = {
    val sampleN = math.min(vectors.length, 256)
    var entry = 0
    var bestSum = Double.MaxValue
    var c = 0
    while (c < sampleN) {
      var s = 0.0
      var o = 0
      while (o < sampleN) { s += dist(vectors(c), vectors(o)); o += 1 }
      if (s < bestSum) { bestSum = s; entry = c }
      c += 1
    }
    entry
  }

  /** Shards at or under this row count build through a symmetric
    * pair-distance memo (8·n² B ≤ 8 MB of task-local scratch at the
    * bound). Every distance a serial build evaluates is between two
    * in-shard vectors and RobustPrune re-evaluates the same pairs across
    * a node's successive overflow prunes, so unique-pair caching removes
    * the bulk of the O(R²·d) work for small shards — the many-shards
    * parallel-build shape (e.g. 313-row shards at d768: 2.08 s → the
    * unique-pair floor) and small delta/merge builds. Values are the
    * SAME doubles the uncached kernel returns (l2/ip/cosine are all
    * bitwise symmetric: per-element ops commute and the accumulation
    * order is index order either way), so built graphs are
    * node-identical — pinned by VamanaSpec. */
  private[index] val MemoMaxRows = 1024

  /** Wrap `dist` in a lazy symmetric pair memo over `vectors` (identity-
    * keyed: the build only ever scores in-shard arrays; an unknown array
    * falls through to the raw kernel). Serial callers only — the flat
    * cache and bitset are not thread-safe. */
  private[index] def memoDist(vectors: Array[Array[Float]],
      dist: (Array[Float], Array[Float]) => Double):
      (Array[Float], Array[Float]) => Double = {
    val n = vectors.length
    val idx = new java.util.IdentityHashMap[Array[Float], Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(vectors(i), Integer.valueOf(i)); i += 1 }
    val cache = new Array[Double](n * n)
    val seen = new java.util.BitSet(n * n)
    (a, b) => {
      val ia = idx.get(a)
      val ib = idx.get(b)
      if (ia == null || ib == null) dist(a, b)
      else {
        val k = ia.intValue() * n + ib.intValue()
        if (seen.get(k)) cache(k)
        else {
          val v = dist(a, b)
          val kr = ib.intValue() * n + ia.intValue()
          cache(k) = v; seen.set(k)
          cache(kr) = v; seen.set(kr)
          v
        }
      }
    }
  }

  /** Build one shard's graph by incremental insert (DiskANN Algorithm 3). */
  def buildShard(ids: Array[Long], vectors: Array[Array[Float]],
                 params: Params, metric: String): Shard = {
    val n = vectors.length
    val raw = VectorKernels.orderingDistance(metric) _
    val dist = if (n > 0 && n <= MemoMaxRows) memoDist(vectors, raw) else raw
    val neighbors = Array.fill(n)(Array.empty[Int])
    if (n == 0) return Shard(ids, vectors, neighbors, 0)
    val entry = sampleMedoid(vectors, dist)
    val partial = Shard(ids, vectors, neighbors, entry)
    insertSweep(partial, 0, params, dist)
    partial
  }

  /** Serial prefix that bootstraps connectivity before the first parallel
    * round of [[buildShardParallel]] (an empty pre-round graph would hand
    * every round-1 point the entry as its only candidate — the points the
    * entry's pruned list then drops would start unreachable and never
    * attract reverse edges). */
  private val ParallelBuildSeed = 256
  /** Points per parallel round. A fixed constant — NOT derived from core
    * count — so the built graph is machine-independent. */
  private val ParallelBuildBatch = 512

  /** Deterministic batched-parallel variant of [[buildShard]] for
    * DRIVER-side builds over large point sets — the coarse router graph
    * (one graph over 10k–100k shard centroids) builds on the driver where
    * no task parallelism exists, and the serial insert loop was measured
    * at 10.9 s / 40k centroids (minutes at the 100k×d768 shape). The
    * per-shard EXECUTOR builds stay on the serial [[buildShard]]: their
    * tasks are already fully parallel across shards, and nesting a
    * common-pool fan-out inside 32 concurrent tasks would only thrash.
    *
    * Same Algorithm 3 structure, reorganized into rounds (the batched
    * insert shape of FreshDiskANN, Singh et al. 2021, arXiv:2105.09613):
    * each round's points beam-search the PRE-ROUND graph concurrently
    * (read-only), then forward lists, reverse edges, and overflow prunes
    * apply in fixed label order — the output graph is a pure function of
    * the inputs and the two build constants, independent of thread count
    * or timing (phase barriers are parallel-stream terminal ops, which
    * also give the cross-round happens-before). Points inside one round
    * do not see each other as candidates (the serial build's later points
    * do see earlier same-round ones); at router scale the effect on
    * routing agreement is measured at 1.000 vs the serial build
    * (R17Scale routerbuild arm) — centroid graphs are navigated at beam
    * widths far above the per-round candidate loss. */
  def buildShardParallel(ids: Array[Long], vectors: Array[Array[Float]],
                         params: Params, metric: String,
                         seed: Int = ParallelBuildSeed,
                         batch: Int = ParallelBuildBatch): Shard = {
    val n = vectors.length
    if (n <= seed + batch)
      return buildShard(ids, vectors, params, metric)
    val dist = VectorKernels.orderingDistance(metric) _
    val neighbors = Array.fill(n)(Array.empty[Int])
    val entry = sampleMedoid(vectors, dist)
    val sh = Shard(ids, vectors, neighbors, entry)
    insertSweepRange(sh, 0, seed, params, dist)
    val slack = degreeSlack(params)
    var from = seed
    while (from < n) {
      val until = math.min(n, from + batch)
      // phase 1 — concurrent read-only searches against the pre-round
      // graph; every candidate a search returns is a pre-round label (the
      // beam reaches nodes only through existing edges)
      val pruned = new Array[Array[Int]](until - from)
      java.util.stream.IntStream.range(from, until).parallel().forEach { v =>
        if (v != entry) {
          val pool = beamSearchPool(sh, vectors(v), params.buildComplexity, dist)
          pruned(v - from) = robustPruneArr(v, pool.labels, pool.dists, pool.size,
            vectors, params.alpha, params.maxDegree, dist)
        }
      }
      // phase 2 — deterministic merge: forward lists land in label order,
      // reverse edges accumulate per target in that same order
      val pending = new java.util.HashMap[Integer, ArrayBuffer[Int]]()
      var v = from
      while (v < until) {
        if (v != entry) {
          val fw = pruned(v - from)
          neighbors(v) = fw
          var j = 0
          while (j < fw.length) {
            val u = fw(j)
            if (!neighbors(u).contains(v))
              pending.computeIfAbsent(u, _ => new ArrayBuffer[Int]) += v
            j += 1
          }
        }
        v += 1
      }
      // phase 3 — per-target finalize, concurrent (targets are pre-round
      // labels, disjoint from this round's forward-list writes; each
      // touches only its own list): append within slack, robust-prune past
      // it — the serial sweep's exact policy
      val targets = pending.keySet().toArray(new Array[Integer](0))
      java.util.stream.Stream.of(targets: _*).parallel().forEach { ub =>
        val u = ub.intValue()
        val merged = neighbors(u) ++ pending.get(ub)
        neighbors(u) =
          if (merged.length <= slack) merged
          else robustPrune(u,
            ArrayBuffer.from(merged.map(x => (x, dist(vectors(u), vectors(x))))),
            vectors, params.alpha, params.maxDegree, dist)
      }
      from = until
    }
    // final strict-degree pass, concurrent per node (reads only the node's
    // own list — same output as the serial tail pass)
    java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
      enforceDegree(sh, u, u + 1, params, dist)
    }
    sh
  }

  /** Insert labels [from, n) into a shard IN PLACE — the per-point step of
    * DiskANN Algorithm 3, shared by the from-scratch build ([[buildShard]],
    * from=0) and the online append ([[insertIntoShard]], from=old n).
    * Mutates `sh.neighbors` entries (always by whole-array replacement,
    * never element writes — callers may share inner arrays with an older
    * shard snapshot). */
  private def insertSweep(sh: Shard, from: Int, params: Params,
                          dist: (Array[Float], Array[Float]) => Double): Unit = {
    insertSweepRange(sh, from, sh.vectors.length, params, dist)
    enforceDegree(sh, 0, sh.vectors.length, params, dist)
  }

  /** Slack bound for reverse-edge lists during a sweep (see
    * [[insertSweepRange]]). */
  private def degreeSlack(params: Params): Int =
    math.max(params.maxDegree + 8, params.maxDegree * 3 / 2)

  /** The insert loop of [[insertSweep]] WITHOUT the final strict-degree
    * pass — lists may still sit inside the slack bound on return. Callers
    * doing multiple sweeps (the batched coarse build) run
    * [[enforceDegree]] once at the very end, exactly like the serial
    * build does. */
  private def insertSweepRange(sh: Shard, from: Int, until: Int, params: Params,
                               dist: (Array[Float], Array[Float]) => Double): Unit = {
    val vectors = sh.vectors
    val neighbors = sh.neighbors
    // Reverse-edge slack (standard DiskANN implementation device): pruning a
    // saturated list on EVERY reverse edge makes the O(R²·d) RobustPrune the
    // dominant build cost (~R prunes per insert). Letting lists grow to
    // ~1.5·R and pruning only on slack overflow amortizes it ~(slack-R)×;
    // a final pass restores the strict R bound.
    val slack = degreeSlack(params)
    var v = from
    while (v < until) {
      if (v != sh.entry) {
        val pool = beamSearchPool(sh, vectors(v), params.buildComplexity, dist)
        neighbors(v) = robustPruneArr(v, pool.labels, pool.dists, pool.size,
          vectors, params.alpha, params.maxDegree, dist)
        // reverse edges + amortized overflow prune
        for (u <- neighbors(v)) {
          if (!neighbors(u).contains(v)) {
            if (neighbors(u).length < slack) {
              neighbors(u) = neighbors(u) :+ v
            } else {
              val cands = ArrayBuffer.from(
                (neighbors(u) :+ v).map(x => (x, dist(vectors(u), vectors(x)))))
              neighbors(u) = robustPrune(u, cands, vectors, params.alpha,
                params.maxDegree, dist)
            }
          }
        }
      }
      v += 1
    }
  }

  /** Restore the strict maxDegree bound on lists still inside the slack —
    * the tail pass of DiskANN Algorithm 3. Per-node independent (each
    * prune reads only that node's own list), so callers may run disjoint
    * ranges concurrently. */
  private def enforceDegree(sh: Shard, from: Int, until: Int, params: Params,
                            dist: (Array[Float], Array[Float]) => Double): Unit = {
    val vectors = sh.vectors
    val neighbors = sh.neighbors
    var u = from
    while (u < until) {
      if (neighbors(u).length > params.maxDegree) {
        val cands = ArrayBuffer.from(
          neighbors(u).map(x => (x, dist(vectors(u), vectors(x)))))
        neighbors(u) = robustPrune(u, cands, vectors, params.alpha,
          params.maxDegree, dist)
      }
      u += 1
    }
  }

  /** Online insert: extend an EXISTING shard's graph with new points — the
    * reference's per-row live insert (src/diskann_index.cpp:316-361) as a
    * copy-on-write shard rewrite. Old labels keep their positions (callers
    * can carry per-label side state, e.g. insert epochs, by appending);
    * the entry point is unchanged; the input shard is not mutated (the
    * neighbors spine is copied, lists are replaced wholesale). Beam
    * searches during the sweep see old + already-inserted new points, so
    * graph quality matches a from-scratch build of the union up to insert
    * order — the same contract Algorithm 3 gives the batch build. */
  def insertIntoShard(sh: Shard, newIds: Array[Long],
                      newVectors: Array[Array[Float]],
                      params: Params, metric: String): Shard = {
    if (sh.ids.isEmpty) return buildShard(newIds, newVectors, params, metric)
    if (newIds.isEmpty) return sh
    val raw = VectorKernels.orderingDistance(metric) _
    val n = sh.ids.length + newIds.length
    // same memo rule as buildShard: online inserts into a small shard
    // (delta batches, merge sources) skip the re-evaluated prune pairs
    // through the exact flat memo (keys on the inner array REFERENCES,
    // which insertIntoShardWith's grown copies share). Big shards keep
    // the RAW kernel: a bounded direct-mapped pair cache was measured on
    // the 20k-row d64 CDC shape and rejected (~15% repeat rate, 1.7-2.2×
    // slower than raw: one d64 eval is cheaper than the cache lookup).
    val dist =
      if (n <= MemoMaxRows) memoDist(sh.vectors ++ newVectors, raw)
      else raw
    insertIntoShardWith(sh, newIds, newVectors, params, dist)
  }

  /** [[insertIntoShard]] with an explicit distance kernel. */
  private[graft] def insertIntoShardWith(sh: Shard, newIds: Array[Long],
      newVectors: Array[Array[Float]], params: Params,
      dist: (Array[Float], Array[Float]) => Double): Shard = {
    val n0 = sh.ids.length
    val n = n0 + newIds.length
    val ids = java.util.Arrays.copyOf(sh.ids, n)
    System.arraycopy(newIds, 0, ids, n0, newIds.length)
    val vectors = java.util.Arrays.copyOf(sh.vectors, n)
    System.arraycopy(newVectors, 0, vectors, n0, newVectors.length)
    val neighbors = java.util.Arrays.copyOf(sh.neighbors, n)
    var i = n0
    while (i < n) { neighbors(i) = Array.empty[Int]; i += 1 }
    val grown = Shard(ids, vectors, neighbors, sh.entry)
    insertSweep(grown, n0, params, dist)
    grown
  }

  // ---- DataFrame-level build / search ----

  val graphSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType), nullable = false),
    StructField("neighbors", ArrayType(IntegerType), nullable = false),
    StructField("is_entry", BooleanType, nullable = false)))

  /** Distributed build: hash-repartition into `shards` independent graphs,
    * each built locally inside its task — fully parallel, bounded memory
    * per task (the property the reference's streaming build chases with
    * two passes, rust_lib/src/streaming_build.rs:42-122).
    *
    * `assignCol`: optional precomputed shard-assignment column (int) —
    * the `shard_assign=spatial` path, where rows go to their nearest
    * trained shard center instead of hash-by-id so per-shard routing
    * summaries carry signal (see ShardSummaries / SPANN). Rows group by
    * the ASSIGNMENT inside each task (hash collisions can co-locate two
    * assignments per partition), streamed one shard at a time. */
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
                sh.neighbors(label).toSeq, label == sh.entry)
            }
          }
        }(Encoders.row(graphSchema))
    case Some(c) =>
      // exact one-shard-per-task layout (see identityPartitionByIntKey;
      // requires the dense [0, shards) keys spatialShardAssign produces —
      // the partitioner fails loudly on anything else)
      identityPartitionByIntKey(
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
                sh.neighbors(label).toSeq, label == sh.entry)
            }
          }
        }(Encoders.row(graphSchema))
  }

  /** Batch search: one pass over the graph dataset; each task materializes
    * its shard group(s) once, answers every query, emits per-shard top-l
    * (query_idx, id, _distance, seg) candidates; the caller merges them
    * (see [[GraphBatchSearch.run]]).
    *
    * Whole-shard guarantee: a task must see EVERY row of a shard — a
    * partial shard decodes to a graph with dangling labels and silently
    * wrong (or crashing) searches. Parquet scans split large files by byte
    * range (`spark.sql.files.maxPartitionBytes`), so raw reads give no such
    * guarantee at realistic shard sizes; unless the caller certifies the
    * input is already hash-partitioned by `shard` (`prePartitioned`, e.g. a
    * pinned dataset persisted post-repartition), we repartition here.
    * Decode additionally validates label completeness and fails loudly
    * rather than serving a truncated graph. */
  def searchBatch(spark: SparkSession, graphDf: DataFrame,
                  queries: Seq[(Int, Array[Float])], l: Int,
                  metric: String, cacheKey: Option[String] = None,
                  prePartitioned: Boolean = false, numShards: Int = 0,
                  codec: Option[graft.functions.VectorCodec] = None,
                  probes: Option[Map[Int, Array[Int]]] = None,
                  pinnedParts: Option[Int] = None,
                  liveShards: Option[Seq[Int]] = None): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    // Quantized graph datasets store codes (sq8 u8 / fp16 halves); decode
    // ONCE at shard decode (the float arrays live in GraphShardCache) —
    // value-identical to per-access decoding, amortized across batches.
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf
      .select("shard", "label", "id", vecColName, "neighbors", "is_entry", "seg")
    GraphBatchSearch.run(spark, graph0, queries, segIdx = 6,
      cacheKey = cacheKey, prePartitioned = prePartitioned,
      pinnedParts = pinnedParts, numShards = numShards,
      codecSpill = ShardSpillCodec, probes = probes, liveShards = liveShards,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        beamSearch(s, q, l, dist).iterator.take(l)
          .map { case (label, d) => (s.ids(label), d, label) }
      })
  }

  /** Expanding-beam range search (approximate; see [[GraphRange]]) — the
    * batch plumbing of [[searchBatch]] (same shard grouping, cache, seg
    * epochs) but per query the beam doubles until the frontier passes
    * `radius·(1+eps)`, and EVERY within-radius pool entry is emitted (no
    * top-k cut; range semantics keep all matches). */
  def rangeBatch(spark: SparkSession, graphDf: DataFrame,
                 queries: Seq[(Int, Array[Float])], radius: Double, eps: Double,
                 initL: Int, maxL: Int, metric: String,
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
    val graph0 = graphDf
      .select("shard", "label", "id", vecColName, "neighbors", "is_entry", "seg")
    val graph =
      if (prePartitioned) graph0
      else if (numShards > 0) graph0.repartition(shardPartitions(numShards), col("shard"))
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
        val segs = segArray(shardRows, 6)
        bcQueries.value.iterator.flatMap { case (qi, q) =>
          GraphRange.expanding(radius, eps, initL, maxL)(l => beamSearch(sh, q, l, dist))
            .map { case (label, d) => Row(qi, sh.ids(label), d, segs(label)) }
        }
      }
    }(Encoders.row(out))
  }

  /** Remove dead nodes from a shard — DiskANN consolidate_deletes
    * (reference: rust_lib's consolidate pass behind
    * src/diskann_index.cpp:701-741): every live node with a dead neighbor
    * re-prunes over its live neighbors PLUS the dead neighbors' live
    * neighbors (the absorb step that preserves graph navigability through
    * the removed node), then labels compact. Returns the compacted shard
    * and the old→new label map (-1 for dead) so callers can remap
    * per-label side state (insert epochs). If the entry died, the live
    * node nearest the old entry vector takes over. Input shard is not
    * mutated. */
  def removeFromShard(sh: Shard, dead: Array[Boolean], params: Params,
                      metric: String): (Shard, Array[Int]) = {
    val n = sh.ids.length
    if (n == 0 || !dead.exists(identity))
      return (sh, Array.tabulate(n)(identity))
    val dist = VectorKernels.orderingDistance(metric) _
    val absorbed = sh.neighbors.clone()
    var u = 0
    while (u < n) {
      if (!dead(u) && absorbed(u).exists(dead)) {
        val cand = scala.collection.mutable.LinkedHashSet.empty[Int]
        absorbed(u).foreach { x =>
          if (dead(x)) sh.neighbors(x).foreach(y =>
            if (!dead(y) && y != u) cand += y)
          else cand += x
        }
        val cands = ArrayBuffer.from(cand.iterator
          .map(x => (x, dist(sh.vectors(u), sh.vectors(x)))))
        absorbed(u) = robustPrune(u, cands, sh.vectors, params.alpha,
          params.maxDegree, dist)
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
    val nbrs = new Array[Array[Int]](next)
    i = 0
    while (i < n) {
      if (!dead(i)) {
        val l = map(i)
        ids(l) = sh.ids(i)
        vecs(l) = sh.vectors(i)
        nbrs(l) = absorbed(i).collect { case x if map(x) >= 0 => map(x) }
      }
      i += 1
    }
    val entry =
      if (next == 0) 0
      else if (!dead(sh.entry)) map(sh.entry)
      else {
        var best = -1; var bestD = Double.MaxValue
        var j = 0
        while (j < n) {
          if (!dead(j)) {
            val dd = dist(sh.vectors(sh.entry), sh.vectors(j))
            if (dd < bestD) { bestD = dd; best = map(j) }
          }
          j += 1
        }
        best
      }
    (Shard(ids, vecs, nbrs, entry), map)
  }

  /** Per-LABEL insert epochs from raw shard rows (label = field 1, epoch
    * at `segIdx`). Create/delta/vacuum shards are single-epoch, but an
    * online insert (AnnIndex.writeOnlineInsert) rewrites a shard with the
    * old rows' epochs preserved and the new rows at the batch epoch —
    * tombstone masking must therefore resolve per row, not per shard.
    * Shared by both graph engines' batch paths. */
  def segArray(shardRows: collection.Seq[Row], segIdx: Int): Array[Long] = {
    val segs = new Array[Long](shardRows.length)
    shardRows.foreach(r => segs(r.getInt(1)) = r.getLong(segIdx))
    segs
  }

  /** Whole-shard rows (layout: shard, label, id, vector|codes, neighbors,
    * is_entry, ...) → in-memory [[Shard]], with label-completeness
    * validation (a partial shard is a graph with dangling labels). */
  private[graft] def decodeShard(shardId: Int, shardRows: collection.Seq[Row],
                                 codec: Option[graft.functions.VectorCodec]): Shard = {
    val n = shardRows.length
    var maxLabel = -1
    shardRows.foreach { r => val lb = r.getInt(1); if (lb > maxLabel) maxLabel = lb }
    if (maxLabel + 1 != n) throw new IllegalStateException(
      s"partial or duplicated graph shard $shardId: $n rows but max label $maxLabel — " +
        "input must deliver each shard's rows exactly once per task")
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val nbrs = new Array[Array[Int]](n)
    var entry = 0
    shardRows.foreach { r =>
      val label = r.getInt(1)
      ids(label) = r.getLong(2)
      vecs(label) = codec match {
        case Some(c) => c.decode(r.getAs[Array[Byte]](3))
        case None => r.getSeq[Float](3).toArray
      }
      nbrs(label) = r.getSeq[Int](4).toArray
      if (r.getBoolean(5)) entry = label
    }
    var i = 0
    while (i < n) {
      if (vecs(i) == null) throw new IllegalStateException(
        s"graph shard $shardId missing label $i — duplicate or dropped rows")
      i += 1
    }
    Shard(ids, vecs, nbrs, entry)
  }

  /** Table-input batch search with NO driver collect: queries stay a
    * DataFrame end-to-end (see [[GraphTableSearch]] for the cogroup model
    * and cost tradeoff vs the broadcast path). Value-identical to
    * [[searchBatch]] on the same beam width. */
  def searchTableDistributed(spark: SparkSession, graphDf: DataFrame,
                             queries: DataFrame, k: Int, l: Int, metric: String,
                             cacheKey: Option[String], shardIds: Seq[Int],
                             codec: Option[graft.functions.VectorCodec],
                             graphPrePartitioned: Boolean = false,
                             route: Option[org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column] = None): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf
      .select("shard", "label", "id", vecColName, "neighbors", "is_entry", "seg")
    GraphTableSearch.run(spark, graph0, queries, shardIds, k, cacheKey,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        beamSearch(s, q, l, dist).iterator
          .map { case (label, d) => (s.ids(label), d, label) }
      },
      graphPrePartitioned = graphPrePartitioned,
      spill = Some(ShardSpillCodec),
      route = route)
  }

  /** Table-input expanding-beam RANGE search with NO driver collect — the
    * batch form of [[rangeBatch]] on the [[GraphTableSearch]] plumbing
    * (cogroup, or zip when pinned): per (shard, query) the beam doubles
    * until the frontier passes `radius·(1+eps)` and every within-radius
    * pool entry is emitted; `k <= 0` on the merge keeps them ALL (range
    * semantics — no top-k cut). Cost is geometric in the final beam width
    * per query, never a full-index distance scan. */
  def rangeTableDistributed(spark: SparkSession, graphDf: DataFrame,
                            queries: DataFrame, radius: Double, eps: Double,
                            initL: Int, maxL: Int, metric: String,
                            cacheKey: Option[String], shardIds: Seq[Int],
                            codec: Option[graft.functions.VectorCodec],
                            graphPrePartitioned: Boolean = false): DataFrame = {
    val dist = VectorKernels.orderingDistance(metric) _
    val vecColName = if (codec.isDefined) "codes" else "vector"
    val graph0 = graphDf
      .select("shard", "label", "id", vecColName, "neighbors", "is_entry", "seg")
    GraphTableSearch.run(spark, graph0, queries, shardIds, k = -1, cacheKey,
      decode = (shardId, rows) => decodeShard(shardId, rows, codec),
      search = (sh, q) => {
        val s = sh.asInstanceOf[Shard]
        GraphRange.expanding(radius, eps, initL, maxL)(l => beamSearch(s, q, l, dist))
          .iterator.map { case (label, d) => (s.ids(label), d, label) }
      },
      graphPrePartitioned = graphPrePartitioned,
      spill = Some(ShardSpillCodec))
  }

  /** Shuffle-partition count for shard-keyed repartitions: hashing shard
    * ids collides (birthday effect — at P=numShards ~1/3 of partitions hold
    * 2+ whole shards and as many sit empty), so use a few buckets per shard
    * to keep one-shard-per-task likely; cap the inflation for huge shard
    * counts where multi-shard tasks are inevitable anyway. */
  def shardPartitions(numShards: Int): Int =
    math.max(numShards, math.min(numShards * 4, 4096))

  /** Identity-partition `df` so partition index == the dense int key
    * column's value (key ∈ [0, n)) — the exact one-shard-per-TASK layout
    * for the BUILD fan-out. A hash repartition even at 4× buckets still
    * pairs shards by the birthday effect (~C(n,2)/P collisions), and a
    * collided task builds two graphs SERIALLY — measured as the bulk of
    * the spatial build premium (r16: buildWrite 1.95 s spatial vs 1.02 s
    * hash at 16 shards / 64 buckets, shard sizes near-uniform). Build is
    * a one-time materialization, so the RDD hop costs nothing next to the
    * graph construction it lets run fully parallel. NOT for search/pin
    * layouts — those must stay on Spark's HashPartitioning arithmetic
    * (partitionOfShard / DAG-level pruning depend on it). */
  def identityPartitionByIntKey(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val parted = df.rdd
      .map(r => (r.getInt(keyIdx), r))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = math.max(1, n)
        override def getPartition(key: Any): Int = {
          val k = key.asInstanceOf[Int]
          // loud contract check: a sparse/out-of-range key would otherwise
          // surface as an opaque ArrayIndexOutOfBounds deep in the shuffle
          require(k >= 0 && k < numPartitions,
            s"identityPartitionByIntKey: key $k outside [0, $n) — keys must be dense")
          k
        }
      })
      .map(_._2)
    spark.createDataFrame(parted, schema)
  }

  /** The partition a `repartition(P, col("shard"))` layout puts shard id
    * `s` in — evaluated through Spark's own HashPartitioning expression
    * (Pmod(Murmur3Hash, P)), so it is identical-by-construction to the
    * layout, not a reimplementation. Lets a ROUTED search skip whole
    * unrouted partitions before even consuming their (cached) iterators —
    * on a pinned 1M-row index the partition scan, not the beams, is the
    * per-call floor. */
  def shardPartitionId(shardId: Int, numPartitions: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal(shardId))), Literal(numPartitions))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Int]
  }

  /** Search-time beam width: l = max(k, search_complexity or
    * build_complexity) (reference: rust_lib/src/index_manager.rs:344-350). */
  def beamWidth(k: Int, searchComplexity: Int, buildComplexity: Int): Int =
    math.max(k, if (searchComplexity > 0) searchComplexity else buildComplexity)
}
