package graft.pipeline

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.LongAccumulator

import scala.util.hashing.MurmurHash3

/** Deduplication operators for training-data pipelines (north-star
  * extension, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard
  * verification, and embedding-cosine near-dup.
  *
  * 100 TB posture: every candidate-generation path is bucket-partitioned
  * (LSH band buckets / simhash chunks / hyperplane signs) so the only
  * all-pairs work happens inside buckets; exact verification joins shingle
  * sets only for surviving candidate pairs. Oversized buckets (degenerate
  * content) are capped and reported rather than silently exploding.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Sessions that already carry the capped-bucket log listener. */
  private val capListenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Log observed capped-bucket metrics after each action touching a
    * Dedup plan — the reporting the bucket caps promise, at zero extra
    * job cost (the metric rides the aggregation via Dataset.observe). */
  private def ensureCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    capListenerSessions.synchronized {
      if (!capListenerSessions.containsKey(spark)) {
        capListenerSessions.put(spark, java.lang.Boolean.TRUE)
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft.dedup.") && !row.isNullAt(0) && row.getLong(0) > 0)
                log.warn(s"$name: dropped ${row.getLong(0)} oversized LSH bucket(s); " +
                  s"largest bucket had ${row.getLong(1)} members — degenerate near-identical " +
                  "content is not pair-expanded (raise maxBucket to include it)")
              else if (name.startsWith("graft.semdedup.") && !row.isNullAt(0) && row.getLong(0) > 0)
                log.warn(s"$name: ${row.getLong(0)} cluster(s) above maxCluster passed " +
                  s"through UNdeduped; largest cluster had ${row.getLong(1)} members " +
                  "(raise maxCluster, or nClusters to split them)")
            }
          override def onFailure(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 exception: Exception): Unit = ()
        })
      }
    }

  /** Skew-safe bucket formation shared by every LSH candidate generator:
    * per-key COUNTS aggregate first (map-side partials — a degenerate key
    * never materializes), oversized keys are dropped by a semi-join BEFORE
    * `collect_list` builds any array, and the number of capped buckets is
    * observed on the plan and logged by [[ensureCapListener]].
    *
    * The input feeds two branches (count + collect) whose exchanges carry
    * different data (aggregation buffers vs raw rows), so Spark cannot
    * reuse one shuffle between them — the input would be COMPUTED TWICE.
    * Since it is an expensive hash projection (minhash/simhash/hyperplane
    * UDFs), it is cached here; entries evict LRU under storage pressure.
    * Callers pass a slim (key cols + payload) projection. */
  private val observeSeq = new java.util.concurrent.atomic.AtomicLong()

  // ---- scoped release of operator-internal caches ----
  // The LSH operators persist intermediates (hash projections feeding two
  // plan branches). Default stance: leave them cached, LRU-evicted under
  // storage pressure — a consumer that runs several actions over the
  // returned plan keeps warm branches. A standing pipeline that consumes
  // each result ONCE (the 100 TB posture) opts in to deterministic release:
  // with spark.graft.dedup.autoRelease=true, every cache an operator
  // created is unpersisted as soon as the first action over the returned
  // plan completes (success or failure).
  private val cacheScope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  private def trackCache(df: DataFrame): DataFrame = {
    Option(cacheScope.get).foreach(_ += df)
    df
  }

  // Active auto-release scopes, oldest first: a result that is NEVER
  // consumed through a Dataset action would otherwise leak its listener
  // (scanning every subsequent query) and pin its caches for the session.
  // Registration beyond the bound force-releases the oldest scope — its
  // still-unconsumed result silently degrades to full recomputation, so
  // the eviction WARNS (and the bound is a conf) rather than being an
  // invisible perf cliff for a workload that builds many results before
  // consuming any.
  private def maxActiveScopes(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.dedup.maxActiveScopes", "32").toInt
  private val activeScopes =
    new java.util.ArrayDeque[() => Unit]()

  /** Collect every cache the operator body registers (via [[trackCache]])
    * and, when auto-release is enabled, unpersist them after the first
    * action that executes the returned plan. */
  private def withCacheScope(body: => DataFrame): DataFrame = {
    val outer = cacheScope.get // operators can nest (ngramJaccardPairs)
    val buf = new scala.collection.mutable.ArrayBuffer[DataFrame]
    cacheScope.set(buf)
    val result = try body finally cacheScope.set(outer)
    if (outer != null) { outer ++= buf; return result } // innermost defers to outermost
    if (buf.isEmpty) return result
    val spark = result.sparkSession
    if (!spark.conf.get("spark.graft.dedup.autoRelease", "false").toBoolean)
      return result
    // Unique literal tag inside the matched subtree: two calls with
    // identical arguments produce canonically-equal plans, and an untagged
    // sameResult match would let the FIRST result's action release the
    // second scope's caches before its own consumption. The tag column is
    // projected away immediately (same output schema), but the inner
    // Project keeps the distinct literal, so each scope only ever matches
    // its own plan.
    val scopeId = observeSeq.incrementAndGet()
    val tag = s"__graft_scope_$scopeId"
    val tagged = result
      .withColumn(tag, org.apache.spark.sql.functions.lit(scopeId))
      .drop(tag)
    val target = tagged.queryExecution.analyzed
    val caches = buf.toSeq
    lazy val release: () => Unit = { () =>
      caches.foreach(_.unpersist(false))
      spark.listenerManager.unregister(listener)
      activeScopes.synchronized { activeScopes.remove(release) }
    }
    lazy val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def maybeRelease(
            qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          // sameResult (canonicalized) rather than eq: analysis of a
          // caller's wrapping query may copy the subtree
          if ((qe.analyzed eq target) || qe.analyzed.exists(_.sameResult(target)))
            release()
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = maybeRelease(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = maybeRelease(qe)
      }
    activeScopes.synchronized {
      activeScopes.addLast(release)
      val bound = maxActiveScopes(spark)
      while (activeScopes.size() > bound) {
        // oldest scope was never consumed: release it now rather than leak
        log.warn(s"dedup auto-release: more than $bound unconsumed results " +
          "outstanding — force-releasing the oldest scope's caches; its " +
          "result will fully recompute when consumed (consume results " +
          "promptly, or raise spark.graft.dedup.maxActiveScopes)")
        val oldest = activeScopes.peekFirst()
        oldest() // removes itself from the deque
      }
    }
    spark.listenerManager.register(listener)
    tagged
  }

  private def cappedBuckets(rows: DataFrame, keyCols: Seq[String],
                            payload: Column, maxBucket: Int,
                            what: String): DataFrame = {
    ensureCapListener(rows.sparkSession)
    val keys = keyCols.map(col)
    val cached = trackCache(
      rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // unique observation name per call: two dedup operators composed into
    // ONE query (e.g. a union) must not collide at analysis time
    val counts = cached.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .observe(s"graft.dedup.$what.${observeSeq.incrementAndGet()}",
        sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("capped_buckets"),
        max(col("__n")).as("largest_bucket"))
    val eligible = counts.filter(col("__n").between(2, maxBucket)).select(keys: _*)
    cached.join(eligible, keyCols, "left_semi")
      .groupBy(keys: _*).agg(collect_list(payload).as("items"))
  }

  // ---- exact ----

  /** Exact dedup groups: one row per distinct text, keeping the smallest id
    * (hash-groupBy; partial aggregation map-side). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** The deduplicated relation itself (all columns, first-id winner). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---- shingles + MinHash ----

  /** Word n-shingle hash set (sorted distinct), stable across JVMs
    * (MurmurHash3 over the joined shingle string). */
  def shingleUdf(n: Int) = udf { text: String =>
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array(MurmurHash3.stringHash(toks.mkString(" ")))
    else toks.sliding(n).map(w => MurmurHash3.stringHash(w.mkString(" "))).toArray.distinct.sorted
  }

  private val MersennePrime = (1L << 61) - 1

  /** Seeded universal-hash parameters for the MinHash family. */
  private def hashParams(numHashes: Int, seed: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((math.abs(rnd.nextLong()) % MersennePrime + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** MinHash signature of a shingle set: sig_i = min over shingles of
    * (a_i * x + b_i) mod p. */
  def minhashUdf(numHashes: Int, seed: Int = 42) = {
    val params = hashParams(numHashes, seed)
    udf { shingles: Seq[Int] =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      for (s <- shingles) {
        val x = s.toLong & 0xffffffffL
        var i = 0
        while (i < numHashes) {
          val (a, b) = params(i)
          val h = mulMod61(a, x) + b
          val hv = if (h >= MersennePrime) h - MersennePrime else h
          if (hv < sig(i)) sig(i) = hv
          i += 1
        }
      }
      sig
    }
  }

  /** (a*b) mod (2^61-1) without overflow or allocation: 2^64 ≡ 8 (mod p),
    * so the 128-bit product hi·2^64 + lo reduces to hi·8 + (lo>>>61) +
    * (lo & p). Allocation-free — this runs numHashes × shingles times per row. */
  private def mulMod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var res = (hi << 3) + (lo >>> 61) + (lo & MersennePrime)
    while (res >= MersennePrime) res -= MersennePrime
    res
  }

  /** Candidate pairs via LSH banding: signatures split into `bands`, a
    * bucket per (band, hash-of-rows); ids sharing a bucket are candidates.
    * `maxBucket` caps degenerate buckets (logged via `_capped` count).
    * Rows per band come from each signature's own size (`minhashUdf`
    * emits a fixed size), so building the plan starts no Spark job. */
  def lshCandidates(sigs: DataFrame, idCol: String, sigCol: String,
                    bands: Int, maxBucket: Int = 1000): DataFrame = {
    val rows = (size(col(sigCol)) / bands).cast("int")
    val banded = sigs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col(sigCol), b * rows + 1, rows)))).as(Seq("band", "band_hash")))
    val buckets = cappedBuckets(banded, Seq("band", "band_hash"), col(idCol),
      maxBucket, "minhash_lsh").withColumnRenamed("items", "ids")
    buckets.select(explode(pairsExpr(col("ids"))).as("pair"))
      .select(col("pair._1").as("a"), col("pair._2").as("b"))
      .distinct()
  }

  /** All ordered pairs (i<j) from an id array — SQL-level, no UDF. */
  private def pairsExpr(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)), y =>
        struct(least(x, y).as("_1"), greatest(x, y).as("_2")))))

  /** Exact Jaccard over shingle arrays (sorted distinct ints). */
  val jaccardUdf = udf { (a: Seq[Int], b: Seq[Int]) =>
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val sa = a.toSet
      val inter = b.count(sa)
      inter.toDouble / (sa.size + b.toSet.size - inter)
    }
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified: shingle → minhash →
    * band buckets → candidate pairs → Jaccard ≥ threshold. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.7): DataFrame = withCacheScope {
    val shingled = trackCache(
      df.select(col(idCol), shingleUdf(shingleSize)(col(textCol)).as("shingles"))
        .cache())
    val sigs = shingled.select(col(idCol), minhashUdf(numHashes)(col("shingles")).as("sig"))
    val cands = lshCandidates(sigs, idCol, "sig", bands)
    val sa = shingled.select(col(idCol).as("a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col(idCol).as("b"), col("shingles").as("sh_b"))
    cands.join(sa, "a").join(sb, "b")
      .withColumn("jaccard", jaccardUdf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard for EVERY candidate pair from LSH — the
    * "ngram-jaccard" dedup surface (verification without the threshold cut). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16): DataFrame =
    minhashNearDups(df, idCol, textCol, shingleSize, numHashes, bands, threshold = 0.0)

  /** Exact all-pairs word n-gram Jaccard over DISTINCT shingle STRINGS,
    * composed purely from codegen'd array built-ins — no hash family, so a
    * SQL oracle can recompute it bit-for-bit. This is the exact baseline;
    * [[ngramJaccardPairs]]'s minhash-LSH banding is the scale path.
    *
    * Quadratic by declared design (like [[embeddingNearDups]]): bounded
    * inputs only. A size-ratio prefilter prunes pairs before the
    * O(|A|·|B|) intersect — J ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t,
    * so the filter never drops a qualifying pair, and with t = 0.5 the
    * comparison is exact in doubles on both engines. */
  /** Word n-shingles as DISTINCT strings, composed purely from codegen'd
    * array built-ins — no hash family, so a SQL oracle recomputes them
    * bit-for-bit. Shared by [[ngramJaccardExact]] and the decontamination
    * operators. */
  private[graft] def sqlShinglesPublic(n: Int)(c: Column): Column = sqlShingles(n)(c)

  private[pipeline] def sqlShingles(n: Int)(c: Column): Column = {
    val toksExpr = filter(split(lower(c), "\\s+"), t => length(t) > 0)
    // the token array is hoisted into a lambda variable (array+transform+
    // flatten): Catalyst does not hoist loop-invariant subtrees out of
    // higher-order functions, so referencing `toks` directly inside the
    // per-gram lambda would re-run lower+split+filter ONCE PER GRAM —
    // measured 10x on the shared-ngram scan. As a lambda variable it is
    // evaluated once per row and every reference is an array read.
    flatten(transform(array(toksExpr), toks =>
      array_distinct(
        when(size(toks) < n, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))))
  }

  def ngramJaccardExact(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 2, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1] (prefix filtering needs t > 0)")
    val n = shingleSize
    def shingles(c: Column): Column = sqlShingles(n)(c)
    // Prefix-filtered all-pairs similarity join (Bayardo WWW'07 / Vernica
    // SIGMOD'10): sort each shingle set under ONE global total order and
    // keep the first |s| - ceil(t·|s|) + 1 elements as its PREFIX. For any
    // pair with J >= t, the order-smallest common element sits within BOTH
    // prefixes (its position in sorted A is at most |A| - |A∩B| + 1 and
    // |A∩B| >= t·|A|), so an equi-join of the exploded prefixes finds
    // every qualifying pair — candidate generation is a hash join on
    // shingle strings instead of the O(n²) cross join, and the exact
    // verify below makes the RESULT identical to the all-pairs form
    // (the strict oracle replays the unfiltered definition, order-free).
    // The order is ascending DOCUMENT FREQUENCY (ties by token): prefixes
    // then hold each document's RAREST shingles, so join keys are nearly
    // unique and the candidate set collapses — the boilerplate bigrams
    // every document shares sit at the array tails, outside every prefix
    // (lexicographic order left them in prefixes: 19x more candidate work
    // on the sf0.1 corpus). Costs one extra distributed count + re-agg,
    // linear in corpus size.
    val bare = df.select(col(idCol).as("id"), shingles(col(textCol)).as("s0"))
    val exploded = bare.select(col("id"), explode(col("s0")).as("tok"))
    val tokDf = exploded.groupBy("tok").agg(count(lit(1)).as("c"))
    // materialized once (eager, lineage-truncated): the ordered arrays are
    // read THREE times below (prefix explode + both verify re-attaches),
    // and recomputing the df-count + re-agg pipeline per read tripled the
    // operator's cost; the checkpointed relation is (id, shingles) — the
    // same footprint the input's text column already had
    val shingled = exploded.join(tokDf, "tok")
      .groupBy("id")
      .agg(expr("transform(sort_array(collect_list(struct(c, tok))), x -> x.tok)")
        .as("s"))
      .withColumn("sz", size(col("s")))
      .localCheckpoint()
    // ceil on a nudged product: when t·sz is mathematically an integer but
    // the double product rounds UP (t not exactly representable), a bare
    // ceil would overshoot by 1 and shorten the prefix — dropping a
    // qualifying pair. A slightly longer prefix is always safe (only
    // cheaper, never correctness-affecting), so nudge down before ceil.
    val prefixLen = (col("sz").cast("double")
      - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int")
    val pref = shingled
      .select(col("id"), col("sz"), explode(slice(col("s"), lit(1), prefixLen)).as("tok"))
    // candidate ids only (size-ratio filter on the carried int sizes);
    // shingle arrays are re-attached AFTER the pair-distinct so the heavy
    // columns never ride through the candidate shuffle
    val cands = pref.as("x").join(pref.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .filter(least(col("x.sz"), col("y.sz")).cast("double")
        >= lit(threshold) * greatest(col("x.sz"), col("y.sz")))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val union = size(col("sa")) + size(col("sb")) - col("inter")
    cands
      .join(shingled.select(col("id").as("a"), col("s").as("sa")), "a")
      .join(shingled.select(col("id").as("b"), col("s").as("sb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .filter(col("inter") / union >= threshold)
      // +1e-9 before round(4): keeps ratios landing EXACTLY on a .00005
      // boundary from flipping between Spark HALF_UP and DuckDB rounding
      .select(col("a"), col("b"),
        round(col("inter") / union + lit(1e-9), 4).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs with a CROSS-ENGINE hash family: signature
    * element i is the lexicographic min over shingles of the 16-hex-char
    * prefix of `md5("<i>:" ++ shingle)` (fixed-width lowercase hex, so
    * string order == numeric order). md5 is bit-identical everywhere, which
    * makes the WHOLE banding pipeline — shingle → k-hash signature → band
    * keys → skew-capped buckets → candidate pairs → exact-Jaccard verify —
    * strictly recomputable by a SQL oracle, unlike the murmur/universal
    * family of [[minhashNearDups]]. That one stays the throughput path
    * (one integer hash per shingle vs numHashes md5 digests here); this one
    * is the verification family: run it on a sample to certify the banding
    * logic end-to-end, then trust the fast family at scale (recall
    * equivalence of the two families is asserted in PipelineSpec).
    *
    * Same skew posture as every LSH generator here: bucket membership is
    * count-filtered through [[cappedBuckets]] BEFORE any array builds, so a
    * degenerate band key caps instead of exploding. Output is verified
    * pairs (a < b) with their exact Jaccard — identical shape and
    * arithmetic to [[ngramJaccardExact]]. */
  def minhashNearDupsMirrorable(df: DataFrame, idCol: String, textCol: String,
                                shingleSize: Int = 2, numHashes: Int = 64,
                                bands: Int = 16, threshold: Double = 0.5,
                                maxBucket: Int = 1000): DataFrame = withCacheScope {
    val r = numHashes / bands
    require(bands * r == numHashes, s"bands ($bands) must divide numHashes ($numHashes)")
    val shingled = df.select(col(idCol), sqlShingles(shingleSize)(col(textCol)).as("sh"))
    // element i of the signature; `sh` is this row's distinct shingle array
    val sig = transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(col("sh"), s =>
        substring(md5(concat(i.cast("string"), lit(":"), s)), 1, 16))))
    // band key = concat of the band's signature rows. The signature is
    // hoisted into a lambda variable (array+transform+flatten, see
    // sqlShingles): referenced directly inside the per-band lambda, the
    // full numHashes × shingles md5 work would re-run once PER BAND.
    val bandKeys = flatten(transform(array(sig), sg =>
      transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws("", slice(sg, b * lit(r) + lit(1), lit(r))))))
    val banded = shingled.select(col(idCol),
      posexplode(bandKeys).as(Seq("band", "bkey")))
    val buckets = cappedBuckets(banded, Seq("band", "bkey"), col(idCol),
      maxBucket, "minhash_md5")
    val cands = buckets.select(explode(pairsExpr(col("items"))).as("pair"))
      .select(col("pair._1").as("a"), col("pair._2").as("b"))
      .distinct()
    // exact verification over the distinct shingle strings — the same
    // double arithmetic (and .00005-boundary nudge) as ngramJaccardExact
    val sa = shingled.select(col(idCol).as("a"), col("sh").as("sa"))
    val sb = shingled.select(col(idCol).as("b"), col("sh").as("sb"))
    val union = size(col("sa")) + size(col("sb")) - col("inter")
    cands.join(sa, "a").join(sb, "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .filter(col("inter") / union >= threshold)
      .select(col("a"), col("b"), round(col("inter") / union + lit(1e-9), 4).as("jaccard"))
  }

  /** Per-document cross-corpus duplication score: the fraction of a doc's
    * distinct word n-grams that also occur in at least one OTHER document
    * — the "duplicate text fraction" curation signal (cf. Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": repeated
    * cross-document spans degrade models even when no two docs are
    * near-duplicates). Pairwise operators (ngramJaccard*) find WHO
    * duplicates whom; this scores HOW MUCH of each doc is corpus-level
    * boilerplate, filterable per row without materializing any pair.
    *
    * Scale shape: one (doc, distinct-gram) explode; gram document
    * frequency is a hash aggregate with map-side partials; the join back
    * is by gram and the per-doc rollup a second hash aggregate — no
    * all-pairs term anywhere, O(total grams), skew-safe (a boilerplate
    * gram stays (doc, gram) rows, never a collected list).
    *
    * @return (idCol, n_grams, n_shared, shared_frac) */
  def sharedNgramStats(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 8): DataFrame = {
    val grams = df.select(col(idCol),
      explode(sqlShingles(shingleSize)(col(textCol))).as("gram"))
    // grams are distinct WITHIN a doc, so count(*) per gram = doc frequency.
    // r18: the count rides a window over ONE gram exchange — the old
    // groupBy-then-join-back scanned and shuffled the full gram stream
    // twice (mostly-unique grams defeat map-side partial aggregation, and
    // column pruning blocks exchange reuse between the two consumers);
    // same per-gram counts, one scan, one full-volume exchange.
    grams
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      // +1e-9 before round(4): same boundary guard as ngramJaccardExact
      .withColumn("shared_frac",
        round(col("n_shared") / col("n_grams") + lit(1e-9), 4))
  }

  private val annDedupSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Embedding near-dup via an ANN-index self-join — the INDEX-BACKED
    * scale path: build a transient cosine IVF index over the vectors, feed
    * the table itself through the fully-distributed cell-pruned batch
    * search ([[graft.operators.AnnSearch.searchTable]]), and keep pairs
    * above the similarity threshold. Work is O(n · nprobe/nlist · n) vs
    * O(n²) exact, with every stage a DataFrame job (no driver collection
    * of the corpus); recall follows probe coverage and is asserted in
    * PipelineSpec. Requires `idCol != "id"` (the hit column is `id`).
    *
    * Both sides normalize through the same [[graft.functions.NormalizeVector]]
    * kernel, so the (a,b) and (b,a) directions carry bit-identical
    * similarities and collapse exactly in the final distinct.
    *
    * @param engine "IVF" (default — cell-pruned, O(n · nprobe/nlist · n)),
    *               or "DISKANN"/"HNSW": graph shards searched through the
    *               same table-input operator, whose auto strategy switches
    *               to the cogrouped no-driver-collect plan once the corpus
    *               exceeds the collect bound — the corpus-scale graph
    *               self-join the reference cannot express. For graph
    *               engines `nprobe` is the search beam (search_complexity).
    */
  def embeddingNearDupsAnn(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nlist: Int = 64, nprobe: Int = 8,
                           k: Int = 10, engine: String = "IVF"): DataFrame = {
    require(idCol != "id", "idCol must differ from the index hit column 'id'")
    val spark = df.sparkSession
    val name = s"__neardup_ann_${annDedupSeq.incrementAndGet()}"
    val path = java.nio.file.Files.createTempDirectory("graft_neardup_ann").toString
    val params = engine match {
      case "IVF" => Map("metric" -> "cosine", "nlist" -> nlist.toString,
        "nprobe" -> nprobe.toString)
      case "DISKANN" | "HNSW" => Map("metric" -> "cosine")
      case other => throw new IllegalArgumentException(
        s"embeddingNearDupsAnn engine must be IVF|DISKANN|HNSW, got $other")
    }
    val idx = graft.index.AnnIndexManager.create(spark, name, df, idCol, vecCol,
      engine, params, path)
    // scratch index: drop the catalog entry immediately (the loaded idx
    // keeps serving from its path, which the returned lazy plan needs —
    // callers own deleting `path` once the result is consumed)
    graft.index.AnnIndexManager.unregister(name)
    val hits = graft.operators.AnnSearch.searchTable(idx,
      df.select(col(idCol), col(vecCol)), k + 1, nprobe,
      queryVecCol = Some(vecCol), queryIdCol = Some(idCol))
    hits.filter(col(idCol).cast("long") =!= col("id"))
      .withColumn("cos_sim", lit(1.0) - col("_distance")) // cosine dist = 1 - dot
      .filter(col("cos_sim") > threshold && !isnan(col("cos_sim")))
      .select(least(col(idCol).cast("long"), col("id")).as("a"),
        greatest(col(idCol).cast("long"), col("id")).as("b"),
        round(col("cos_sim"), 4).as("cos_sim"))
      .distinct()
  }

  // ---- SimHash ----

  /** 64-bit SimHash over word tokens (murmur token hashes, ±1 per bit). */
  val simhashUdf = udf { text: String =>
    val counts = new Array[Int](64)
    for (tok <- text.toLowerCase.split("\\s+") if tok.nonEmpty) {
      val h1 = MurmurHash3.stringHash(tok).toLong & 0xffffffffL
      val h2 = MurmurHash3.stringHash(tok, 0x9747b28c).toLong & 0xffffffffL
      val h = (h1 << 32) | h2
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhashUdf(col(textCol)))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * via 4×16-bit chunk banding (pigeonhole: any pair within distance 3
    * shares at least one exact chunk). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingNearDups(withSimhash(df, textCol), idCol, "simhash", maxHamming,
      maxBucket)

  /** Banded Hamming near-dup pairs over an ARBITRARY 64-bit hash column
    * (SimHash, image aHash/dHash, any fingerprint): same 4×16-bit chunk
    * banding and capped buckets as [[simhashNearDups]] — COMPLETE for
    * maxHamming <= 3 by pigeonhole; larger maxHamming stays best-effort
    * (only pairs sharing at least one exact 16-bit chunk are candidates —
    * the long-standing simhash contract). Null hashes never pair. Returns
    * `(a, b, hamming)` with a < b. */
  def hammingNearDups(df: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = withCacheScope {
    val hashed = trackCache(
      df.filter(col(hashCol).isNotNull)
        .select(col(idCol), col(hashCol).cast("long").as("simhash")).cache())
    val chunked = hashed.select(col(idCol), col("simhash"), posexplode(
      expr("transform(sequence(0,3), c -> shiftright(simhash, c*16) & 65535)"))
      .as(Seq("chunk", "chunk_val")))
    val buckets = cappedBuckets(chunked, Seq("chunk", "chunk_val"),
      struct(col(idCol), col("simhash")), maxBucket, "simhash")
    buckets.select(explode(pairsExprStruct(col("items"), idCol)).as("pair"))
      .select(col(s"pair.a_$idCol").as("a"), col(s"pair.b_$idCol").as("b"),
        col("pair.a_sim").as("sim_a"), col("pair.b_sim").as("sim_b"))
      .distinct()
      // bit_count is the codegen'd builtin twin of the old
      // Long.bitCount UDF (identical values, no UDF eval node)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** SimHash with the cross-engine md5 bit family — the verification
    * analogue of [[withSimhash]] (murmur stays the throughput family, one
    * integer hash per token vs one md5 digest here). Bit j of a token's
    * contribution is bit (3 - j%4) of hex digit j/4 of `md5(token)` — the
    * MSB-first binary expansion of the digest string — and the signature
    * bit is the sign of the per-bit vote sum, exactly the Charikar
    * construction. Output is the 64-bit signature as four 16-bit ints
    * (`chunk0..chunk3`, the same chunking [[simhashNearDups]] bands on),
    * which keeps every value inside exact INTEGER arithmetic on any
    * engine — so the whole operator is strictly SQL-mirrorable.
    *
    * Scale shape: one token explode, ONE hash aggregate with 64 map-side
    * partial sums, a broadcast-size join back — no pair term, no skew
    * hazard (a degenerate token just adds votes). */
  def simhashMd5Chunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val h = df.select(col(idCol), explode(toks).as("tok"))
      .select(col(idCol), md5(col("tok")).as("h"))
    def nib(p: Int): Column = conv(substring(col("h"), p + 1, 1), 16, 10).cast("int")
    val sums = (0 until 64).map { j =>
      val bit = shiftright(nib(j / 4), 3 - j % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val votes = h.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val chunks = (0 until 4).map { c =>
      (0 until 16).map { m =>
        when(col(s"s${c * 16 + m}") > 0, lit(1 << (15 - m))).otherwise(lit(0))
      }.reduce(_ + _).as(s"chunk$c")
    }
    val sig = votes.select(col(idCol) +: chunks: _*)
    // docs with no tokens have no exploded rows: all-zero signature, like
    // the zero vote vector the loop formulation would produce
    df.select(col(idCol)).join(sig, Seq(idCol), "left")
      .select(col(idCol) +:
        (0 until 4).map(c => coalesce(col(s"chunk$c"), lit(0)).as(s"chunk$c")): _*)
  }

  private def pairsExprStruct(items: Column, idCol: String): Column =
    flatten(transform(items, (x, i) =>
      transform(slice(items, i + lit(2), size(items)), y =>
        struct(
          least(x(idCol), y(idCol)).as(s"a_$idCol"),
          greatest(x(idCol), y(idCol)).as(s"b_$idCol"),
          when(x(idCol) <= y(idCol), x("simhash")).otherwise(y("simhash")).as("a_sim"),
          when(x(idCol) <= y(idCol), y("simhash")).otherwise(x("simhash")).as("b_sim")))))

  // ---- embedding near-dup ----

  /** Exact all-pairs cosine near-dup (id_a < id_b, cos ≥ threshold).
    * Correct at any scale but quadratic — the broadcast nested-loop plan is
    * fine for ≤ ~100k rows; beyond that use [[embeddingNearDupsLsh]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    import graft.functions.AnnFunctions._
    // narrow once per input row so the quadratic cosine loop compiles
    // branch-free (null elements → NaN → excluded by the threshold)
    val a = df.select(col(idCol).as("a"), vector_nonnull(col(vecCol)).as("va"))
    val b = df.select(col(idCol).as("b"), vector_nonnull(col(vecCol)).as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos_sim", cosine_similarity(col("va"), col("vb")))
      // NaN (null elements narrowed by vector_nonnull, or zero-norm
      // vectors) must FAIL the cut: Spark's nan-safe compare treats NaN as
      // greater than every number, so `> threshold` alone would PASS it
      .filter(col("cos_sim") > threshold && !isnan(col("cos_sim")))
      .select(col("a"), col("b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Scale path: random-hyperplane LSH buckets (sign bits of h seeded
    * projections) prune candidates, then exact cosine verification. Recall
    * < 1 by construction; raise repeats for higher recall. */
  /** The seeded hyperplane family shared by [[embeddingNearDupsLsh]] and
    * its SQL oracle generator (which inlines these exact values as double
    * literals) — one definition so the two can never drift. */
  private[graft] def lshPlanes(repeats: Int, bits: Int, dim: Int,
                               seed: Int): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(repeats, bits, dim)(rnd.nextGaussian().toFloat)
  }

  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, bits: Int = 12,
                           repeats: Int = 4, seed: Int = 42,
                           maxBucket: Int = 10000): DataFrame = withCacheScope {
    import graft.functions.AnnFunctions._
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val planes = lshPlanes(repeats, bits, dim, seed)
    val sc = df.sparkSession.sparkContext
    val bc = sc.broadcast(planes)
    // sign accumulation in DOUBLE with per-term double products: the exact
    // arithmetic a SQL engine uses over DOUBLE[] casts, which is what lets
    // an oracle replay the bucket assignment bit-for-bit (float
    // accumulation would drift on the  boundary sums)
    val sigUdf = udf { (v: Seq[Float], rep: Int) =>
      val arr = v.toArray
      var sig = 0
      val ps = bc.value(rep)
      var b = 0
      while (b < bits) {
        var acc = 0.0
        val p = ps(b)
        var i = 0
        while (i < dim) { acc += p(i).toDouble * arr(i); i += 1 }
        if (acc >= 0) sig |= (1 << b)
        b += 1
      }
      sig
    }
    val reps = df.select(col(idCol), col(vecCol))
      .crossJoin(spark_rep(df, repeats))
      .withColumn("bucket", sigUdf(col(vecCol), col("rep")))
      .select(col(idCol), col("rep"), col("bucket")) // drop vectors pre-shuffle
    val buckets = cappedBuckets(reps, Seq("rep", "bucket"), col(idCol),
      maxBucket, "embedding_lsh").withColumnRenamed("items", "ids")
    val cands = buckets.select(explode(pairsExpr(col("ids"))).as("pair"))
      .select(col("pair._1").as("a"), col("pair._2").as("b"))
      .distinct()
    val va = df.select(col(idCol).as("a"), vector_nonnull(col(vecCol)).as("va"))
    val vb = df.select(col(idCol).as("b"), vector_nonnull(col(vecCol)).as("vb"))
    cands.join(va, "a").join(vb, "b")
      .withColumn("cos_sim", cosine_similarity(col("va"), col("vb")))
      // NaN (null elements narrowed by vector_nonnull, or zero-norm
      // vectors) must FAIL the cut: Spark's nan-safe compare treats NaN as
      // greater than every number, so `> threshold` alone would PASS it
      .filter(col("cos_sim") > threshold && !isnan(col("cos_sim")))
      .select(col("a"), col("b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  private def spark_rep(df: DataFrame, repeats: Int): DataFrame =
    df.sparkSession.range(repeats).select(col("id").cast("int").as("rep"))

  // ---- semantic dedup (SemDeDup, Abbas et al. 2023) ----

  /** Semantic dedup, exact variant: drop every row that has a
    * more-similar-than-threshold neighbor with a SMALLER id (first id
    * wins, the same winner rule as exact dedup). All-pairs — quadratic by
    * declared design like [[embeddingNearDups]]; SQL-mirrorable, so it
    * carries a strict oracle. [[semanticDedup]] is the clustered scale
    * path. */
  def semanticDedupExact(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val drops = embeddingNearDups(df, idCol, vecCol, threshold)
      .select(col("b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Semantic dedup, clustered scale path: k-means buckets the corpus by
    * embedding (SemDeDup's observation: near-duplicates land in the same
    * cluster), the quadratic cosine pass runs only WITHIN clusters, and a
    * row is dropped when a smaller-id neighbor in its cluster exceeds the
    * threshold. Work falls from O(n²) to O(Σ cᵢ²) with every stage a
    * DataFrame job. Deterministic: seeded driver-side training, fixed
    * assignment (see [[CorpusPipeline.clusterEmbeddings]]).
    *
    * Skew safety (same stance as the LSH bucket caps): clusters larger
    * than `maxCluster` pass through UNdeduped rather than detonating a
    * quadratic join — count-filtered before any pairing. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nClusters: Int = 256,
                    maxCluster: Int = 10000,
                    centroids: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    import graft.functions.AnnFunctions._
    ensureCapListener(df.sparkSession)
    // pre-trained centroids (e.g. stashed for a strict SQL oracle that
    // inlines them as literals) skip training and go straight to the
    // deterministic row-local assignment
    val clustered = centroids match {
      case Some(c) => CorpusPipeline.assignClusters(df, vecCol, c)
      case None => CorpusPipeline.clusterEmbeddings(df, idCol, vecCol, nClusters)
    }
    val small = clustered.groupBy("cluster_id")
      .agg(count(lit(1)).as("__cn"))
      .observe(s"graft.semdedup.capped.${observeSeq.incrementAndGet()}",
        sum(when(col("__cn") > maxCluster, 1L).otherwise(0L)).as("capped_clusters"),
        max(col("__cn")).as("largest_cluster"))
      .filter(col("__cn") <= maxCluster)
      .select("cluster_id")
    val dedupable = clustered.join(broadcast(small), Seq("cluster_id"))
    val a = dedupable.select(col("cluster_id"),
      col(idCol).as("a"), vector_nonnull(col(vecCol)).as("va"))
    val b = dedupable.select(col("cluster_id"),
      col(idCol).as("b"), vector_nonnull(col(vecCol)).as("vb"))
    val drops = a.join(b, Seq("cluster_id"))
      .filter(col("a") < col("b"))
      .withColumn("__cos", cosine_similarity(col("va"), col("vb")))
      .filter(col("__cos") > threshold && !isnan(col("__cos")))
      .select(col("b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  // ---- benchmark decontamination ----

  /** Corpus documents sharing ≥ `minOverlap` distinct word n-grams with ANY
    * benchmark document → (idCol, n_hit_ngrams). The standard eval-set
    * decontamination pass of an LLM training pipeline (n-gram collision
    * against held-out benchmarks), built only from SQL-mirrorable
    * primitives — the same [[sqlShingles]] builder as [[ngramJaccardExact]].
    *
    * Scale posture: the corpus side explodes to (doc, shingle) rows and is
    * joined on the shingle string against the DISTINCT benchmark shingle
    * set, which is broadcast — benchmarks are small by nature (an eval set,
    * not a second corpus), so the corpus is never shuffled: one map-side
    * join + one partial-agg count per doc. Per-doc shingles are distinct by
    * construction, so count(*) after the join IS the distinct-overlap count. */
  def contaminationHits(corpus: DataFrame, idCol: String, textCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    val sh = sqlShingles(shingleSize) _
    val corpusSh = corpus.select(col(idCol), explode(sh(col(textCol))).as("__sh"))
    val benchSh = benchmark
      .select(explode(sh(col(benchTextCol))).as("__sh")).distinct()
    corpusSh.join(broadcast(benchSh), Seq("__sh"))
      .groupBy(idCol).agg(count(lit(1)).cast("long").as("n_hit_ngrams"))
      .filter(col("n_hit_ngrams") >= minOverlap)
  }

  /** The corpus minus contaminated documents (left anti-join on the hit
    * set) — the actual cleaning step; [[contaminationHits]] is the audit. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    shingleSize: Int = 8, minOverlap: Int = 1): DataFrame =
    corpus.join(
      contaminationHits(corpus, idCol, textCol, benchmark, benchTextCol,
        shingleSize, minOverlap).select(idCol),
      Seq(idCol), "left_anti")

  /** EMBEDDING-space contamination audit — the semantic sibling of
    * [[contaminationHits]] (the Phi/FineWeb-style check: a paraphrased or
    * lightly-reworded eval example shares no 8-gram with its source, but
    * its embedding still sits next to it). A corpus row is contaminated
    * when its max cosine against ANY benchmark embedding clears
    * `threshold`; the output carries that argmax benchmark id and the
    * rounded similarity (ties on similarity break by smallest bench id —
    * total order, oracle-replayable).
    *
    * Scale posture: the benchmark side is an EVAL SET — small by nature —
    * so it broadcasts and the corpus is read once with a row-local
    * max-cosine loop (broadcast nested-loop, no corpus shuffle); the only
    * exchange is the per-corpus-id argmax window over the HIT set, which
    * contamination-rate-sized, not corpus-sized. A benchmark too large to
    * broadcast is the index-backed shape instead: build an ANN index over
    * the benchmark and run the corpus through `searchTable` (the
    * composition `neardup_ann_exact` already pins). */
  def semanticContaminationHits(corpus: DataFrame, idCol: String, vecCol: String,
                                benchmark: DataFrame, benchIdCol: String,
                                benchVecCol: String,
                                threshold: Double): DataFrame = {
    import graft.functions.AnnFunctions._
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("__cid"),
      vector_nonnull(col(vecCol)).as("__cv"))
    val b = benchmark.select(col(benchIdCol).as("bench_id"),
      vector_nonnull(col(benchVecCol)).as("__bv"))
    c.join(broadcast(b))
      .withColumn("__cos", cosine_similarity(col("__cv"), col("__bv")))
      // NaN (null-element or zero-norm vectors) must FAIL the cut — see
      // embeddingNearDups
      .filter(col("__cos") > threshold && !isnan(col("__cos")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__cid")
          .orderBy(col("__cos").desc, col("bench_id"))))
      .filter(col("__rn") === 1)
      .select(col("__cid").as(idCol), col("bench_id"),
        round(col("__cos"), 4).as("cos_sim"))
  }

  /** Index-backed form of [[semanticContaminationHits]] for a benchmark
    * too LARGE to broadcast (a mega-benchmark union, or decontaminating
    * against another corpus): build an ANN index over the benchmark and
    * run the corpus through the batch table search — k=1 under the
    * cosine metric IS the argmax, and the table search's (distance, id)
    * tie-break equals the broadcast form's (cos DESC, bench_id). With
    * exhaustive probes (`nprobe = nlist`) the result is exactly the
    * broadcast form's; narrower probes trade recall for the usual IVF
    * probe cost, never correctness of what IS returned. */
  def semanticContaminationHitsAnn(corpus: DataFrame, idCol: String,
                                   vecCol: String, benchmark: DataFrame,
                                   benchIdCol: String, benchVecCol: String,
                                   threshold: Double, nlist: Int = 64,
                                   nprobe: Int = 8): DataFrame = {
    require(idCol != "id", "idCol must differ from the index hit column 'id'")
    val spark = corpus.sparkSession
    val name = s"__semcontam_ann_${annDedupSeq.incrementAndGet()}"
    val path = java.nio.file.Files.createTempDirectory("graft_semcontam").toString
    val idx = graft.index.AnnIndexManager.create(spark, name,
      benchmark.select(col(benchIdCol), col(benchVecCol)),
      benchIdCol, benchVecCol, "IVF",
      Map("metric" -> "cosine", "nlist" -> nlist.toString,
        "nprobe" -> nprobe.toString), path)
    graft.index.AnnIndexManager.unregister(name) // scratch, as neardup_ann
    graft.operators.AnnSearch.searchTable(idx,
        corpus.select(col(idCol), col(vecCol)), 1, nprobe,
        queryVecCol = Some(vecCol), queryIdCol = Some(idCol))
      .withColumn("cos_sim", lit(1.0) - col("_distance"))
      .filter(col("cos_sim") > threshold && !isnan(col("cos_sim")))
      .select(col(idCol), col("id").as("bench_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** The corpus minus semantically-contaminated documents — the cleaning
    * step over [[semanticContaminationHits]]'s audit, mirroring
    * [[decontaminate]]. */
  def decontaminateSemantic(corpus: DataFrame, idCol: String, vecCol: String,
                            benchmark: DataFrame, benchIdCol: String,
                            benchVecCol: String,
                            threshold: Double): DataFrame =
    corpus.join(
      semanticContaminationHits(corpus, idCol, vecCol,
        benchmark, benchIdCol, benchVecCol, threshold).select(idCol),
      Seq(idCol), "left_anti")

  /** Scala mirror of [[sqlShingles]] (distinct word n-grams, lowercase
    * whitespace tokens, short texts collapse to one whole-text shingle) —
    * the row-local probe side of the Bloom decontamination path. Kept
    * adjacent to the SQL form so the two definitions stay in lock-step. */
  private[pipeline] def shinglesLocal(text: String, n: Int): Seq[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Seq(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  /** Bloom filter of a benchmark's distinct shingles — the broadcastable
    * summary behind [[decontaminateBloom]]. No distinct pass is needed
    * (Bloom adds are idempotent), so the build is ONE map-side pass over
    * the benchmark plus a bitwise-OR tree reduce; sizing comes from a
    * partial-agg `approx_count_distinct` (padded 1.5x). */
  def benchmarkShingleBloom(benchmark: DataFrame, benchTextCol: String,
                            shingleSize: Int = 8,
                            fpp: Double = 1e-7): BloomFilter = {
    import benchmark.sparkSession.implicits._
    val exploded = benchmark
      .select(explode(sqlShingles(shingleSize)(col(benchTextCol))).as("__sh"))
    val est = exploded.agg(approx_count_distinct(col("__sh"))).head().getLong(0)
    BloomFilter.build(exploded.select(col("__sh")).as[String],
      math.max(64L, est * 3L / 2L), fpp)
  }

  /** Per-doc count of shingles probing positive against the broadcast
    * Bloom — row-local, ZERO shuffle and zero join (vs
    * [[contaminationHits]]'s broadcast string-set join + hit aggregation).
    * Counts can only be ≥ the exact path's (no false negatives); at the
    * default fpp the expected surplus is ≪ 1 hit per billions of probes. */
  def contaminationHitsBloom(corpus: DataFrame, idCol: String, textCol: String,
                             bloom: BloomFilter, shingleSize: Int = 8,
                             minOverlap: Int = 1): DataFrame = {
    val hits = bloomHitCol(corpus, textCol, bloom, shingleSize)
    corpus.select(col(idCol), hits.as("n_hit_ngrams"))
      .filter(col("n_hit_ngrams") >= minOverlap)
  }

  /** The corpus minus Bloom-flagged documents — the 100 TB serving form
    * of [[decontaminate]]: the corpus is read ONCE, filtered row-locally
    * against a fixed-size broadcast (m/8 bytes at any benchmark size),
    * with no explode, no join, and no shuffle anywhere in the plan. The
    * no-false-negative guarantee means nothing the exact path would
    * remove survives; false positives only ever over-remove (the safe
    * direction for eval hygiene), at the configured fpp. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
                         bloom: BloomFilter, shingleSize: Int = 8,
                         minOverlap: Int = 1): DataFrame =
    corpus.filter(bloomHitCol(corpus, textCol, bloom, shingleSize) < minOverlap)

  private def bloomHitCol(corpus: DataFrame, textCol: String,
                          bloom: BloomFilter, shingleSize: Int): Column = {
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val n = shingleSize
    // primitive-returning UDFs are NOT null-skipped — guard inside
    val count = udf((text: String) =>
      if (text == null) 0L
      else shinglesLocal(text, n).count(bc.value.mightContain).toLong)
    count(col(textCol))
  }

  // ---- cross-snapshot (incremental) dedup ----

  /** Exact incremental dedup — drop every new document whose text already
    * exists in a PRIOR corpus snapshot: the "dedup this month's crawl
    * against everything we already trained on" step, which document-level
    * [[dropExactDuplicates]] (one corpus, min-id winner) does not express.
    * Anti-join on md5(text): one hash shuffle per side (AQE broadcasts the
    * fingerprint side when it fits), no pair term. The winner rule is
    * asymmetric by construction: prior always wins. */
  def dedupAgainstCorpus(newDocs: DataFrame, idCol: String, textCol: String,
                         prior: DataFrame, priorTextCol: String): DataFrame = {
    val priorFps = prior.select(md5(col(priorTextCol)).as("__fp")).distinct()
    newDocs.join(priorFps, md5(col(textCol)) === col("__fp"), "left_anti")
  }

  /** The prior snapshot reduced to a fixed-size Bloom filter over its
    * document texts (distributed per-partition build + OR tree-reduce,
    * like [[benchmarkShingleBloom]]). Build once per snapshot, persist the
    * bit array, reuse across every incoming batch. */
  def corpusTextBloom(prior: DataFrame, priorTextCol: String,
                      fpp: Double = 1e-9): BloomFilter = {
    import prior.sparkSession.implicits._
    val texts = prior.select(col(priorTextCol).cast("string"))
      .filter(col(priorTextCol).isNotNull)
    val est = texts.agg(approx_count_distinct(col(priorTextCol))).head().getLong(0)
    BloomFilter.build(texts.as[String], math.max(64L, est * 3L / 2L), fpp)
  }

  /** The 100 TB serving form of [[dedupAgainstCorpus]]: the new corpus is
    * read ONCE and filtered row-locally against the broadcast prior-snapshot
    * Bloom — zero join, zero shuffle at any size on either side. No false
    * negatives (every true duplicate drops); false positives over-remove
    * new documents at the configured fpp — the safe direction for dedup. */
  def dedupAgainstCorpusBloom(newDocs: DataFrame, idCol: String,
                              textCol: String, bloom: BloomFilter): DataFrame = {
    val bc = newDocs.sparkSession.sparkContext.broadcast(bloom)
    val seen = udf((text: String) => text != null && bc.value.mightContain(text))
    newDocs.filter(!seen(col(textCol)))
  }

  /** SUB-document exact dedup at paragraph granularity (the production
    * form of ExactSubstr — Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better" — as deployed in Dolma/RedPajama-style
    * pipelines): split each document on `sepRegex`, keep only the
    * corpus-wide FIRST occurrence of each exact paragraph (ordered by
    * (id, position)), and reassemble the survivors in document order
    * joined by a single '\n'. Boilerplate repeated across documents
    * (headers, license blocks, navigation chrome) vanishes from every
    * document except the first that carries it; document-LEVEL dedup
    * ([[dropExactDuplicates]]) cannot see it.
    *
    * Matching is byte-exact and case-sensitive (ExactSubstr semantics) —
    * normalize upstream if fuzzier matching is wanted.
    *
    * Output: idCol, `text` (rewritten; "" when every paragraph was a
    * repeat), `n_paras`, `n_paras_kept` (BIGINT).
    *
    * Scale shape: one paragraph explode, ONE hash shuffle keyed on
    * md5(paragraph) (min-struct winner, partial map-side), one join back,
    * one per-doc reassembly aggregate keyed on id — no pair term, no
    * driver state; a degenerate viral paragraph is ONE shuffle key whose
    * winner reduces map-side, not a skew hazard. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sepRegex: String = "\\n+"): DataFrame = {
    val paras = filter(split(col(textCol), sepRegex), p => length(p) > 0)
    val ex = df.select(col(idCol), posexplode(paras).as(Seq("__pidx", "__para")))
      .withColumn("__h", md5(col("__para")))
    // corpus-wide first occurrence: lexicographic struct min = (id, pos)
    val winners = ex.groupBy("__h")
      .agg(min(struct(col(idCol).as("wid"), col("__pidx").as("widx"))).as("__w"))
    val kept = ex.join(winners, Seq("__h"))
      .filter(col(idCol) === col("__w.wid") && col("__pidx") === col("__w.widx"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__pidx"), col("__para")))),
        s => s("__para")), "\n").as("__text_kept"),
      count(lit(1)).cast("long").as("n_paras_kept"))
    df.select(col(idCol), // null text → no paragraphs (size(null) is null)
        coalesce(size(paras).cast("long"), lit(0L)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__text_kept"), lit("")).as("text"),
        col("n_paras"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"))
  }

  /** Resolve near-duplicate PAIRS into duplicate GROUPS: every document
    * that appears in a pair gets `group_id` = the smallest id reachable
    * through the pair graph (connected components). Pairwise dedup alone
    * under-deletes transitive chains (a~b, b~c but not a~c): keeping one
    * winner per PAIR can retain both ends of an unmatched edge. Grouping
    * first, then keeping min-id per group, is the standard fix (the
    * union-find step of MinHash dedup pipelines, run here as alternating
    * large-star/small-star — Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014).
    *
    * The graph is an RDD of (node, parent) pairs with parent ≤ node; a
    * root r carries (r, r). One round is a large-star then a small-star:
    *  - large-star, per node u over both orientations: with
    *    m = min(N(u) ∪ {u}), emit (v, m) for every neighbour v > u, and
    *    (u, u) when m == u;
    *  - small-star, per node u over its parents: with m the least parent,
    *    emit (u, m) and (x, m) for every other parent x (m's own group
    *    emits m's pair, so no extra (m, m) marker is needed).
    * Both keep each component's node set and its least id, and together
    * they reach a star forest rooted at the component minimum in
    * O(log n) rounds (a 10,000-node chain: 12–15). Large-star counts the
    * nodes of its input that are not in star form (more than one smaller
    * neighbour, or a smaller and a larger one) into an accumulator; a
    * total of 0 means the input was already a star forest, so this
    * round's output is the final labelling. Retried tasks only add, so a
    * 0 is exact.
    *
    * Scale posture: one Spark job per round — both shuffles are sorted by
    * (node, neighbour) under one hash partitioner on the node, so each
    * node's neighbours stream in order (no per-node buffer, spillable at
    * any degree) — then `localCheckpoint` + `count` materializes the
    * round and truncates its lineage. No Catalyst planning in the loop,
    * no driver-side graph state, and no separate convergence job.
    * `maxIter` bounds adversarial inputs; hitting it throws rather than
    * returning unconverged groups.
    *
    * A null endpoint adds no edge: its non-null partner is still a node,
    * and one (null, g) row carries the least group among the nodes paired
    * with null (null when only null-null pairs exist).
    *
    * Returns (id, group_id) for every id appearing in `pairs`, typed as
    * the pair columns (widened to one type as a union would); isolated
    * documents (no pair) are their own group by definition — union them
    * in downstream if a total mapping is needed.
    */
  def resolveComponents(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val fwd = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val idField = fwd.union(fwd.select(col("b"), col("a"))).schema.head
    val ends = fwd.select(col("a").cast(idField.dataType), col("b").cast(idField.dataType))
    val byNode = new NodePartitioner(
      new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val nullPairs = sc.longAccumulator
    val notStar = sc.longAccumulator
    var graph: RDD[(Any, Any)] = ends.rdd.flatMap { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a == null || b == null) {
        nullPairs.add(1L)
        Option(if (a == null) b else a).map(x => (x, x))
      } else if (IdOrder.lt(a, b)) Some((b, a))
      else Some((a, b))
    }
    var rounds = 0
    var converged = false
    while (!converged) {
      if (rounds >= maxIter) {
        if (rounds > 0) graph.unpersist()
        throw new IllegalStateException(
          s"resolveComponents did not converge in $maxIter rounds " +
            "(raise maxIter)")
      }
      notStar.reset()
      val next = smallStar(largeStar(graph, byNode, notStar), byNode).localCheckpoint()
      next.count()
      if (rounds > 0) graph.unpersist()
      graph = next
      converged = notStar.value == 0L
      rounds += 1
    }
    val schema = StructType(Seq(idField.copy(name = "id"),
      StructField("group_id", idField.dataType)))
    val labels = spark.createDataFrame(graph.map { case (u, m) => Row(u, m) }, schema)
    if (nullPairs.value == 0L) labels
    else {
      val nullNeighbours = ends.filter(col("a").isNull || col("b").isNull)
        .select(coalesce(col("a"), col("b")).as("id"))
      labels.union(nullNeighbours.join(labels, Seq("id"), "left")
        .agg(min("group_id").as("group_id"))
        .select(lit(null).cast(idField.dataType).as("id"), col("group_id")))
    }
  }

  /** Node ids of one column type: each boxed value is `Comparable` to its
    * own class (Long, Integer, String, ...). */
  private object IdOrder extends Ordering[Any] {
    def compare(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
  }
  private implicit val edgeOrder: Ordering[(Any, Any)] = Ordering.Tuple2(IdOrder, IdOrder)

  /** Places a (node, neighbour) key by its node alone, so one node's
    * neighbours meet in one partition, sorted. */
  private final class NodePartitioner(hash: HashPartitioner) extends Partitioner {
    def numPartitions: Int = hash.numPartitions
    def getPartition(key: Any): Int = hash.getPartition(key.asInstanceOf[(Any, Any)]._1)
  }

  /** Shuffle `edges` by node, sorted by (node, neighbour) with duplicate
    * edges dropped, and stream each node with its ascending neighbours.
    * `each` must drain the neighbours before returning the next pairs. */
  private def byNodeSorted(edges: RDD[(Any, Any)], byNode: Partitioner)(
      each: (Any, Iterator[Any]) => Iterator[(Any, Any)]): RDD[(Any, Any)] =
    edges.map(e => (e, ())).repartitionAndSortWithinPartitions(byNode)
      .mapPartitions { sorted =>
        var last: (Any, Any) = null
        val in = sorted.map(_._1).filter { e => val fresh = e != last; last = e; fresh }.buffered
        new Iterator[(Any, Iterator[Any])] {
          def hasNext: Boolean = in.hasNext
          def next(): (Any, Iterator[Any]) = {
            val u = in.head._1
            (u, new Iterator[Any] {
              def hasNext: Boolean = in.hasNext && in.head._1 == u
              def next(): Any = in.next()._2
            })
          }
        }.flatMap { case (u, nbrs) => each(u, nbrs) }
      }

  private def largeStar(graph: RDD[(Any, Any)], byNode: Partitioner,
                        notStar: LongAccumulator): RDD[(Any, Any)] = {
    val bothWays = graph.flatMap { case (u, p) =>
      if (u == p) Iterator((u, u)) else Iterator((u, p), (p, u))
    }
    byNodeSorted(bothWays, byNode) { (u, withSelf) =>
      val nbrs = withSelf.filter(_ != u).buffered
      val m = if (nbrs.hasNext && IdOrder.lt(nbrs.head, u)) nbrs.head else u
      var smaller = 0
      var larger = false
      nbrs.flatMap { v =>
        if (IdOrder.lt(v, u)) { smaller += 1; None }
        else { larger = true; Some((v, m)) }
      } ++ {
        if (smaller > 1 || (smaller > 0 && larger)) notStar.add(1L)
        if (m == u) Iterator.single((u, u)) else Iterator.empty
      }
    }
  }

  private def smallStar(graph: RDD[(Any, Any)], byNode: Partitioner): RDD[(Any, Any)] =
    byNodeSorted(graph, byNode) { (u, parents) =>
      val m = parents.next()
      Iterator.single((u, m)) ++ parents.filter(_ != u).map(x => (x, m))
    }

  /** One row per duplicate group that [[resolveComponents]] found, keeping
    * the min-id representative — the group-level analogue of the exact
    * dedup winner rule. */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                        aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val losers = resolveComponents(pairs, aCol, bCol, maxIter)
      .filter(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware variant of [[dedupByComponents]]: inside each duplicate
    * group keep the row with the HIGHEST `scoreCol` (min id on ties)
    * instead of the min id — what production corpus cleaning does, since
    * the duplicate that survives should be the best-scored copy, not the
    * one that happened to arrive first. Rows in no group always survive.
    *
    * Scale: the ranking window partitions by group over the (id, group,
    * score) label set — tiny relative to the corpus; the corpus itself is
    * touched only by the final anti-join. */
  def dedupByComponentsBest(df: DataFrame, idCol: String, pairs: DataFrame,
                            aCol: String, bCol: String, scoreCol: String,
                            maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = resolveComponents(pairs, aCol, bCol, maxIter)
    val scored = df.select(col(idCol).cast("long").as("id"),
      col(scoreCol).as("__score"))
    val losers = labels.join(scored, "id")
      .withColumn("__rk", row_number().over(
        Window.partitionBy("group_id").orderBy(col("__score").desc, col("id"))))
      .filter(col("__rk") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
