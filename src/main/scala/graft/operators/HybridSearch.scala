package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.index.AnnIndex

/** BM25 full-text scoring + hybrid BM25/vector search with weighted RRF
  * fusion (reference operator S7 `hybrid_search`,
  * src/ann_search.cpp:903-1163; the reference delegates BM25 to DuckDB's
  * FTS extension via `match_bm25` — here the inverted index is itself a
  * DataFrame, so scoring is a distributed join, not a side-engine call).
  *
  * Scale notes: the inverted index is partitioned by term (posting lists);
  * a query touches only its own terms' postings (filter pushdown on term),
  * corpus stats are a broadcast of one row, and document scores partial-
  * aggregate map-side before the final top-k.
  */
object HybridSearch {

  val DefaultRrfK = 60 // reference RRF_K (src/ann_search.cpp:1026)

  /** BM25 parameters: the defaults of every scorer, and the values a baked
    * impact (`contrib`, see [[bakeImpacts]]) was computed with. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The max-score prune's head/cheap document-frequency cutoff, as a
    * fraction of corpus docs (floored at 64): terms above it are "head"
    * (bounded, not scored in phase 1). */
  val Bm25HeadDfFraction = 0.05

  /** A baked `contrib` column is valid only at the parameters it was baked
    * with. */
  private def bakedFor(postings: DataFrame, k1: Double, b: Double): Boolean =
    postings.columns.contains("contrib") && k1 == Bm25K1 && b == Bm25B

  def tokenize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(c), "[^\\p{L}\\p{Nd}]+"), t => length(t) > 0)

  /** Driver-resident head-term document frequencies: df for every term
    * with df > floor, where floor = max(64, numDocs/1000). The size bound
    * is corpus-independent — at most totalPostings/floor ≈ 1000·avgDl
    * entries — so the map stays driver-small at ANY corpus scale while
    * covering exactly the zipf head that dominates matched-posting
    * volume. Terms absent from the map contribute ≤ floor postings each.
    * Lets the max-score prune's volume gate price a query batch as a pure
    * driver lookup, no postings scan, no extra Spark job. */
  final case class HeadDf(floor: Long, df: Map[String, Long]) {
    /** Upper bound on Σ df over `terms` (absent terms priced at floor). */
    def volumeUpperBound(terms: Iterable[String]): Long =
      terms.iterator.map(t => df.getOrElse(t, floor)).sum
  }

  /** Inverted-index datasets for BM25: postings (term, id, tf) and doc
    * lengths (id, dl), plus corpus stats. `headDf` (populated by a
    * `materialized = true` build) is the bounded driver-side term-df head
    * used by the max-score prune's volume gate — absent, the gate falls
    * back to one postings pass. */
  final case class TextIndex(postings: DataFrame, docLens: DataFrame,
                             numDocs: Long, avgDl: Double,
                             headDf: Option[HeadDf] = None,
                             /** Materialize-time per-term document
                               * frequency (term, df) — corpus-wide, query-
                               * independent, so a MATERIALIZED index pays
                               * the df aggregation once instead of one
                               * agg job per scalar query (r18 A/B
                               * decomposition, SCALE.md: the scalar premium is plan
                               * compile + per-call jobs; this removes one
                               * of each). Distributed relation — distinct-
                               * term-sized, never driver-resident. */
                             dfStats: Option[DataFrame] = None) {
    /** Drop the executor-storage pin taken by a `materialized = true`
      * build. Results stay correct afterwards (lineage recomputes); only
      * the resident-index serving cost is lost. */
    def release(): Unit = {
      postings.unpersist(); docLens.unpersist()
      dfStats.foreach(_.unpersist())
    }
  }

  private val MaxCachedTextIndexes = 32
  private val textIndexCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String, String),
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, TextIndex)]

  /** [[buildTextIndex]] cached on the docs plan — OPT-IN via
    * `spark.ann.cacheTextIndex=true` (default off): the cache keys on the
    * PLAN, so appending data to the same underlying table serves a STALE
    * index until the plan changes — correct only for immutable snapshots,
    * which is why fresh-per-call is the default. When enabled: keyed by
    * semanticHash and verified with sameResult (a 32-bit hash collision
    * must never serve another corpus's postings), bounded at
    * 32 entries (arbitrary eviction). Entries hold MATERIALIZED
    * postings/doc-lens pins so repeat queries skip the corpus tokenize;
    * eviction releases the pin, and a release only costs recompute. */
  def cachedTextIndex(docs: DataFrame, idCol: String, textCol: String): TextIndex = {
    if (!docs.sparkSession.conf.get("spark.ann.cacheTextIndex", "false").toBoolean)
      return buildTextIndex(docs, idCol, textCol)
    val plan = org.apache.spark.sql.GraftBridge.analyzedPlan(docs)
    val key = (plan.semanticHash(), idCol, textCol)
    textIndexCache.get(key) match {
      case Some((p, ti)) if p.sameResult(plan) => ti
      case _ =>
        // materialized: a CACHED index only pays off if repeat queries
        // skip the corpus tokenize, so pin postings/doc-lens in executor
        // storage; evicted entries drop their pin (recompute-correct)
        val ti = buildTextIndex(docs, idCol, textCol, materialized = true)
        if (textIndexCache.size >= MaxCachedTextIndexes)
          textIndexCache.headOption.foreach { e =>
            textIndexCache.remove(e._1).foreach(_._2.release())
          }
        // put returns any entry this one replaced (a concurrent build of
        // the same key, or a hash-collision victim) — release its pins so
        // the loser's persisted postings/doc-lens don't leak in executor
        // storage (release only costs recompute, never correctness)
        textIndexCache.put(key, (plan, ti)).foreach(_._2.release())
        ti
    }
  }

  /** Build the BM25 inverted index. With `materialized = false` (default)
    * every dataset stays lazy except the one stats pass — the one-shot
    * query shape. With `materialized = true` the postings and doc-length
    * relations are pinned in executor storage and the corpus is tokenized
    * exactly ONCE (`toks` is cached for the duration of the build, the
    * stats pass populates it, postings/doc-lens derive from the cache,
    * then the scratch cache drops) — the resident-FTS-index serving shape
    * the reference gets from its persistent FTS tables; pair with
    * [[TextIndex.release]]. */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     materialized: Boolean = false): TextIndex = {
    val toksRaw = docs.select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
    val toks = if (materialized) toksRaw.persist() else toksRaw
    // the posting carries its doc's length (classic inverted-index norm-in-
    // posting design): dl is constant within a (term, id) group, so it
    // rides through the explode for free — and scoring then needs NO join
    // against the n-row doc-length relation per query
    val postings0 = toks
      .select(col("id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val docLens0 = toks.select(col("id"), size(col("toks")).cast("double").as("dl"))
    val postings = if (materialized) postings0.persist() else postings0
    val docLens = if (materialized) docLens0.persist() else docLens0
    // one action materializes docLens AND (when pinned) the toks scratch
    // cache, so the postings pass below re-reads tokens instead of
    // re-tokenizing
    val stats = docLens.agg(count(lit(1)), avg("dl")).head()
    if (materialized) {
      postings.count()
      toksRaw.unpersist()
      val numDocs = stats.getLong(0)
      val avgDl = stats.getDouble(1)
      val (dfStats, head) = dfStatsAndHead(postings, numDocs)
      val impacts = bakeImpacts(postings, dfStats, numDocs, avgDl).persist()
      impacts.count()
      postings.unpersist() // superseded by the impact-augmented pin
      TextIndex(impacts, docLens, numDocs, avgDl, Some(head), Some(dfStats))
    } else
      TextIndex(postings, docLens, stats.getLong(0), stats.getDouble(1))
  }

  /** The materialize-time df derivations, shared by [[buildTextIndex]]
    * and the maintained-index compaction
    * ([[graft.streaming.TextIndexMaintenance]].compact): the PERSISTED
    * per-term df relation (query-independent — scalar bm25 calls read
    * their terms' rows instead of re-running the agg per call; postings
    * are unique per (term, id), so df is a plain count) and the bounded
    * driver-side head map derived from it (the max-score prune's volume
    * gate). One implementation so gate pricing can never desynchronize
    * between fresh builds and compacted streams. */
  private[graft] def dfStatsAndHead(postings: DataFrame,
                                    numDocs: Long): (DataFrame, HeadDf) = {
    val dfStats = postings.groupBy("term").agg(count(lit(1)).as("df")).persist()
    val floor = math.max(64L, numDocs / 1000L)
    val head = dfStats.filter(col("df") > floor).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (dfStats, HeadDf(floor, head))
  }

  /** Bake the per-(term, doc) BM25 impact into a postings relation (r19):
    * idf and the tf/dl normalization are query-INDEPENDENT at the default
    * k1/b, so a scalar bm25 call reads `contrib` straight off the resident
    * relation instead of paying a df cache-scan stage, an idf broadcast
    * stage, and a join per call (the measured scalar premium is exactly
    * this fixed per-job scheduling). Same Column expressions as the
    * per-call path, evaluated once at build: values bit-identical, pinned
    * by HybridSpec. +8 B/posting of pin. CONTRACT: the stored impact is
    * only valid for the exact (dfStats, numDocs, avgDl) corpus it was
    * baked against — any composition that changes those (segment union,
    * tombstone mask) must DROP the column (see TextIndexMaintenance),
    * falling back to the per-call derivation. */
  private[graft] def bakeImpacts(postings: DataFrame, dfStats: DataFrame,
                                 numDocs: Long, avgDl: Double): DataFrame = {
    val k1 = Bm25K1; val b = Bm25B
    val idfRel = dfStats.withColumn("idf",
      log((lit(numDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .select("term", "idf")
    postings.join(idfRel, "term")
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgDl)))
      .drop("idf")
  }

  /** Drop a baked impact column (if present) — the invalidation step for
    * any postings composition that changes df/numDocs/avgDl. */
  private[graft] def dropImpacts(postings: DataFrame): DataFrame =
    if (postings.columns.contains("contrib")) postings.drop("contrib")
    else postings

  /** BM25 (k1=[[Bm25K1]], b=[[Bm25B]] by default) scores for a tokenized
    * query: only the query terms' posting lists are read. Ties broken by id
    * for determinism. */
  def bm25(ti: TextIndex, queryTerms: Seq[String], k: Int,
           k1: Double = Bm25K1, b: Double = Bm25B): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    val matched = ti.postings.filter(col("term").isin(terms: _*))
    // a MATERIALIZED index carries the per-(term, doc) BM25 impact
    // precomputed (buildTextIndex) — the contribution is fully
    // query-independent, so a scalar call reads it straight off the
    // pinned postings: the df/idf subtree (one cache-scan stage + one
    // broadcast stage + a join per call, all fixed scheduling cost at
    // serving time) disappears from the per-call plan. Values are
    // bit-identical: the same Column expressions over the same inputs,
    // evaluated once at build instead of per call (r19; the default-k1/b
    // contract is asserted below because the stored impact bakes them in).
    val withContrib =
      if (bakedFor(matched, k1, b)) matched
      else {
        // a materialized index still carries the per-term df relation:
        // identical values (postings are unique per (term, id)), one less
        // agg job and one less plan subtree per scalar call
        val df = ti.dfStats match {
          case Some(rel) => rel.filter(col("term").isin(terms: _*))
          case None => matched.groupBy("term").agg(countDistinct("id").as("df"))
        }
        val idf = df.withColumn("idf",
          log((lit(ti.numDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        // norm-in-posting: dl already rides in the posting rows
        // (buildTextIndex); only a hand-assembled TextIndex without it
        // pays the doc-length join
        val withDl =
          if (matched.columns.contains("dl")) matched.join(broadcast(idf), "term")
          else matched.join(broadcast(idf), "term").join(ti.docLens, "id")
        withDl.withColumn("contrib",
          col("idf") * (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / ti.avgDl)))
      }
    val scored = withContrib
      // deterministic score: double addition is not associative, and a plain
      // sum() combines per-term contributions in partition order — near-equal
      // docs could flip ranks between runs. Summing the (few) query-term
      // contributions in sorted term order makes scores bit-stable.
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .withColumn("_bm25_score",
        aggregate(col("cs"), lit(0.0d), (acc, x) => acc + x("contrib")))
      .select(col("id"), col("_bm25_score"))
    scored.orderBy(col("_bm25_score").desc, col("id")).limit(k)
  }

  /** S7 `hybrid_search`: BM25 candidates + ANN candidates, fused by
    * weighted Reciprocal Rank Fusion; absent ranks contribute 0
    * (reference: src/ann_search.cpp:1028-1106). Output: base.* +
    * `_rrf_score`, `_bm25_rank`, `_vector_rank`, ordered by score desc. */
  def hybridSearch(base: DataFrame, baseIdCol: String, ti: TextIndex,
                   idx: AnnIndex, queryText: String, queryVec: Array[Float],
                   k: Int, bm25Weight: Double = 0.3, vectorWeight: Double = 0.7,
                   bm25Candidates: Int = 100, vectorCandidates: Int = 100,
                   searchParam: Int = -1, rrfK: Int = DefaultRrfK): DataFrame = {
    val terms = queryText.toLowerCase.split("[^\\p{L}\\p{Nd}]+").filter(_.nonEmpty).toSeq
    val bm25Ranks = bm25(ti, terms, bm25Candidates)
      .withColumn("_bm25_rank",
        row_number().over(Window.orderBy(col("_bm25_score").desc, col("id"))))
      .select(col("id"), col("_bm25_rank"))
    val vecRanks = idx.scan(queryVec, vectorCandidates, searchParam)
      .withColumn("_vector_rank",
        row_number().over(Window.orderBy(col("_distance"), col("id"))))
      .select(col("id"), col("_vector_rank"))

    val fused = bm25Ranks.join(vecRanks, Seq("id"), "full_outer")
      .withColumn("_rrf_score",
        when(col("_bm25_rank").isNotNull,
          lit(bm25Weight) / (lit(rrfK) + col("_bm25_rank"))).otherwise(0.0) +
        when(col("_vector_rank").isNotNull,
          lit(vectorWeight) / (lit(rrfK) + col("_vector_rank"))).otherwise(0.0))
      .withColumn("_bm25_rank", coalesce(col("_bm25_rank"), lit(0)))
      .withColumn("_vector_rank", coalesce(col("_vector_rank"), lit(0)))
      .orderBy(col("_rrf_score").desc, col("id"))
      .limit(k)

    // the result is ≤ k rows by construction (fused is limit(k), ids are
    // unique), so the trailing limit is value-free — it turns the output
    // sort into TakeOrderedAndProject: no range-partitioning exchange and
    // no range-sampling pass just to order a handful of rows (r19; one
    // AQE stage less per scalar call)
    base.join(broadcast(fused), base(baseIdCol) === fused("id"))
      .drop(fused("id"))
      .orderBy(col("_rrf_score").desc, base(baseIdCol))
      .limit(k)
  }

  /** Table-input S7: N hybrid queries fused in ONE declarative plan — the
    * serving-throughput shape (the scalar [[hybridSearch]] pays Spark's
    * fixed per-job costs per query: an idf broadcast, a scan job, a fusion
    * broadcast — ~0.5s/query of pure scheduling at local[32]; this form
    * pays them once for the whole batch, exactly as `ann_search_table`
    * does for plain vector search).
    *
    * Semantics per query are the scalar path's, bit-for-bit: distinct
    * lowercased terms, BM25 (k1=[[Bm25K1]], b=[[Bm25B]]) with per-doc term
    * contributions folded in sorted term order, candidate cutoffs per
    * modality, weighted RRF with absent ranks contributing 0, top-k per
    * query by (score desc, id). ONE caveat: on an IVF index built with
    * `adaptive_nprobe=true`, the scalar path's `idx.scan` widens the probed
    * cell cut per query when `searchParam<=0`, while the batch vector side
    * ([[AnnSearch.searchTable]]) probes a fixed nprobe for the whole batch —
    * vector ranks can diverge on exactly those indexes. Pass an explicit
    * `searchParam` (both paths then probe identically) when comparing.
    *
    * Scale notes: the posting lists NEVER shuffle — the bounded distinct
    * query-term set broadcasts into the postings join; per-query ranks are
    * windowed by query id (map-side group-limited); the vector side is
    * [[AnnSearch.searchTable]] (collect / cogrouped / pinned-zip
    * strategies); the final doc fetch is one join for the whole batch,
    * left to AQE to broadcast when the fused candidate set is small.
    *
    * Output: base.* + `queryIdCol` + `_rrf_score`, `_bm25_rank`,
    * `_vector_rank` (0 = absent from that modality), ordered by
    * (query id, score desc, base id). `queryIdCol` must not collide with a
    * `base` column. */
  def hybridSearchTable(base: DataFrame, baseIdCol: String, ti: TextIndex,
                        idx: AnnIndex, queries: DataFrame, queryIdCol: String,
                        queryTextCol: String, queryVecCol: String, k: Int,
                        bm25Weight: Double = 0.3, vectorWeight: Double = 0.7,
                        bm25Candidates: Int = 100, vectorCandidates: Int = 100,
                        searchParam: Int = -1, rrfK: Int = DefaultRrfK): DataFrame = {
    require(!base.columns.contains(queryIdCol),
      s"queryIdCol '$queryIdCol' collides with a base column")
    val spark = base.sparkSession
    val k1 = Bm25K1; val b = Bm25B
    val qTerms = queries.select(col(queryIdCol).as("__hqid"),
      explode(array_distinct(tokenize(col(queryTextCol)))).as("term"))
    val qTermSet = qTerms.select("term").distinct()
    val matched = ti.postings.join(broadcast(qTermSet), "term")
    val hasDl = matched.columns.contains("dl")
    // per-term stats in ONE pass over the matched postings: df (→ idf, as
    // before) plus the max-score bound ingredients — contrib is increasing
    // in tf and decreasing in dl, so idf·f(maxTf, minDl) upper-bounds every
    // posting's contribution for that term (Turtle & Flood max-score)
    val termStats0 =
      if (hasDl) matched.groupBy("term").agg(countDistinct("id").as("df"),
        max("tf").as("__maxTf"), min("dl").as("__minDl"))
      else matched.groupBy("term").agg(countDistinct("id").as("df"))
    def contribExpr(tf: org.apache.spark.sql.Column, dl: org.apache.spark.sql.Column,
                    idf: org.apache.spark.sql.Column) =
      idf * (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / ti.avgDl))
    val dfIdf0 = termStats0.withColumn("idf",
      log((lit(ti.numDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val dfIdf = dfIdf0.select("term", "idf")
    val matchedDl = if (hasDl) matched else matched.join(ti.docLens, "id")

    // the shared exact scorer: same bit-stable sorted-term fold as the
    // scalar path, keyed by (query, doc); `cand` (when present) restricts
    // scoring to a candidate (query, doc) set — the SAME rows survive, the
    // SAME fold runs, so pruned scores are bit-identical to unpruned ones
    def exactScore(qt: DataFrame, m: DataFrame, cand: Option[DataFrame],
                   idfSrc: DataFrame = dfIdf): DataFrame = {
      val c0 = qt.join(m, "term")
      val c1 = cand match {
        // no broadcast hint: the candidate set is data-dependent and
        // unbounded; post-checkpoint AQE broadcasts it only when small
        case Some(cs) => c0.join(cs, Seq("__hqid", "id"), "left_semi")
        case None => c0
      }
      // a MATERIALIZED index carries the baked per-posting impact
      // (buildTextIndex, r19): same expression over the same inputs as
      // contribExpr at the table path's fixed k1/b, evaluated once at
      // build — the per-batch idf derivation (an agg over the matched
      // postings + a broadcast join) drops out, values bit-identical
      // (HybridSpec pins batch ≡ scalar and pruned ≡ unpruned)
      val scoredIn =
        if (bakedFor(m, k1, b)) c1
        else c1.join(broadcast(idfSrc), "term")
          .withColumn("contrib", contribExpr(col("tf"), col("dl"), col("idf")))
      scoredIn
        .groupBy("__hqid", "id")
        .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
        .withColumn("_bm25_score",
          aggregate(col("cs"), lit(0.0d), (acc, x) => acc + x("contrib")))
    }

    // ---- rank-safe max-score posting pruning (OPT-IN, volume-gated) ----
    // Exact BM25 over zipf-head terms scores EVERY posting of a common
    // term — the one super-linear cost in the batch plan. Split the query
    // terms at a df cutoff: phase 1 scores only the cheap (rare) terms'
    // postings and takes each query's bm25Candidates-th partial score as a
    // lower bound θ on the true cutoff; a query whose head terms' summed
    // contrib bound expUb stays below θ can only have winners among docs
    // with cheap partial ≥ θ − expUb (docs matching ONLY head terms are
    // bounded by expUb < θ — they can never reach the top set), so the
    // heavy (query,doc) aggregation runs on that candidate set alone.
    // Queries without that safety margin score exactly as before. Either
    // way the final top set and scores are bit-identical (candidates are a
    // superset of the true top-bm25Candidates incl. boundary ties; ε
    // absorbs float fold-order drift). Head postings are still SCANNED
    // (df/bounds + the candidate-doc semi-join) — what the pruning removes
    // is the per-(query,doc) contrib explosion and its shuffle.
    //
    // Cost discipline (round-11 rework of the r10 regression):
    //  * Default ON but ONLY behind the volume gate and ONLY against a
    //    materialized text index (`spark.ann.bm25MaxScorePrune=true`) —
    //    exact scoring is a single pass and wins below multi-million
    //    matched-posting volume, so the gate keeps small batches on the
    //    exact plan at ~zero cost (a lazy one-shot index never prunes:
    //    headDf is what makes the gate free). The same-JVM prune A/B
    //    (SCALE.md; its tool was last in commit f343cb7) measured both
    //    sides: 1.11× gated-off at n=100k (930k matched postings), 1.32×
    //    engaged at n=1M (9.3M).
    //  * Volume gate FIRST, priced off the index: the matched-posting
    //    count is an upper bound of Σ df over the query's terms, read
    //    from the driver-resident bounded [[HeadDf]] map (one tiny job
    //    over the query relation only; a hand-assembled TextIndex
    //    without headDf pays one postings pass). Below
    //    `spark.ann.bm25PruneMinPostings` the returned plan is bit-for-bit
    //    the exact one — flipping the flag on a small corpus costs only
    //    the gate probe. This mirrors the reference's cost-gated optimizer
    //    rewrites (/root/reference/src/ann_optimizer.cpp:459-472), and the
    //    default threshold sits at the measured engage-win crossover
    //    (prune A/B: forcing engagement at 930k matched postings is
    //    0.79×, engaging at 9.3M is 1.32× — see SCALE.md).
    //  * When ENGAGED, the matched postings are `localCheckpoint`ed first:
    //    one scan of the (huge) postings relation, after which every
    //    consumer — term stats, phase-1 partials, both scoring branches —
    //    reads the bounded matched set, not the full inverted index (the
    //    r10 code repeated the full scan ~5× → 0.16× by the prune A/B).
    //  * Term stats and per-query θ/expUb collect to the DRIVER — both are
    //    bounded (one row per distinct query term / per query, the same
    //    bounds as the qTermSet broadcast) — so the prunable split and the
    //    candidate filter are literal tiny relations, not re-derived
    //    subplans.
    //  * Candidate sets (`cands`, `candDocs`) are data-dependent and
    //    unbounded, so they are joined WITHOUT broadcast hints — sizes are
    //    known post-checkpoint and AQE picks broadcast only when they are
    //    actually small; a thin-margin corpus degrades to a shuffle
    //    semi-join instead of an OOM-ing driver collect.
    //  * If no query clears the prunability margin, exact scoring runs
    //    over the checkpointed matched set (one union branch, not two).
    val pruneOn = hasDl && ti.headDf.isDefined &&
      spark.conf.get("spark.ann.bm25MaxScorePrune", "true").toBoolean
    lazy val fullExact = exactScore(qTerms, matchedDl, None)
    val scored = if (!pruneOn) fullExact else {
      val eps = 1e-9
      val headDf = math.max(64L, (ti.numDocs * Bm25HeadDfFraction).toLong)
      // volume gate: one tiny job over the QUERY relation (distinct query
      // terms are vocabulary-bounded regardless of query volume, so
      // dedupe-first is safe in BOTH regimes), then a pure driver lookup
      // against the index's bounded head-df map — the postings relation
      // is never touched when gated off. The qid probe (which decides the
      // driver-vs-distributed stats regime) lives INSIDE the engaged
      // branch below: a gated-off call must not pay a 100k-row collect.
      val qTermArr =
        qTerms.select("term").distinct().collect().map(_.getString(0))
      val matchedVol = ti.headDf.get.volumeUpperBound(qTermArr)
      val minVol =
        spark.conf.get("spark.ann.bm25PruneMinPostings", "4000000").toLong
      // the collected term set pays for itself: downstream joins use the
      // LITERAL term relation, so the broadcast subquery no longer
      // re-derives distinct-terms from the query relation — gated-off
      // cost is net ~zero vs the plain exact plan
      import spark.implicits._
      val qTermSetLit = qTermArr.toSeq.toDF("term")
      val matchedLit = ti.postings.join(broadcast(qTermSetLit), "term")
      lazy val dfIdfLit = matchedLit
        .groupBy("term").agg(countDistinct("id").as("df"))
        .withColumn("idf",
          log((lit(ti.numDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .select("term", "idf")
      if (matchedVol < minVol) {
        exactScore(qTerms, matchedLit, None, dfIdfLit)
      } else {
        // collect-bound probe (the AnnSearch.searchTable pattern): the
        // per-query driver stats below are fine at serving batch sizes but
        // linear in query count — a corpus-scale hybrid join (millions of
        // queries) must keep them distributed. One early-terminating pass
        // decides; everything downstream branches on `driverStats`.
        val maxQ = spark.conf.get("spark.ann.maxCollectedQueries", "100000").toInt
        val qidProbe = queries.select(col(queryIdCol)).limit(maxQ + 1).collect()
        val driverStats = qidProbe.length <= maxQ
        // the one full-postings scan: checkpoint the matched set (bounded
        // by the query terms' posting volume), then NOTHING below ever
        // touches the full inverted index again
        val matchedCk = matchedLit.localCheckpoint()
        // per-term stats to the driver (one row per distinct matched
        // term). Matched rows are unique per (term, id) — buildTextIndex's
        // groupBy(term, id) contract — so df is a plain count: same VALUE
        // as the exact path's countDistinct, hence bit-identical idf.
        // idf is computed here with the same double-op order as the SQL
        // expression, so scores stay bit-equal to the exact plan's.
        val termStats = matchedCk.groupBy("term")
          .agg(count(lit(1)).as("df"), max("tf").as("__maxTf"), min("dl").as("__minDl"))
          .collect()
        val k1d = k1; val bd = b
        val statRows = termStats.map { r =>
          val term = r.getString(0); val df = r.getLong(1)
          val maxTf = r.getLong(2).toDouble; val minDl = r.getDouble(3)
          val idf = math.log((ti.numDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
          val maxContrib = idf * (maxTf * (k1d + 1)) /
            (maxTf + k1d * ((1 - bd) + bd * minDl / ti.avgDl))
          (term, df, idf, maxContrib)
        }
        val ckIdf = statRows.map { case (t, _, idf, _) => (t, idf) }
          .toSeq.toDF("term", "idf")
        val cheapTerms = statRows.filter(_._2 <= headDf).map(_._1)
          .toSeq.toDF("term")
        val headUb = statRows.filter(_._2 > headDf)
          .map { case (t, _, _, mc) => (t, mc) }.toSeq.toDF("term", "maxContrib")
        def ckExact(qt: DataFrame) = exactScore(qt, matchedCk, None, ckIdf)
        // phase 1: partial scores over cheap postings only (plain sum — used
        // only in ε-slacked inequalities, never as an output score)
        val parts = qTerms
          .join(matchedCk.join(broadcast(cheapTerms), Seq("term"), "left_semi"), "term")
          .join(broadcast(ckIdf), "term")
          .withColumn("__c", contribExpr(col("tf"), col("dl"), col("idf")))
          .groupBy("__hqid", "id").agg(sum("__c").as("part"))
          .localCheckpoint()
        val wP = Window.partitionBy("__hqid").orderBy(col("part").desc, col("id"))
        // shared tail over a (prunableStats, exactQ) split — literal tiny
        // relations on the driver path, computed DataFrames on the
        // distributed one. Candidate sets are data-dependent either way →
        // no broadcast hints on cands/candDocs (AQE decides).
        def prunedPlusExact(prunableStats: DataFrame, exactQ: DataFrame,
                            hintPrunable: Boolean): DataFrame = {
          def maybeBc(df: DataFrame) = if (hintPrunable) broadcast(df) else df
          val cands = parts.join(maybeBc(prunableStats), "__hqid")
            .filter(col("part") + col("expUb") >= col("theta") - eps)
            .select("__hqid", "id")
          val candDocs = cands.select("id").distinct()
          val pruned = exactScore(
            qTerms.join(maybeBc(prunableStats.select("__hqid")),
              Seq("__hqid"), "left_semi"),
            // early doc cut: head postings shrink to candidate docs BEFORE
            // the per-query explosion
            matchedCk.join(candDocs, Seq("id"), "left_semi"),
            Some(cands), ckIdf)
          val exact = exactScore(
            qTerms.join(maybeBc(exactQ), Seq("__hqid"), "left_semi"),
            matchedCk, None, ckIdf)
          pruned.unionByName(exact)
        }
        if (driverStats) {
          // per-query stats to the driver (one row per query — bounded by
          // the probe above): θ = the bm25Candidates-th cheap partial,
          // expUb = Σ head maxContrib
          val thetaRows = parts.withColumn("__pr", row_number().over(wP))
            .filter(col("__pr") === bm25Candidates)
            .select(col("__hqid"), col("part")).collect()
          val expUbRows = qTerms.join(broadcast(headUb), "term")
            .groupBy("__hqid").agg(sum("maxContrib").as("expUb")).collect()
          val thetaByQ = thetaRows.map(r => r.get(0) -> r.getDouble(1)).toMap
          val expUbByQ = expUbRows.map(r => r.get(0) -> r.getDouble(1)).toMap
          // the probe already holds every qid (single-stage, no distinct
          // shuffle — the queries relation is one row per query). Termless
          // queries (absent from qTerms) land in the exact branch, where
          // the term join yields no rows for them — exactly as before.
          val allQ = qidProbe.map(_.get(0)).distinct
          val prunable = allQ.filter { q =>
            expUbByQ.getOrElse(q, 0.0) <
              thetaByQ.getOrElse(q, Double.NegativeInfinity) - eps
          }.toSet
          if (prunable.isEmpty) ckExact(qTerms) else {
            import org.apache.spark.sql.types.{StructType, StructField, DoubleType}
            import org.apache.spark.sql.Row
            val qidT = qTerms.schema("__hqid").dataType
            // literal tiny relations (one row per query) from the collected
            // driver stats — broadcastable for free, never re-derived
            val prunableStats = spark.createDataFrame(
              spark.sparkContext.parallelize(prunable.toSeq.map(q =>
                Row(q, thetaByQ(q), expUbByQ.getOrElse(q, 0.0))), 1),
              StructType(Seq(StructField("__hqid", qidT),
                StructField("theta", DoubleType), StructField("expUb", DoubleType))))
            val exactQ = spark.createDataFrame(
              spark.sparkContext.parallelize(
                allQ.filterNot(prunable).toSeq.map(Row(_)), 1),
              StructType(Seq(StructField("__hqid", qidT))))
            prunedPlusExact(prunableStats, exactQ, hintPrunable = true)
          }
        } else {
          // DISTRIBUTED θ/expUb (query count above the collect bound):
          // the same arithmetic as joins — θ and expUb never leave the
          // cluster, the driver holds nothing per-query. Identical
          // values: left joins + coalesce reproduce the getOrElse
          // defaults (missing θ → -inf → never prunable; missing expUb →
          // 0), pinned value-identical at a forced tiny bound in
          // HybridSpec. No empty-prunable shortcut (checking is a job);
          // an empty prunable side just unions an empty branch.
          val thetaDf = parts.withColumn("__pr", row_number().over(wP))
            .filter(col("__pr") === bm25Candidates)
            .select(col("__hqid"), col("part").as("__theta"))
          val expUbDf = qTerms.join(broadcast(headUb), "term")
            .groupBy("__hqid").agg(sum("maxContrib").as("__expUb"))
          val allQDf = queries.select(col(queryIdCol).as("__hqid")).distinct()
          val statsDf = allQDf
            .join(thetaDf, Seq("__hqid"), "left")
            .join(expUbDf, Seq("__hqid"), "left")
            .select(col("__hqid"),
              col("__theta"),
              coalesce(col("__expUb"), lit(0.0)).as("__expUb"))
          val prunableStats = statsDf
            .filter(col("__expUb") <
              coalesce(col("__theta"), lit(Double.NegativeInfinity)) - eps)
            .select(col("__hqid"), col("__theta").as("theta"),
              col("__expUb").as("expUb"))
            .localCheckpoint() // two consumers below + the anti-join
          val exactQ = allQDf.join(prunableStats.select("__hqid"),
            Seq("__hqid"), "left_anti")
          prunedPlusExact(prunableStats, exactQ, hintPrunable = false)
        }
      }
    }
    val wB = Window.partitionBy("__hqid").orderBy(col("_bm25_score").desc, col("id"))
    val bm25Ranks = scored.withColumn("_bm25_rank", row_number().over(wB))
      .filter(col("_bm25_rank") <= bm25Candidates)
      .select(col("__hqid"), col("id"), col("_bm25_rank"))
    val vecHits = AnnSearch.searchTable(idx,
      queries.select(col(queryIdCol).as("__hqid"), col(queryVecCol)),
      vectorCandidates, nprobe = searchParam,
      queryVecCol = Some(queryVecCol), queryIdCol = Some("__hqid"))
    val wV = Window.partitionBy("__hqid").orderBy(col("_distance"), col("id"))
    val vecRanks = vecHits.withColumn("_vector_rank", row_number().over(wV))
      .select(col("__hqid"), col("id"), col("_vector_rank"))
    val fused = bm25Ranks.join(vecRanks, Seq("__hqid", "id"), "full_outer")
      .withColumn("_rrf_score",
        when(col("_bm25_rank").isNotNull,
          lit(bm25Weight) / (lit(rrfK) + col("_bm25_rank"))).otherwise(0.0) +
        when(col("_vector_rank").isNotNull,
          lit(vectorWeight) / (lit(rrfK) + col("_vector_rank"))).otherwise(0.0))
      .withColumn("_bm25_rank", coalesce(col("_bm25_rank"), lit(0)))
      .withColumn("_vector_rank", coalesce(col("_vector_rank"), lit(0)))
    val wF = Window.partitionBy("__hqid").orderBy(col("_rrf_score").desc, col("id"))
    val top = fused.withColumn("__hrank", row_number().over(wF))
      .filter(col("__hrank") <= k).drop("__hrank")
    base.join(top, base(baseIdCol) === top("id"))
      .drop(top("id"))
      .withColumnRenamed("__hqid", queryIdCol)
      .orderBy(col(queryIdCol), col("_rrf_score").desc, base(baseIdCol))
  }
}
