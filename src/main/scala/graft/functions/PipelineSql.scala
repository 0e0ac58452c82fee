package graft.functions

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

import graft.pipeline.{CorpusPipeline, Dedup, TextAnalysis}

/** SQL table-valued-function surface for the corpus-pipeline tier — the
  * same operators the Scala API exposes, callable from `spark.sql` so a
  * SQL-first user (the reference's audience) can drive the whole
  * training-data pipeline without touching Scala:
  *
  *   SELECT * FROM corpus_clean(TABLE(docs), 'doc_id', 'text', 0.5, 'en,de', 20)
  *   SELECT * FROM corpus_chunk(TABLE(docs), 'doc_id', 'text', 64, 48)
  *   SELECT * FROM corpus_shard(TABLE(docs), 'doc_id', 8[, seed])
  *   SELECT * FROM corpus_sample(TABLE(docs), 'doc_id', 0.25)
  *   SELECT * FROM corpus_pack(TABLE(docs), 'doc_id', 'text', 512[, 'lang'])
  *   SELECT * FROM corpus_token_budget(TABLE(docs), 'doc_id', 'text', 2000[, 'lang'])
  *   SELECT * FROM text_features(TABLE(docs), 'text')         -- stats+langid+quality
  *   SELECT * FROM text_pii_scrub(TABLE(docs), 'text')
  *   SELECT * FROM text_quality_rules(TABLE(docs), 'text')  -- Gopher+C4 rule booleans
  *   SELECT * FROM text_repetition_rules(TABLE(docs), 'doc_id', 'text')  -- Gopher repetition fractions
  *   SELECT * FROM c4_clean_lines(TABLE(docs), 'text'[, min_words, min_lines])
  *   SELECT * FROM url_normalize(TABLE(docs), 'url'[, psl_path]) -- +url_norm/url_host/url_domain
  *   SELECT * FROM url_domain_cap(TABLE(docs), 'url', 100, 'doc_id'[, psl_path])
  *   SELECT * FROM url_dedup(TABLE(docs), 'url', 'doc_id')   -- one row per normalized url
  *   SELECT * FROM dedup_exact_drop(TABLE(docs), 'doc_id', 'text')
  *   SELECT * FROM dedup_minhash_pairs(TABLE(docs), 'doc_id', 'text', 0.5)
  *   SELECT * FROM dedup_components(TABLE(pairs), 'a', 'b')
  *   SELECT * FROM corpus_decontaminate(TABLE(corpus), 'doc_id', 'text', TABLE(bench), 'text'[, n, minOverlap])
  *   SELECT * FROM corpus_decontaminate_bloom(TABLE(corpus), 'doc_id', 'text', TABLE(bench), 'text'[, n, minOverlap, fpp])
  *   SELECT * FROM corpus_contamination_semantic(TABLE(corpus), 'id', 'vec', TABLE(bench), 'bid', 'bvec', 0.9)
  *   SELECT * FROM corpus_decontaminate_semantic(TABLE(corpus), 'id', 'vec', TABLE(bench), 'bid', 'bvec', 0.9)
  *   SELECT * FROM dedup_incremental(TABLE(new), 'doc_id', 'text', TABLE(prior), 'text'[, fpp])
  *   SELECT * FROM bpe_token_count(TABLE(docs), 'text', 200[, max_words, min_count])
  *   SELECT * FROM unigram_token_count(TABLE(docs), 'text', 2000[, max_words, min_count])
  *   SELECT * FROM quality_score(TABLE(docs), 'text', TABLE(labeled), 'text', 'label'[, hash_dim, iters])
  *   SELECT * FROM quantile_buckets(TABLE(t), 'score', 3[, rel_err])
  *   SELECT * FROM asof_join(TABLE(l), TABLE(r), 'key', 'l_ts', 'r_ts'[, direction, tolerance, tie_break])
  *   SELECT * FROM range_join(TABLE(points), 'ts', TABLE(iv), 's', 'e', bucket_width[, 'key'])
  *   SELECT * FROM dedup_paragraphs(TABLE(t), 'doc_id', 'text'[, sep_regex])
  *   SELECT * FROM dedup_substr(TABLE(t), 'doc_id', 'text', 50[, min_count, keep_first])
  *   SELECT * FROM dedup_substr_spans(TABLE(t), 'doc_id', 'text', 50[, min_count, keep_first])
  *   SELECT * FROM dedup_substr_tokens(TABLE(t), 'doc_id', 'text', 50[, min_count, keep_first])
  *   SELECT * FROM heavy_hitters(TABLE(t), 'token', 0.001)
  *   SELECT * FROM heavy_hitters_by_group(TABLE(t), 'lang', 'token', 0.01)
  *   SELECT * FROM heavy_hitters_by_group_hinted(TABLE(t), 'domain', 'token', 0.001, 50000000)
  *   SELECT * FROM corpus_clusters_full(TABLE(t), 'embedding', 8[, max_iter])
  *   SELECT * FROM dsir_weights(TABLE(raw), 'text', TABLE(target)[, hex_chars, alpha])
  *   SELECT * FROM dsir_resample(TABLE(raw), 'doc_id', 'text', TABLE(target), n[, hex_chars, alpha])
  *   SELECT * FROM maxsim_search_table(TABLE(queries), 'query_idx', 'qvecs', TABLE(docs), 'doc_id', 'vecs', k)
  *   SELECT * FROM maxsim_ann_table('pooled_idx', TABLE(queries), 'query_idx', 'qvecs', TABLE(docs), 'doc_id', 'vecs', k, overfetch)
  *   SELECT * FROM matryoshka_table('prefix_idx', TABLE(queries), 'qid', 'qvec', TABLE(base), 'id', 'vec', k, overfetch[, search_param])
  *   SELECT * FROM mine_hard_negatives('idx', TABLE(pairs), 'qid', 'qvec', 'pos_id', TABLE(base), 'id', 'vec', k[, overfetch, margin, search_param, max_positives])
  *
  * TABLE(...) arguments embed the analyzed child plan directly (same
  * mechanism as [[AnnSql]]); the returned relation is lazy — these are
  * plan-to-plan rewrites, not eager actions — EXCEPT dedup_components,
  * whose large-star/small-star rounds must run to a fixpoint and therefore
  * execute (O(log n) rounds over the pair graph) when the plan is built,
  * like the reference's CALL-style functions.
  */
object PipelineSql {

  private def constString(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got: ${other.sql}")
  }

  private def constNum(e: Expression): Double = e match {
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
    case Literal(v: java.lang.Number, _) => v.doubleValue()
    case UnaryMinus(inner, _) => -constNum(inner)
    case Cast(inner, _, _, _) => constNum(inner)
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got: ${other.sql}")
  }

  private def constInt(e: Expression): Int = constNum(e).toInt

  private def tableArg(spark: SparkSession, e: Expression): DataFrame = e match {
    case t: FunctionTableSubqueryArgumentExpression =>
      GraftBridge.ofRows(spark, t.plan.asInstanceOf[LogicalPlan])
    case other => throw new IllegalArgumentException(
      s"expected a TABLE(...) argument, got: ${other.sql}")
  }

  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.tableFunctionRegistry
    def plan(df: DataFrame): LogicalPlan = GraftBridge.analyzedPlan(df)

    r.createOrReplaceTempFunction("corpus_clean", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 6,
        "usage: corpus_clean(TABLE(t), id_col, text_col[, min_quality, 'langs,csv', min_chars])")
      val t = tableArg(spark, exprs(0))
      val minQ = if (exprs.length > 3) constNum(exprs(3)) else 0.0
      val langs = if (exprs.length > 4)
        constString(exprs(4)).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty[String]
      val minChars = if (exprs.length > 5) constInt(exprs(5)) else 0
      plan(CorpusPipeline.clean(t, constString(exprs(1)), constString(exprs(2)),
        minQ, langs, minChars))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_chunk", (exprs: Seq[Expression]) => {
      require(exprs.length == 5,
        "usage: corpus_chunk(TABLE(t), id_col, text_col, chunk_tokens, stride)")
      plan(CorpusPipeline.chunkDocuments(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        constInt(exprs(3)), constInt(exprs(4))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_shard", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: corpus_shard(TABLE(t), id_col, n_shards[, seed])")
      val seed = if (exprs.length > 3) constNum(exprs(3)).toLong else 42L
      plan(CorpusPipeline.shardCorpus(tableArg(spark, exprs(0)),
        constString(exprs(1)), constInt(exprs(2)), seed))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_sample", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: corpus_sample(TABLE(t), id_col, fraction)")
      plan(CorpusPipeline.deterministicSample(tableArg(spark, exprs(0)),
        constString(exprs(1)), constNum(exprs(2))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_pack", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 5,
        "usage: corpus_pack(TABLE(t), id_col, text_col, seq_len[, partition_col])")
      val part = if (exprs.length > 4) Some(constString(exprs(4))) else None
      plan(CorpusPipeline.packSequences(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)), constInt(exprs(3)), part))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_token_budget", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 5,
        "usage: corpus_token_budget(TABLE(t), id_col, text_col, max_tokens[, partition_col])")
      val part = if (exprs.length > 4) Some(constString(exprs(4))) else None
      plan(CorpusPipeline.tokenBudget(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        constNum(exprs(3)).toLong, part))
    }, "scala_udf")

    // stats + language + quality in one pass — the per-document feature
    // row every filtering decision reads
    r.createOrReplaceTempFunction("text_features", (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: text_features(TABLE(t), text_col)")
      val textCol = constString(exprs(1))
      plan(TextAnalysis.withQualityScore(
        TextAnalysis.withLangId(
          TextAnalysis.withTokenStats(tableArg(spark, exprs(0)), textCol),
          textCol), textCol))
    }, "scala_udf")

    r.createOrReplaceTempFunction("text_pii_scrub", (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: text_pii_scrub(TABLE(t), text_col)")
      plan(TextAnalysis.piiScrub(tableArg(spark, exprs(0)), constString(exprs(1))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_exact_drop", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: dedup_exact_drop(TABLE(t), id_col, text_col)")
      plan(Dedup.dropExactDuplicates(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_minhash_pairs", (exprs: Seq[Expression]) => {
      require(exprs.length == 4,
        "usage: dedup_minhash_pairs(TABLE(t), id_col, text_col, threshold)")
      plan(Dedup.minhashNearDups(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        threshold = constNum(exprs(3))))
    }, "scala_udf")

    // CALL semantics: the large-star/small-star rounds (O(log n), one job
    // each, over the pair graph, not the corpus) run while this plan is
    // being constructed
    r.createOrReplaceTempFunction("dedup_components", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: dedup_components(TABLE(pairs), a_col, b_col)")
      plan(Dedup.resolveComponents(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_decontaminate", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 7,
        "usage: corpus_decontaminate(TABLE(corpus), id_col, text_col, TABLE(bench), bench_text_col[, shingle_n, min_overlap])")
      val n = if (exprs.length > 5) constInt(exprs(5)) else 8
      val minOv = if (exprs.length > 6) constInt(exprs(6)) else 1
      plan(Dedup.decontaminate(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        tableArg(spark, exprs(3)), constString(exprs(4)), n, minOv))
    }, "scala_udf")

    // semantic (embedding-space) decontamination — the n-gram-blind
    // paraphrase check; audit form returns (id, bench_id, cos_sim)
    r.createOrReplaceTempFunction("corpus_contamination_semantic", (exprs: Seq[Expression]) => {
      require(exprs.length == 7,
        "usage: corpus_contamination_semantic(TABLE(corpus), id_col, vec_col, " +
          "TABLE(bench), bench_id_col, bench_vec_col, threshold)")
      plan(Dedup.semanticContaminationHits(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        tableArg(spark, exprs(3)), constString(exprs(4)), constString(exprs(5)),
        constNum(exprs(6))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("corpus_decontaminate_semantic", (exprs: Seq[Expression]) => {
      require(exprs.length == 7,
        "usage: corpus_decontaminate_semantic(TABLE(corpus), id_col, vec_col, " +
          "TABLE(bench), bench_id_col, bench_vec_col, threshold)")
      plan(Dedup.decontaminateSemantic(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        tableArg(spark, exprs(3)), constString(exprs(4)), constString(exprs(5)),
        constNum(exprs(6))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_paragraphs", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: dedup_paragraphs(TABLE(t), id_col, text_col[, sep_regex])")
      val sep = if (exprs.length > 3) constString(exprs(3)) else "\\n+"
      plan(Dedup.dedupParagraphs(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)), sep))
    }, "scala_udf")

    // ExactSubstr character-span dedup (relational end-to-end: lazy like
    // dedup_paragraphs).
    r.createOrReplaceTempFunction("text_quality_rules", (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        "usage: text_quality_rules(TABLE(t), text_col)")
      plan(TextAnalysis.withQualityRules(tableArg(spark, exprs(0)),
        constString(exprs(1))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("c4_clean_lines", (exprs: Seq[Expression]) => {
      require(exprs.length >= 2 && exprs.length <= 4,
        "usage: c4_clean_lines(TABLE(t), text_col[, min_words_per_line, min_lines_per_doc])")
      val mw = if (exprs.length > 2) constInt(exprs(2)) else 3
      val ml = if (exprs.length > 3) constInt(exprs(3)) else 5
      plan(TextAnalysis.c4CleanLines(tableArg(spark, exprs(0)),
        constString(exprs(1)), mw, ml))
    }, "scala_udf")

    // URL tier: normalization/domain as appended columns; per-site cap as
    // a filter. All row-local except the cap's survivor-volume shuffle.
    r.createOrReplaceTempFunction("url_normalize", (exprs: Seq[Expression]) => {
      require(exprs.length >= 2 && exprs.length <= 3,
        "usage: url_normalize(TABLE(t), url_col[, psl_path]) — psl_path " +
          "keys url_domain on a full publicsuffix.org list file")
      val t = tableArg(spark, exprs(0))
      val u = constString(exprs(1))
      val dom =
        if (exprs.length > 2)
          graft.pipeline.UrlOps.urlRegisteredDomain(
            org.apache.spark.sql.functions.col(u),
            graft.pipeline.UrlOps.SuffixRules.parseFile(constString(exprs(2))))
        else graft.pipeline.UrlOps.urlRegisteredDomain(
          org.apache.spark.sql.functions.col(u))
      plan(t.withColumn("url_norm",
          graft.pipeline.UrlOps.normalizeUrl(org.apache.spark.sql.functions.col(u)))
        .withColumn("url_host",
          graft.pipeline.UrlOps.urlHost(org.apache.spark.sql.functions.col(u)))
        .withColumn("url_domain", dom))
    }, "scala_udf")

    r.createOrReplaceTempFunction("url_domain_cap", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 5,
        "usage: url_domain_cap(TABLE(t), url_col, cap, order_col[, psl_path])")
      if (exprs.length > 4)
        plan(graft.pipeline.UrlOps.capPerDomain(tableArg(spark, exprs(0)),
          constString(exprs(1)), constInt(exprs(2)), constString(exprs(3)),
          graft.pipeline.UrlOps.SuffixRules.parseFile(constString(exprs(4)))))
      else
        plan(graft.pipeline.UrlOps.capPerDomain(tableArg(spark, exprs(0)),
          constString(exprs(1)), constInt(exprs(2)), constString(exprs(3))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("url_dedup", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: url_dedup(TABLE(t), url_col, order_col)")
      plan(graft.pipeline.UrlOps.dedupByUrl(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("text_repetition_rules", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: text_repetition_rules(TABLE(t), id_col, text_col)")
      plan(TextAnalysis.withRepetitionRules(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_substr", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 6,
        "usage: dedup_substr(TABLE(t), id_col, text_col, min_length[, min_count, keep_first])")
      val minCount = if (exprs.length > 4) constInt(exprs(4)) else 2
      val keepFirst = exprs.length > 5 && constInt(exprs(5)) != 0
      plan(graft.pipeline.SubstrDedup.dedupSubstrings(
        tableArg(spark, exprs(0)), constString(exprs(1)),
        constString(exprs(2)), constInt(exprs(3)), minCount, keepFirst))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_substr_spans", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 6,
        "usage: dedup_substr_spans(TABLE(t), id_col, text_col, min_length[, min_count, keep_first])")
      val minCount = if (exprs.length > 4) constInt(exprs(4)) else 2
      val keepFirst = exprs.length > 5 && constInt(exprs(5)) != 0
      plan(graft.pipeline.SubstrDedup.dupSpans(
        tableArg(spark, exprs(0)), constString(exprs(1)),
        constString(exprs(2)), constInt(exprs(3)), minCount, keepFirst))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dedup_substr_tokens", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 6,
        "usage: dedup_substr_tokens(TABLE(t), id_col, text_col, min_tokens[, min_count, keep_first])")
      val minCount = if (exprs.length > 4) constInt(exprs(4)) else 2
      val keepFirst = exprs.length > 5 && constInt(exprs(5)) != 0
      plan(graft.pipeline.SubstrDedup.dedupTokenSubstrings(
        tableArg(spark, exprs(0)), constString(exprs(1)),
        constString(exprs(2)), constInt(exprs(3)), minCount, keepFirst))
    }, "scala_udf")

    // Heavy hitters: the MG candidate pass and the exact N total run when
    // the plan is BUILT (the dsir_weights CALL-style exception — the
    // threshold and the broadcast candidate set are inputs to the returned
    // recount relation).
    r.createOrReplaceTempFunction("heavy_hitters", (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        "usage: heavy_hitters(TABLE(t), item_col, phi)")
      plan(graft.pipeline.HeavyHitters.frequentItems(
        tableArg(spark, exprs(0)), constString(exprs(1)), constNum(exprs(2))))
    }, "scala_udf")

    // fully relational (lazy like dedup_substr): nothing collects
    r.createOrReplaceTempFunction("heavy_hitters_by_group_hinted", (exprs: Seq[Expression]) => {
      require(exprs.length == 5,
        "usage: heavy_hitters_by_group_hinted(TABLE(t), group_col, item_col, phi, expected_groups)")
      plan(graft.pipeline.HeavyHitters.frequentItemsByGroup(
        tableArg(spark, exprs(0)), constString(exprs(1)), constString(exprs(2)),
        constNum(exprs(3)), constNum(exprs(4)).toLong))
    }, "scala_udf")

    r.createOrReplaceTempFunction("heavy_hitters_by_group", (exprs: Seq[Expression]) => {
      require(exprs.length == 4,
        "usage: heavy_hitters_by_group(TABLE(t), group_col, item_col, phi)")
      plan(graft.pipeline.HeavyHitters.frequentItemsByGroup(
        tableArg(spark, exprs(0)), constString(exprs(1)),
        constString(exprs(2)), constNum(exprs(3))))
    }, "scala_udf")

    // Distributed full-data Lloyd + assignment: training runs at plan
    // build (same CALL-style exception); the returned relation is the
    // row-local assignment over the broadcast centroids.
    r.createOrReplaceTempFunction("corpus_clusters_full", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: corpus_clusters_full(TABLE(t), vec_col, k[, max_iter])")
      val vecCol = constString(exprs(1))
      val maxIter = if (exprs.length > 3) constInt(exprs(3)) else 10
      val t = tableArg(spark, exprs(0))
      val cents = CorpusPipeline.trainClusterCentroidsDistributed(
        t, vecCol, constInt(exprs(2)), maxIter)
      plan(CorpusPipeline.assignClusters(t, vecCol, cents))
    }, "scala_udf")

    // DSIR data selection. Model fitting (two bounded bucket-count
    // aggregations) runs when the plan is BUILT — the dedup_components
    // CALL-style exception — because the ≤16^hex_chars ratio table must
    // ride a broadcast into the row-local scoring pass.
    r.createOrReplaceTempFunction("dsir_weights", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 5,
        "usage: dsir_weights(TABLE(raw), text_col, TABLE(target)[, hex_chars, alpha])")
      val textCol = constString(exprs(1))
      val hc = if (exprs.length > 3) constInt(exprs(3)) else 2
      val alpha = if (exprs.length > 4) constNum(exprs(4)) else 1.0
      val raw = tableArg(spark, exprs(0))
      val model = graft.pipeline.Dsir.fitLogRatios(
        raw, tableArg(spark, exprs(2)), textCol, hc, alpha)
      plan(graft.pipeline.Dsir.withImportanceWeight(raw, textCol, model))
    }, "scala_udf")

    r.createOrReplaceTempFunction("dsir_resample", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 7,
        "usage: dsir_resample(TABLE(raw), id_col, text_col, TABLE(target), n[, hex_chars, alpha])")
      val hc = if (exprs.length > 5) constInt(exprs(5)) else 2
      val alpha = if (exprs.length > 6) constNum(exprs(6)) else 1.0
      plan(graft.pipeline.Dsir.resample(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)),
        tableArg(spark, exprs(3)), constInt(exprs(4)), hc, alpha))
    }, "scala_udf")

    // Bloom decontamination: the benchmark's Bloom filter builds when the
    // plan is BUILT (bounded benchmark pass — the dsir_weights CALL-style
    // exception) so the corpus side stays one zero-shuffle filter.
    r.createOrReplaceTempFunction("corpus_decontaminate_bloom", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 8,
        "usage: corpus_decontaminate_bloom(TABLE(corpus), id_col, text_col, " +
          "TABLE(bench), bench_text_col[, shingle_n, min_overlap, fpp])")
      val n = if (exprs.length > 5) constInt(exprs(5)) else 8
      val minOv = if (exprs.length > 6) constInt(exprs(6)) else 1
      val fpp = if (exprs.length > 7) constNum(exprs(7)) else 1e-7
      val bloom = Dedup.benchmarkShingleBloom(
        tableArg(spark, exprs(3)), constString(exprs(4)), n, fpp)
      plan(Dedup.decontaminateBloom(tableArg(spark, exprs(0)),
        constString(exprs(1)), constString(exprs(2)), bloom, n, minOv))
    }, "scala_udf")

    // BPE: training (histogram + driver merge loop, both bounded) runs at
    // plan build; the returned relation is the row-local tokenize pass.
    r.createOrReplaceTempFunction("bpe_token_count", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 5,
        "usage: bpe_token_count(TABLE(docs), text_col, num_merges[, max_words, min_count])")
      val textCol = constString(exprs(1))
      val maxWords = if (exprs.length > 3) constInt(exprs(3)) else 1 << 20
      val minCount = if (exprs.length > 4) constInt(exprs(4)).toLong else 1L
      val docs = tableArg(spark, exprs(0))
      val model = graft.pipeline.BpeTokenizer.train(docs, textCol,
        constInt(exprs(2)), maxWords, minCount)
      plan(graft.pipeline.BpeTokenizer.tokenCount(docs, textCol, model))
    }, "scala_udf")

    // Unigram-LM tokenizer: EM training over the bounded histogram runs
    // at plan build (same contract as bpe_token_count); the returned
    // relation is the row-local Viterbi tokenize pass.
    r.createOrReplaceTempFunction("unigram_token_count", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 5,
        "usage: unigram_token_count(TABLE(docs), text_col, vocab_size" +
          "[, max_words, min_count])")
      val textCol = constString(exprs(1))
      val maxWords = if (exprs.length > 3) constInt(exprs(3)) else 1 << 20
      val minCount = if (exprs.length > 4) constInt(exprs(4)).toLong else 1L
      val docs = tableArg(spark, exprs(0))
      val model = graft.pipeline.UnigramTokenizer.train(docs, textCol,
        constInt(exprs(2)), maxWords, minCount)
      plan(graft.pipeline.UnigramTokenizer.tokenCount(docs, textCol, model))
    }, "scala_udf")

    // Trained quality filter: GD training (treeAggregate passes over the
    // labeled table) runs at plan build; scoring is row-local broadcast.
    r.createOrReplaceTempFunction("quality_score", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 7,
        "usage: quality_score(TABLE(docs), text_col, TABLE(labeled), " +
          "labeled_text_col, label_col[, hash_dim, iters])")
      val hashDim = if (exprs.length > 5) constInt(exprs(5)) else 1 << 18
      val iters = if (exprs.length > 6) constInt(exprs(6)) else 50
      val model = graft.pipeline.QualityClassifier.train(
        tableArg(spark, exprs(2)), constString(exprs(3)), constString(exprs(4)),
        hashDim, iters)
      plan(graft.pipeline.QualityClassifier.withQualityScore(
        tableArg(spark, exprs(0)), constString(exprs(1)), model))
    }, "scala_udf")

    // quantile bucketing: the approxQuantile aggregate runs at plan build
    // (driver holds nBuckets-1 cutoffs); the relation is row-local
    r.createOrReplaceTempFunction("quantile_buckets", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: quantile_buckets(TABLE(t), value_col, n_buckets[, rel_err])")
      val relErr = if (exprs.length > 3) constNum(exprs(3)) else 1e-3
      plan(CorpusPipeline.withQuantileBuckets(tableArg(spark, exprs(0)),
        constString(exprs(1)), constInt(exprs(2)), relErr = relErr))
    }, "scala_udf")

    // cross-snapshot incremental dedup (exact anti-join; pass fpp for the
    // zero-shuffle Bloom serving form — prior reduces at plan build)
    r.createOrReplaceTempFunction("dedup_incremental", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 6,
        "usage: dedup_incremental(TABLE(new), id, text, TABLE(prior), " +
          "prior_text[, fpp])")
      val fresh = tableArg(spark, exprs(0))
      val prior = tableArg(spark, exprs(3))
      val pText = constString(exprs(4))
      if (exprs.length > 5) {
        val bloom = Dedup.corpusTextBloom(prior, pText, constNum(exprs(5)))
        plan(Dedup.dedupAgainstCorpusBloom(fresh, constString(exprs(1)),
          constString(exprs(2)), bloom))
      } else
        plan(Dedup.dedupAgainstCorpus(fresh, constString(exprs(1)),
          constString(exprs(2)), prior, pText))
    }, "scala_udf")

    // as-of (point-in-time) join: single-winner temporal alignment
    r.createOrReplaceTempFunction("asof_join", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 8,
        "usage: asof_join(TABLE(left), TABLE(right), key, left_ts, " +
          "right_ts[, direction, tolerance, tie_break])")
      val direction = if (exprs.length > 5) constString(exprs(5)) else "backward"
      val tol = if (exprs.length > 6) Some(constNum(exprs(6)).toLong) else None
      val tie = if (exprs.length > 7) Some(constString(exprs(7))) else None
      plan(graft.operators.AsofJoin.join(
        tableArg(spark, exprs(0)), tableArg(spark, exprs(1)),
        Seq(constString(exprs(2))), constString(exprs(3)),
        constString(exprs(4)), direction, tol, "inner", tie))
    }, "scala_udf")

    // point-in-interval range join: bucketed containment, no nested loop
    r.createOrReplaceTempFunction("range_join", (exprs: Seq[Expression]) => {
      require(exprs.length >= 6 && exprs.length <= 7,
        "usage: range_join(TABLE(points), ts_col, TABLE(intervals), " +
          "start_col, end_col, bucket_width[, key])")
      val keys = if (exprs.length > 6) Seq(constString(exprs(6))) else Nil
      plan(graft.operators.RangeJoin.pointInInterval(
        tableArg(spark, exprs(0)), constString(exprs(1)),
        tableArg(spark, exprs(2)), constString(exprs(3)),
        constString(exprs(4)), keys, constNum(exprs(5)).toLong))
    }, "scala_udf")

    // ColBERT MaxSim: exact batch form, and the staged ANN form over a
    // registered pooled-vector index (same name resolution as AnnSql)
    r.createOrReplaceTempFunction("maxsim_search_table", (exprs: Seq[Expression]) => {
      require(exprs.length == 7,
        "usage: maxsim_search_table(TABLE(queries), qid_col, qvecs_col, TABLE(docs), did_col, dvecs_col, k)")
      plan(graft.operators.MaxSim.searchTable(
        tableArg(spark, exprs(0)), constString(exprs(1)), constString(exprs(2)),
        tableArg(spark, exprs(3)), constString(exprs(4)), constString(exprs(5)),
        constInt(exprs(6))))
    }, "scala_udf")

    r.createOrReplaceTempFunction("matryoshka_table", (exprs: Seq[Expression]) => {
      require(exprs.length >= 9 && exprs.length <= 10,
        "usage: matryoshka_table('prefix_index', TABLE(queries), qid_col, qvec_col, " +
          "TABLE(base), id_col, vec_col, k, overfetch[, search_param])")
      val name = constString(exprs(0))
      val path = graft.index.AnnIndexManager.registered.getOrElse(name,
        throw new IllegalArgumentException(s"unknown index: $name"))
      val sp = if (exprs.length > 9) constInt(exprs(9)) else -1
      plan(graft.operators.Matryoshka.searchRerankTable(
        graft.index.AnnIndexManager.load(spark, path),
        tableArg(spark, exprs(1)), tableArg(spark, exprs(4)),
        constString(exprs(5)), constString(exprs(6)),
        constInt(exprs(7)), constInt(exprs(8)),
        queryIdCol = constString(exprs(2)), queryVecCol = constString(exprs(3)),
        searchParam = sp))
    }, "scala_udf")

    r.createOrReplaceTempFunction("mine_hard_negatives", (exprs: Seq[Expression]) => {
      require(exprs.length >= 9 && exprs.length <= 13,
        "usage: mine_hard_negatives('index', TABLE(pairs), qid_col, qvec_col, pos_id_col, " +
          "TABLE(base), id_col, vec_col, k[, overfetch, denoise_margin, " +
          "search_param, max_positives])")
      val name = constString(exprs(0))
      val path = graft.index.AnnIndexManager.registered.getOrElse(name,
        throw new IllegalArgumentException(s"unknown index: $name"))
      val of = if (exprs.length > 9) constInt(exprs(9)) else 3
      val margin = if (exprs.length > 10) constNum(exprs(10)) else 0.0
      val searchParam = if (exprs.length > 11) constInt(exprs(11)) else -1
      val maxPos = if (exprs.length > 12) constInt(exprs(12)) else -1
      plan(graft.pipeline.NegativeMining.mineHardNegatives(
        graft.index.AnnIndexManager.load(spark, path),
        tableArg(spark, exprs(1)), constString(exprs(2)), constString(exprs(3)),
        constString(exprs(4)), tableArg(spark, exprs(5)),
        constString(exprs(6)), constString(exprs(7)),
        constInt(exprs(8)), of, margin, searchParam, maxPos))
    }, "scala_udf")

    r.createOrReplaceTempFunction("maxsim_ann_table", (exprs: Seq[Expression]) => {
      require(exprs.length == 9,
        "usage: maxsim_ann_table('index', TABLE(queries), qid_col, qvecs_col, TABLE(docs), did_col, dvecs_col, k, overfetch)")
      val name = constString(exprs(0))
      val path = graft.index.AnnIndexManager.registered.getOrElse(name,
        throw new IllegalArgumentException(s"unknown index: $name"))
      plan(graft.operators.MaxSim.annSearchTable(
        graft.index.AnnIndexManager.load(spark, path),
        tableArg(spark, exprs(1)), constString(exprs(2)), constString(exprs(3)),
        tableArg(spark, exprs(4)), constString(exprs(5)), constString(exprs(6)),
        constInt(exprs(7)), constInt(exprs(8))))
    }, "scala_udf")
  }
}
