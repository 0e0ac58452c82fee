package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{BpeTokenizer, Dedup, QualityClassifier, TextAnalysis, UnigramTokenizer}
import QuerySupport._

/** Training-data pipeline surface: dedup, text analysis, embedding near-dup
  * (north-star extension operators). SQL-expressible ops carry a strict
  * DuckDB oracle; hash-family ops (minhash/simhash/rolling fingerprints)
  * are deterministic rows-only entries verified in DedupSpec/TextSpec.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")

  /** DuckDB replay of [[Dedup.simhashMd5Chunks]]: 64 signed vote sums over
    * exploded tokens' md5 nibble bits, packed into the same four 16-bit
    * chunks. Generated, not hand-written — the terms are mechanical. */
  private lazy val simhashMd5OracleSql: String = {
    val sums = (0 until 64).map { j =>
      val p = j / 4 + 1        // 1-based hex digit position in the digest
      val k = 1 << (3 - j % 4) // divisor selecting the bit within the nibble
      s"sum(CASE WHEN (strpos('0123456789abcdef', substr(h, $p, 1)) - 1) // $k % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n    ")
    val chunks = (0 until 4).map { c =>
      (0 until 16).map { m =>
        s"CASE WHEN s${c * 16 + m} > 0 THEN ${1 << (15 - m)} ELSE 0 END"
      }.mkString("(", " + ", s") AS chunk$c")
    }.mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest([t FOR t IN string_split_regex(lower(text), '\\s+') IF len(t) > 0]) AS tok
       |  FROM documents
       |), hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |votes AS (SELECT doc_id,
       |    $sums
       |  FROM hs GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |    $chunks
       |  FROM votes)
       |SELECT d.doc_id, coalesce(sig.chunk0, 0) AS chunk0, coalesce(sig.chunk1, 0) AS chunk1,
       |       coalesce(sig.chunk2, 0) AS chunk2, coalesce(sig.chunk3, 0) AS chunk3
       |FROM documents d LEFT JOIN sig USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[Dedup.embeddingNearDupsLsh]] (threshold 0.42,
    * bits 6, repeats 20, the `neardup_lsh` config): the seeded hyperplanes
    * are INLINED as double literals — same values, same ascending-i
    * left-associated double accumulation, same >= 0 sign rule, same
    * 2..maxBucket bucket cap, same exact-cosine verification. Dim 64 is
    * the testdata embeddings width. Generated: 20 reps x 6 bits x 64
    * mechanical product terms. */
  /** The LSH replay as a reusable WITH prefix ending in
    * `lshv(a, b, cs)` — the VERIFIED pairs with their unrounded cosine —
    * shared by the pair listing and the recall evaluation so the two can
    * never drift. */
  private lazy val NeardupLshPairsCte: String = {
    val (bits, repeats, dim) = (6, 20, 64)
    val planes = Dedup.lshPlanes(repeats, bits, dim, seed = 42)
    def bucketExpr(r: Int): String =
      (0 until bits).map { b =>
        val sum = (0 until dim)
          .map(i => s"${planes(r)(b)(i).toDouble} * e[${i + 1}]").mkString(" + ")
        s"CASE WHEN ($sum) >= 0 THEN ${1 << b} ELSE 0 END"
      }.mkString("(", " + ", ")")
    val banded = (0 until repeats).map { r =>
      s"SELECT vec_id, $r AS rep, ${bucketExpr(r)} AS bucket FROM e"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |banded AS (
       |$banded
       |), ok AS (
       |  SELECT rep, bucket FROM banded GROUP BY rep, bucket
       |  HAVING count(*) BETWEEN 2 AND 10000
       |), cands AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM banded x
       |  JOIN ok z ON z.rep = x.rep AND z.bucket = x.bucket
       |  JOIN banded y ON y.rep = x.rep AND y.bucket = x.bucket AND x.vec_id < y.vec_id
       |), lshv AS (
       |  SELECT c.a, c.b,
       |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                           CAST(eb.embedding AS DOUBLE[])) AS cs
       |  FROM cands c
       |  JOIN embeddings ea ON ea.vec_id = c.a
       |  JOIN embeddings eb ON eb.vec_id = c.b
       |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                               CAST(eb.embedding AS DOUBLE[])) > 0.42
       |)""".stripMargin
  }

  private lazy val neardupLshOracleSql: String =
    s"""$NeardupLshPairsCte
       |SELECT a, b, round(cs, 4) AS cos_sim FROM lshv
       |ORDER BY a, b""".stripMargin

  /** The text-quality scoring mirrored expression-for-expression (shared
    * by `text_quality` and the quality-winner dedup oracle): emits
    * (doc_id, quality_score) with the same +1e-9 round(4) the Spark
    * column applies, so the two sides agree value-for-value and ordering
    * by it is engine-stable. No ORDER BY — embeddable as a nested CTE. */
  private val QualityOracleBody: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    string_split_regex(lower(text), '\s+') AS toks,
      |    CAST(length(regexp_replace(lower(text), '[^a-z\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_chars, alpha_ratio,
      |    greatest(len(toks), 1) AS n_tokens,
      |    CAST(len(list_intersect(toks, ['the','and','of','to','in','is','that','it','was','for','with','a']))
      |      + len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von']))
      |      + len(list_intersect(toks, ['le','la','les','et','est','un','une','dans','que','pour','des','du']))
      |      + len(list_intersect(toks, ['el','los','las','de','que','y','en','un','una','es','por','con'])) AS DOUBLE) AS stop_hits
      |  FROM t
      |)
      |SELECT doc_id,
      |  round(least(n_chars / 500.0, 1.0) * 0.3
      |      + least(stop_hits / 5.0, 1.0) * 0.2
      |      + alpha_ratio * 0.3
      |      + (CASE WHEN n_chars / n_tokens BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
      |      + 0.000000001, 4) AS quality_score
      |FROM s""".stripMargin

  /** DuckDB replay of the JL projection behind `neardup_projected`
    * (64 -> 16, seed 42): [[graft.functions.RandomProjection]] accumulates
    * each output coordinate as an ascending-i left-associated sum of
    * (float-widened-to-double matrix entry) * (double element) and casts
    * the sum to FLOAT — so `CAST((m0*e[1] + m1*e[2] + ...) AS REAL)` in
    * SQL reproduces every projected float bitwise, and the downstream
    * exact-cosine pair join mirrors `neardup_cosine`'s oracle over the
    * projected vectors. Generated: 16 coords x 64 mechanical terms. */
  private lazy val neardupProjectedOracleSql: String = {
    val (dim, outDim) = (64, 16)
    val mat = graft.functions.Projection.gaussianMatrix(dim, outDim, seed = 42L)
    val coords = (0 until outDim).map { j =>
      val sum = (0 until dim)
        .map(i => s"${mat(j * dim + i).toDouble} * e[${i + 1}]").mkString(" + ")
      s"CAST(CAST(($sum) AS REAL) AS DOUBLE)"
    }.mkString("[", ",\n   ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |p AS (
       |  SELECT vec_id,
       |  $coords AS pv
       |  FROM e
       |)
       |SELECT a.vec_id AS a, b.vec_id AS b,
       |  round(list_cosine_similarity(a.pv, b.pv), 4) AS cos_sim
       |FROM p a JOIN p b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.pv, b.pv) > 0.42
       |ORDER BY a, b""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s: SparkSession, dir: String) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .select("doc_id", "n_copies")
        .orderBy("doc_id")),

    "text_stats" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withTokenStats(docs(s, dir), "text")
        .select("doc_id", "n_chars", "n_ws_tokens", "n_word_tokens")
        .orderBy("doc_id")),

    // BPE training phase 1 — the corpus→histogram reduction (one
    // partial-aggregated explode+count, top-N by (cnt DESC, word)):
    // strict vs the same regex split in DuckDB. The merge loop consumes
    // exactly this relation, so the oracle pins the trainer's input.
    "bpe_word_hist" -> ((s: SparkSession, dir: String) =>
      BpeTokenizer.wordHistogram(docs(s, dir), "text", maxWords = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("word"))).cast("long"))
        .select("rank", "word", "cnt")
        .orderBy("rank")),

    // fastText-style trained quality filter: hashed n-gram logistic
    // regression, one treeAggregate per GD pass, label = lang=='en'
    // (learnable from the stopword mix the langid oracle relies on).
    // Rows-only (iterative training is not SQL-expressible); separation,
    // partitioning stability, and sampling contracts in
    // QualityClassifierSpec.
    "quality_classifier" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val labeled = d.withColumn("__label",
        when(col("lang") === "en", 1.0).otherwise(0.0))
      val model = QualityClassifier.train(labeled, "text", "__label",
        hashDim = 1 << 16, iters = 30)
      QualityClassifier.withQualityScore(d, "text", model)
        .select(col("doc_id"), round(col("quality_prob"), 4).as("quality_prob"))
        .orderBy("doc_id")
    }),

    // the classifier's SCORING path, STRICT: the same tokenize →
    // uni+bi-gram → bucket → L1-normalize → ascending-bucket dot product
    // → sigmoid pipeline Model.score runs, against a PINNED model whose
    // weights are SQL arithmetic (w(h) = ((h mod 17) - 8)/10, bias 0.1)
    // and whose feature buckets use the md5 family (the dedup_minhash_md5
    // pattern) — the oracle replays every double bit-for-bit via an
    // ordered list_reduce fold. Training stays rows-only above
    // (quality_classifier); its GD contracts live in
    // QualityClassifierSpec.
    "quality_score_md5" -> ((s: SparkSession, dir: String) =>
      QualityClassifier.withQualityScore(docs(s, dir), "text",
          QualityClassifier.pinnedMd5Model(hashDim = 64))
        .select(col("doc_id"),
          round(col("quality_prob"), 6).as("quality_prob"))
        .orderBy("doc_id")),

    // end-to-end BPE: train 200 merges on the corpus histogram, tokenize
    // every document, count subwords. Rows-only (the iterative merge loop
    // is not SQL-expressible); trainer-vs-reference equivalence, merge
    // determinism, and round-trip contracts are pinned in BpeSpec.
    "bpe_token_count" -> ((s: SparkSession, dir: String) => {
      val model = BpeTokenizer.train(docs(s, dir), "text",
        numMerges = 200, minCount = 2L)
      BpeTokenizer.tokenCount(docs(s, dir), "text", model)
        .select("doc_id", "n_bpe_tokens")
        .orderBy("doc_id")
    }),

    // end-to-end unigram-LM (SentencePiece-default) tokenizer: EM over
    // the same bounded histogram BPE trains on, Viterbi apply. Rows-only
    // (EM + lattice are not SQL-expressible); Viterbi optimality,
    // determinism, and fallback contracts are pinned in
    // UnigramTokenizerSpec, and the trainer's input relation is the
    // strict bpe_word_hist sibling.
    "unigram_token_count" -> ((s: SparkSession, dir: String) => {
      val model = UnigramTokenizer.train(docs(s, dir), "text",
        vocabSize = 2000, minCount = 2L, seedSize = 1 << 14)
      UnigramTokenizer.tokenCount(docs(s, dir), "text", model)
        .select("doc_id", "n_unigram_tokens")
        .orderBy("doc_id")
    }),

    // unigram trainer phase 0, STRICT: the count-weighted substring
    // histogram the seed vocabulary is selected from (UnigramTokenizer
    // .trainFromHistogram's subCounts — every substring of length ≤
    // MaxPieceLen of every histogram word, weighted by word count).
    // Pure integer arithmetic over the same bounded word histogram
    // bpe_word_hist pins → exact oracle; the EM that CONSUMES this
    // relation stays rows-only above (unigram_token_count), its lattice
    // contracts in UnigramTokenizerSpec.
    "unigram_seed_hist" -> ((s: SparkSession, dir: String) =>
      BpeTokenizer.wordHistogram(docs(s, dir), "text",
          maxWords = 500, minCount = 2L)
        .select(col("cnt"), explode(expr(
          "flatten(transform(sequence(1, length(word)), " +
            "j -> transform(sequence(j, least(length(word), j + 7)), " +
            "k -> substring(word, j, k - j + 1))))")).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("piece_cnt"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("piece_cnt").desc, col("piece"))).cast("long"))
        .filter(col("rank") <= 200)
        .select("rank", "piece", "piece_cnt")
        .orderBy("rank")),

    "doc_fingerprint" -> ((s: SparkSession, dir: String) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy("doc_id")),

    // raw vectors: cosine is scale-invariant, and using the same arithmetic
    // as the DuckDB oracle keeps the rounded values bit-comparable
    "neardup_cosine" -> ((s: SparkSession, dir: String) =>
      Dedup.embeddingNearDups(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.42)
        .orderBy("a", "b")),

    // near-dup over JL-projected vectors (64 -> 16): the preprocessing
    // that makes quadratic/LSH candidate work 4x cheaper at wide dims.
    // STRICT since r6: the seeded Gaussian matrix inlines into the oracle
    // as double literals and each projected float replays bitwise via
    // CAST(sum AS REAL) (see neardupProjectedOracleSql); distortion +
    // planted-pair contracts stay in ProjectionSpec.
    "neardup_projected" -> ((s: SparkSession, dir: String) => {
      val e = table(s, dir, "embeddings")
      Dedup.embeddingNearDups(
          e.select(col("vec_id"), graft.functions.Projection
            .projectColumn(col("embedding"), 64, 16).as("embedding")),
          "vec_id", "embedding", threshold = 0.42)
        .orderBy("a", "b")
    }),

    // deterministic rows-only entries (hash families not SQL-mirrorable)
    "dedup_minhash" -> ((s: SparkSession, dir: String) =>
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("a", "b")),

    "dedup_simhash" -> ((s: SparkSession, dir: String) =>
      Dedup.withSimhash(docs(s, dir), "text")
        .select("doc_id", "simhash")
        .orderBy("doc_id")),

    // simhash with the md5 bit family: bit votes and 16-bit chunk packing
    // stay in exact integer arithmetic → strict oracle (murmur variant
    // above remains the throughput family)
    "dedup_simhash_md5" -> ((s: SparkSession, dir: String) =>
      Dedup.simhashMd5Chunks(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // exact all-pairs bigram Jaccard: built-ins only → strict oracle
    "ngram_jaccard" -> ((s: SparkSession, dir: String) =>
      Dedup.ngramJaccardExact(docs(s, dir), "doc_id", "text",
          shingleSize = 2, threshold = 0.5)
        .orderBy("a", "b")),

    // same surface through the minhash-LSH scale path (hash family not
    // SQL-mirrorable → deterministic rows-only; recall vs the exact
    // variant asserted in PipelineSpec)
    "ngram_jaccard_lsh" -> ((s: SparkSession, dir: String) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", shingleSize = 2)
        .orderBy("a", "b")),

    // the VERIFICATION hash family: md5-derived minhash signatures are
    // bit-identical across engines, so the whole banding pipeline
    // (signature -> band keys -> capped buckets -> candidate pairs ->
    // exact-Jaccard verify) oracles STRICTLY — certifying the same banding
    // logic the fast murmur family above runs at scale
    "dedup_minhash_md5" -> ((s: SparkSession, dir: String) =>
      Dedup.minhashNearDupsMirrorable(docs(s, dir), "doc_id", "text",
          shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy("a", "b")),

    // per-doc duplicate-text fraction: share of a doc's distinct bigrams
    // that occur in any OTHER doc (corpus-level boilerplate score, no
    // pair materialization) — pure set arithmetic, strict oracle
    "dedup_shared_ngrams" -> ((s: SparkSession, dir: String) =>
      Dedup.sharedNgramStats(docs(s, dir), "doc_id", "text", shingleSize = 2)
        .orderBy("doc_id")),

    // near-dup pairs resolved into duplicate GROUPS (connected components
    // via large-star/small-star, O(log n) rounds, one job per round):
    // transitive chains collapse to one group id. Strict — the oracle
    // replays the same pair predicate and takes its transitive closure
    // with a recursive CTE.
    "dedup_components" -> ((s: SparkSession, dir: String) => {
      val pairs = Dedup.ngramJaccardExact(docs(s, dir), "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      Dedup.resolveComponents(pairs, "a", "b")
        .select(col("id").as("doc_id"), col("group_id"))
        .orderBy("doc_id")
    }),

    // the cleaning ACTION: corpus minus non-representative group members
    // (transitive chains keep exactly one winner) — strict
    "dedup_components_clean" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardExact(d, "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      Dedup.dedupByComponents(d, "doc_id", pairs, "a", "b")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // recall of the LSH near-dup pairs against the exact all-pairs truth
    // — the dedup-tier analogue of ann_recall_exact: the evaluation
    // itself is a strict oracle row (both pair sets replay in SQL), so
    // the measured recall is pinned cross-engine, not just asserted
    "neardup_lsh_recall" -> ((s: SparkSession, dir: String) => {
      val emb = table(s, dir, "embeddings")
      val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.42)
        .select("a", "b")
      val lsh = Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding",
          threshold = 0.42, bits = 6, repeats = 20)
        .select("a", "b")
      val common = exact.intersect(lsh)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(common.agg(count(lit(1)).as("n_common")))
        .withColumn("recall", round(col("n_common").cast("double")
          / greatest(col("n_exact"), lit(1L)) + lit(1e-9), 4))
    }),

    // quality-aware winner: inside each duplicate group the HIGHEST
    // quality_score survives (min id on ties) — the production rule.
    // Strict: closure + mirrored quality arithmetic, ranked identically
    "dedup_components_best" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val scored = graft.pipeline.TextAnalysis.withQualityScore(d, "text")
      val pairs = Dedup.ngramJaccardExact(d, "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      Dedup.dedupByComponentsBest(scored, "doc_id", pairs, "a", "b",
          "quality_score")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // moderate threshold (cos 0.42 ≈ 60°) needs short codes + many repeats:
    // collision prob per repeat (1-θ/π)^bits ≈ 0.07, 20 repeats → ~78% recall.
    // STRICT since r6: the seeded hyperplanes inline into the oracle as
    // double literals and the sign sums replay bit-for-bit (see
    // neardupLshOracleSql) — recall stays approximate, the RESULT is exact.
    "neardup_lsh" -> ((s: SparkSession, dir: String) =>
      Dedup.embeddingNearDupsLsh(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.42, bits = 6, repeats = 20)
        .orderBy("a", "b")),

    // index-backed near-dup (transient cosine IVF + distributed self-join
    // search): deterministic rows-only (probe coverage < 1 is approximate
    // by design; recall vs exact asserted in PipelineSpec)
    "neardup_ann" -> ((s: SparkSession, dir: String) =>
      Dedup.embeddingNearDupsAnn(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.42, nlist = 16, nprobe = 8)
        .orderBy("a", "b")),

    // the same index-backed path at nprobe = nlist (every cell probed) and
    // a k the fixture's densest neighborhood never fills: the IVF search
    // is EXHAUSTIVE-EXACT, so the all-pairs cosine definition is a strict
    // oracle for the whole index machinery — build-time normalize, cell
    // routing, per-cell scoring, top-k merge, pair symmetrization
    "neardup_ann_exact" -> ((s: SparkSession, dir: String) =>
      Dedup.embeddingNearDupsAnn(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.42, nlist = 8, nprobe = 8,
          k = 20)
        .orderBy("a", "b")),

    "text_langid" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withLangId(docs(s, dir), "text")
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")),

    "text_quality" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withQualityScore(docs(s, dir), "text")
        .select("doc_id", "quality_score")
        .orderBy("doc_id")),

    "doc_fingerprint_rolling" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withFingerprints(docs(s, dir), "text")
        .select("doc_id", "fp_rolling")
        .orderBy("doc_id")),

    // CCNet-style corpus-likelihood quality: avg negative log-likelihood
    // of each doc's char trigrams under the corpus's own trigram
    // distribution. Strict: the per-doc fold runs in TEXT ORDER on both
    // engines, so the double summation is bit-identical before round(4).
    "text_trigram_ll" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withTrigramLogLoss(docs(s, dir), "text")
        .select("doc_id", "n_trigrams", "trigram_logloss")
        .orderBy("doc_id")),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): docs ranked
    // by character-trigram LM log-loss and cut into head/middle/tail
    // tertiles — the standard "keep the head, sample the middle, drop the
    // tail" quality gate. Exact global ntile here because it is the
    // strict-oracle configuration (deterministic: ties ordered by
    // (rounded log-loss, doc_id), null-ll docs excluded on both sides);
    // at 100 TB the same cut runs as approx-quantile CUTOFFS + row-local
    // bucket assignment — one aggregate + one scan, no global sort.
    "quality_perplexity_buckets" -> ((s: SparkSession, dir: String) => {
      val ll = TextAnalysis.withTrigramLogLoss(docs(s, dir), "text")
        .select(col("doc_id"), col("trigram_logloss"))
        .filter(col("trigram_logloss").isNotNull)
      val w = Window.orderBy(col("trigram_logloss"), col("doc_id"))
      ll.withColumn("bucket", ntile(3).over(w).cast("long"))
        .orderBy("doc_id")
    }),

    // Gopher-style duplicate-trigram fraction per doc (strict oracle:
    // same comprehension arithmetic, round(4) both sides)
    "text_repetition" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.withRepetition(docs(s, dir), "text")
        .select("doc_id", "repetition_ratio")
        .orderBy("doc_id")),

    // codepoint-distribution entropy (bits/char): the repetition/
    // degeneracy cut. Strict — the oracle recomputes the histogram and
    // both sides round(4) after +1e-9 (absorbs summation order)
    "text_entropy" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.TextAnalysis.withCharEntropy(docs(s, dir), "text")
        .select("doc_id", "char_entropy")
        .orderBy("doc_id")),

    // DEFLATE compression ratio. STRICT since r9 via the inlined-ground-
    // truth technique (corpus_clusters / neardup_lsh): there is no SQL
    // zlib, so the KERNEL (same JVM Deflater, fixed level) computes
    // expected ratios driver-side over the collected fixture and those
    // inline into the oracle as literals — the oracle then verifies the
    // whole DISTRIBUTED mapping (UDF batching, row alignment, null/empty
    // handling, the +1e-9 round) against them, exactly what a fixture
    // column precomputed at testdata-build time would check. Driver-side
    // work is capped (the stash skips above 100k docs → no_oracle, never
    // an OOM); the distributed plan is unconditional.
    "text_deflate" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      if (d.count() <= 100000) {
        textDeflateExpected = Some(
          d.select(col("doc_id"), col("text")).collect().map(r =>
            (r.getLong(0), graft.pipeline.TextAnalysis.deflateRatio(r.getString(1)))))
      } else textDeflateExpected = None
      graft.pipeline.TextAnalysis.withDeflateRatio(d, "text")
        .select("doc_id", "deflate_ratio")
        .orderBy("doc_id")
    }),

    // deterministic k-means topic buckets over the embedding corpus:
    // per-cluster sizes. STRICT since r7: the TRAINING stays driver-side
    // Scala (kmeans++ is not SQL-mirrorable), but the trained centroids
    // are stashed and inlined into the oracle as double literals, so the
    // ASSIGNMENT (argmin over centroid distances, first-min tie-break)
    // and the per-cluster counts replay exactly — same technique that
    // made neardup_lsh strict (inlined hyperplanes)
    "corpus_clusters" -> ((s: SparkSession, dir: String) => {
      val embs = table(s, dir, "embeddings")
      val cents = graft.pipeline.CorpusPipeline.trainClusterCentroids(
        embs, "embedding", k = 8)
      corpusClusterCentroids = Some(cents)
      graft.pipeline.CorpusPipeline.assignClusters(embs, "embedding", cents)
        .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
    }),

    // the distributed FULL-DATA Lloyd variant: same inlined-centroid
    // strict technique, but the training pass is the scale path (one
    // shuffle-free partial-sum pass per round over ALL rows, not a
    // driver-side sample) — the assignment + counts replay exactly from
    // the stashed centroids
    "corpus_clusters_full" -> ((s: SparkSession, dir: String) => {
      val embs = table(s, dir, "embeddings")
      val cents = graft.pipeline.CorpusPipeline
        .trainClusterCentroidsDistributed(embs, "embedding", k = 8)
      corpusClustersFullCentroids = Some(cents)
      graft.pipeline.CorpusPipeline.assignClusters(embs, "embedding", cents)
        .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
    }),

    // SemDeDup survivors, exact variant: drop rows with a more-similar-
    // than-threshold smaller-id neighbor — SQL-mirrorable (NOT EXISTS over
    // the same cosine arithmetic as neardup_cosine) → strict oracle
    "semantic_dedup" -> ((s: SparkSession, dir: String) =>
      Dedup.semanticDedupExact(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.42)
        .select("vec_id")
        .orderBy("vec_id")),

    // the clustered scale path (k-means buckets bound the quadratic pass).
    // STRICT since r8 via the inlined-centroid technique (corpus_clusters):
    // training stays driver-side Scala, but the trained centroids are
    // stashed and inlined into the oracle as double literals, so the
    // assignment, the maxCluster pass-through rule, and the within-cluster
    // cosine drop rule all replay exactly in SQL. Cluster boundaries can
    // still split a near-dup pair vs the exact variant — that is the
    // OPERATOR's declared semantics, and the oracle now mirrors it.
    "semantic_dedup_clustered" -> ((s: SparkSession, dir: String) => {
      val embs = table(s, dir, "embeddings")
      val cents = graft.pipeline.CorpusPipeline.trainClusterCentroids(
        embs, "embedding", k = 16)
      semanticDedupCentroids = Some(cents)
      Dedup.semanticDedup(embs, "vec_id", "embedding", threshold = 0.42,
          nClusters = 16, centroids = Some(cents))
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // eval-set decontamination audit: every 50th doc plays the held-out
    // benchmark; corpus docs sharing any 8-gram with it are flagged with
    // their distinct-overlap counts. Strict oracle (same shingle
    // arithmetic as ngram_jaccard, joined instead of compared)
    "decontaminate" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Dedup.contaminationHits(d, "doc_id", "text",
          d.filter(col("doc_id") % 50 === 0), "text", shingleSize = 8)
        .orderBy("doc_id")
    }),

    // Bloom-filter decontamination: the corpus probes a fixed-size bit
    // array row-locally — zero explode/join/shuffle over the corpus (the
    // 100 TB serving form). No false negatives by construction; at
    // fpp=1e-7 over this fixture's ~17k probes the expected false-positive
    // surplus is ~0.002 hits, so the audit matches the exact oracle
    // bit-for-bit (same class of lossless-fixture pin as
    // ann_pq_exact_topk; superset/zero-FN contracts in DecontaminationSpec)
    "decontaminate_bloom" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val bloom = Dedup.benchmarkShingleBloom(
        d.filter(col("doc_id") % 50 === 0), "text", shingleSize = 8)
      Dedup.contaminationHitsBloom(d, "doc_id", "text", bloom, shingleSize = 8)
        .orderBy("doc_id")
    }),

    // EMBEDDING-space decontamination (the Phi/FineWeb semantic check —
    // paraphrases share no 8-gram but sit next to their eval source in
    // embedding space): benchmark = every 37th embedding, broadcast;
    // corpus rows whose max cosine vs any benchmark row clears 0.42 are
    // flagged with the argmax bench id (ties by smallest id — total
    // order). Strict: DuckDB replays the same cross join + argmax window
    // in doubles (the neardup_cosine float-vs-double parity argument).
    "contamination_semantic" -> ((s: SparkSession, dir: String) => {
      val e = table(s, dir, "embeddings")
      Dedup.semanticContaminationHits(e, "vec_id", "embedding",
          e.filter(col("vec_id") % 37 === 0), "vec_id", "embedding",
          threshold = 0.42)
        .orderBy("vec_id")
    }),

    // the same audit through the ANN-index path (the benchmark-too-large-
    // to-broadcast composition): k=1 cosine search over a benchmark index
    // at EXHAUSTIVE probes (nprobe = nlist) is exactly the broadcast
    // argmax — same oracle, strict
    "contamination_semantic_ann" -> ((s: SparkSession, dir: String) => {
      val e = table(s, dir, "embeddings")
      Dedup.semanticContaminationHitsAnn(e, "vec_id", "embedding",
          e.filter(col("vec_id") % 37 === 0), "vec_id", "embedding",
          threshold = 0.42, nlist = 4, nprobe = 4)
        .orderBy("vec_id")
    }),

    // the cleaning step: surviving ids after the semantic anti-join
    "decontaminate_semantic" -> ((s: SparkSession, dir: String) => {
      val e = table(s, dir, "embeddings")
      Dedup.decontaminateSemantic(e, "vec_id", "embedding",
          e.filter(col("vec_id") % 37 === 0), "vec_id", "embedding",
          threshold = 0.42)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // cross-snapshot incremental dedup: "new crawl" = the full corpus,
    // "prior snapshot" = the odd doc_ids — every odd doc's text exists in
    // prior (drops), every even doc's does not (survives). Exact md5
    // anti-join. Strict.
    "dedup_incremental" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Dedup.dedupAgainstCorpus(d, "doc_id", "text",
          d.filter(col("doc_id") % 2 === 1), "text")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // zero-shuffle serving form: the prior snapshot reduces to a Bloom
    // bit array and the new corpus filters row-locally. No false
    // negatives; at fpp=1e-9 over 250 probes the expected FP surplus is
    // ~2.5e-7, so the result reproduces the exact oracle bit-for-bit
    // (same lossless-fixture pin as decontaminate_bloom). Strict.
    "dedup_incremental_bloom" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val bloom = Dedup.corpusTextBloom(
        d.filter(col("doc_id") % 2 === 1), "text")
      Dedup.dedupAgainstCorpusBloom(d, "doc_id", "text", bloom)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // PII redaction with a strict oracle: the corpus text is synthetic
    // word-soup with no PII, so the query first INJECTS deterministic
    // doc_id-derived emails/IPs/phones (same SQL arithmetic both engines),
    // then scrubs — the oracle exercises real matches, not a no-op
    "pii_scrub" -> ((s: SparkSession, dir: String) => {
      val dirty = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
        lit(" call +1-555-"), (lit(1000) + col("doc_id") % 9000).cast("string")
      ).as("text"))
      TextAnalysis.piiScrub(dirty, "text")
        .select(col("doc_id"), col("redacted"),
          col("n_emails"), col("n_ipv4"), col("n_phones"))
        .orderBy("doc_id")
    }),

    // end-to-end cleaning pass: dedup -> langid -> quality -> filters, one
    // declarative plan; every stage is SQL-mirrorable, so the COMPOSITION
    // gets a strict oracle too
    "corpus_clean" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.clean(docs(s, dir), "doc_id", "text",
          minQuality = 0.5, langs = Set("en", "de", "fr", "es"), minChars = 20)
        .select("doc_id", "lang_pred", "quality_score")
        .orderBy("doc_id")),

    // end-to-end composition: clean (dedup + langid + quality + length)
    // CHAINED into per-language sequence packing — the chained strict
    // oracle pins the composed pipeline, not just each stage
    "corpus_clean_pack" -> ((s: SparkSession, dir: String) => {
      val cleaned = graft.pipeline.CorpusPipeline.clean(docs(s, dir), "doc_id", "text",
        minQuality = 0.5, langs = Set("en", "de", "fr", "es"), minChars = 20)
      graft.pipeline.CorpusPipeline.packSequences(cleaned, "doc_id", "text",
          seqLen = 512, partitionBy = Some("lang_pred"))
        .select("doc_id", "lang_pred", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    }),

    // the full ingest recipe in ONE chained strict query: clean (exact
    // dedup + langid + quality + length) -> overlapping 64/48 token
    // chunks -> seeded 8-way shard assignment of the CHUNKS (keyed on
    // doc_chunk) — the end-to-end path a retrieval/training ingest runs,
    // pinned stage-composition and all against a composed oracle
    "corpus_e2e" -> ((s: SparkSession, dir: String) => {
      val cleaned = graft.pipeline.CorpusPipeline.clean(docs(s, dir), "doc_id", "text",
        minQuality = 0.5, langs = Set("en", "de", "fr", "es"), minChars = 20)
      val chunks = graft.pipeline.CorpusPipeline
        .chunkDocuments(cleaned, "doc_id", "text", chunkTokens = 64, stride = 48)
        .withColumn("chunk_key",
          concat_ws("_", col("doc_id"), col("chunk_id")))
      graft.pipeline.CorpusPipeline.shardCorpus(chunks, "chunk_key", nShards = 8)
        .select("doc_id", "chunk_id", "lang_pred", "shard", "shard_pos")
        .orderBy("doc_id", "chunk_id")
    }),

    // deterministic id-keyed sampling (md5-prefix threshold): pure
    // function of the id -> reproducible across engines, so strict oracle
    "corpus_sample" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.deterministicSample(docs(s, dir), "doc_id", 0.25)
        .select("doc_id")
        .orderBy("doc_id")),

    // per-stratum rates: downsample en hard, zh by half, keep the rest
    "corpus_stratified" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.stratifiedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.1, "zh" -> 0.5), defaultFraction = 1.0)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // temperature-scaled mixture weights (count^alpha, budget-normalized,
    // clamped at 1.0): the per-language fractions a temperature-mixed
    // pretraining corpus would sample at. Strict — pure count arithmetic
    // mirrored in SQL, fractions pinned at 6 decimals on both sides.
    "corpus_temperature" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = docs(s, dir)
      val fr = graft.pipeline.CorpusPipeline
        .temperatureFractions(d, "lang", alpha = 0.5, budgetRows = 300)
      val frDf = fr.toSeq.toDF("lang", "fraction")
      d.groupBy("lang").count()
        .join(frDf, Seq("lang"))
        .select(col("lang"), col("count").as("n_docs"), col("fraction"))
        .orderBy("lang")
    }),

    // concat-and-chunk sequence packing per language: each doc tagged
    // with the 512-token window it starts in and its offset there. Strict
    // (pure window arithmetic, mirrored ws-token counts).
    "corpus_pack" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.packSequences(docs(s, dir), "doc_id", "text",
          seqLen = 512, partitionBy = Some("lang"))
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    // per-language token budget: keep the id-ordered prefix of each
    // stratum within 2000 whitespace tokens
    "corpus_token_budget" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.tokenBudget(docs(s, dir), "doc_id", "text",
          maxTokens = 2000, partitionBy = Some("lang"))
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("doc_id")),

    // overlapping 64-token windows advancing by 48 (16-token overlap):
    // pure built-in string/array arithmetic → strict, chunk text included
    "corpus_chunk" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.chunkDocuments(docs(s, dir), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .select("doc_id", "chunk_id", "chunk_start", "chunk_len", "chunk_text")
        .orderBy("doc_id", "chunk_id")),

    // deterministic training shards: seeded global shuffle into 8 shards,
    // total order inside each — shard and position are pure functions of
    // (seed, doc_id), so the oracle replays md5-for-md5 → strict
    "corpus_shard" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.CorpusPipeline.shardCorpus(docs(s, dir), "doc_id",
          nShards = 8)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")),

    // sub-document exact dedup (ExactSubstr/Dolma paragraph form): the
    // corpus text is unique word soup, so the query INJECTS a shared
    // boilerplate paragraph into every doc (and a promo paragraph into
    // every 7th) — the operator must strip them everywhere except their
    // first occurrence and keep the unique body verbatim. Strict: the
    // rewritten text string-compares, winner rule and reassembly replay
    // relationally
    "dedup_paragraphs" -> ((s: SparkSession, dir: String) => {
      val dirty = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit("\nshared boilerplate terms of service apply"),
        when(col("doc_id") % 7 === 3,
          lit("\npromo subscribe now for updates")).otherwise(lit(""))).as("text"))
      Dedup.dedupParagraphs(dirty, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // heavy hitters (Misra-Gries candidates + exact recount): tokens with
    // count >= ceil(1% of all tokens). The sketch pass never shuffles the
    // vocabulary; the recount makes the result EXACT, so it replays as a
    // plain HAVING in SQL. The fixture's one rare token ('dup') exercises
    // the threshold exclusion
    "heavy_hitters" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.HeavyHitters.frequentTokens(docs(s, dir), "text",
          phi = 0.01)
        .orderBy("token")),

    // the NAMED web-filter rule packs (Gopher Rae et al. 2021 App. A; C4
    // doc-level signals): per-rule booleans from pure Column arithmetic —
    // every definition replays in SQL, so the whole rule table is strict
    "text_quality_rules" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.TextAnalysis.withQualityRules(docs(s, dir), "text")
        .select("doc_id", "gopher_word_count", "gopher_mean_word_len",
          "gopher_symbol_ratio", "gopher_bullet_lines",
          "gopher_ellipsis_lines", "gopher_alpha_words", "gopher_stop_words",
          "gopher_pass", "c4_terminal_punct_frac", "c4_has_brace",
          "c4_has_lorem_ipsum")
        .orderBy("doc_id")),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) — the rewrite form:
    // the query INJECTS a known line mix (terminal-punct body line, short
    // line, compliant keeper, javascript line, brace line) so every rule
    // fires; the rewritten text byte-compares. Strict
    "c4_clean_lines" -> ((s: SparkSession, dir: String) => {
      val dirty = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit(".\nshort line\nThis kept line has enough words here.\n" +
          "A javascript mention drops this line now.\n" +
          "Brace { kills this line as well here.")).as("text"))
      graft.pipeline.TextAnalysis.c4CleanLines(dirty, "text",
          minWordsPerLine = 3, minLinesPerDoc = 2)
        .select("doc_id", "text_clean", "n_lines", "n_lines_kept", "doc_keep")
        .orderBy("doc_id")
    }),

    // the Gopher REPETITION pack (the within-doc half): 13 fractions +
    // composite boolean, all ratios of exact integers — strict
    "text_repetition_rules" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.TextAnalysis.withRepetitionRules(docs(s, dir),
          "doc_id", "text")
        .select((Seq("doc_id", "rep_dup_line_frac", "rep_dup_line_char_frac",
          "rep_dup_para_frac", "rep_dup_para_char_frac") ++
          (2 to 4).map(n => s"rep_top_${n}gram_frac") ++
          (5 to 10).map(n => s"rep_dup_${n}gram_frac") :+
          "gopher_repetition_pass").map(col): _*)
        .orderBy("doc_id")),

    // per-group heavy hitters: tokens with >= 2% of EACH language slice's
    // token mass — fully relational (per-group MG partials, thresholds
    // joined in, nothing collects), exact, so the grouped HAVING replays
    "heavy_hitters_by_lang" -> ((s: SparkSession, dir: String) => {
      val toks = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      // expectedGroups: languages are a bounded set (the fixture has ~10;
      // ISO has a few hundred) — the hint skips the gate's estimate scan
      graft.pipeline.HeavyHitters.frequentItemsByGroup(toks, "lang", "token",
          phi = 0.02, expectedGroups = 512L)
        .orderBy("lang", "token")
    }),

    // ExactSubstr at CHARACTER granularity (Lee et al. 2022): maximal
    // corpus-wide duplicated spans of >= 25 chars per doc. The fixture
    // corpus's small vocab makes ~300 spans arise naturally (including a
    // handful of wholly-duplicated docs). Strict: the rolling-hash
    // candidate set is verified on the gram string, so the span set equals
    // the brute-force SQL definition exactly
    "dedup_substr_spans" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.SubstrDedup.dupSpans(docs(s, dir), "doc_id", "text",
          minLength = 25)
        .orderBy("doc_id", "span_start")),

    // the cut form: every duplicated span removed from every occurrence
    // (the published tool's aggressive default — wholly-duplicated docs
    // clean to ''). Strict: rewritten text byte-compares against the
    // segment-reassembly SQL replay
    "dedup_substr" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.SubstrDedup.dedupSubstrings(docs(s, dir), "doc_id",
          "text", minLength = 25)
        .orderBy("doc_id")),

    // ExactSubstr at TOKEN granularity (the published tool's actual unit):
    // duplicated >= 5-token windows cut everywhere; affected docs
    // reassemble from surviving tokens with single spaces. Strict: token
    // positions, island merge, and the ordered string_agg reassembly all
    // replay relationally
    "dedup_substr_tokens" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.SubstrDedup.dedupTokenSubstrings(docs(s, dir), "doc_id",
          "text", minTokens = 5)
        .orderBy("doc_id")),

    // the content-PRESERVING policy: each duplicated gram's corpus-wide
    // first occurrence (min (doc_id, p) — dedupParagraphs' winner rule)
    // survives, so one canonical copy of every shared block remains.
    // Strict: the winner exclusion replays as a row_number window
    "dedup_substr_keepfirst" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.SubstrDedup.dedupSubstrings(docs(s, dir), "doc_id",
          "text", minLength = 25, keepFirst = true)
        .orderBy("doc_id")),

    // DSIR importance weights (Xie et al. 2023): target = the corpus's
    // lang='en' slice, raw = the whole corpus; hashed unigram+bigram
    // buckets (md5 2-hex prefix, 256 buckets), Laplace alpha=1. Strict:
    // the per-doc fold runs in TEXT ORDER on both engines (the
    // text_trigram_ll technique), and the model is pure relational
    // arithmetic over bucket counts
    "dsir_weights" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      // single-pass slice fit (r18): target = the corpus's en slice, so
      // one flagged explode replaces the raw-pass + target-pass pair
      val model = graft.pipeline.Dsir.fitLogRatios(
        d, col("lang") === "en", "text", hexChars = 2, alpha = 1.0)
      graft.pipeline.Dsir.withImportanceWeight(d, "text", model)
        .select(col("doc_id"), col("n_features"),
          (round(col("dsir_weight") + 0.000000001, 4) + 0.0).as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // DSIR Gumbel-top-n resample: same model; selection key = weight +
    // a deterministic standard Gumbel derived from md5(doc_id) (exact
    // integer-in-double arithmetic on both engines) → strict ranks
    "dsir_resample" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      graft.pipeline.Dsir.resample(d, "doc_id", "text",
          col("lang") === "en", n = 20, hexChars = 2, alpha = 1.0)
        .select("rank", "doc_id")
        .orderBy("rank")
    })
  )

  /** The ngram-jaccard pair graph's transitive closure as a reusable WITH
    * prefix ending in `reach(id, r)` — r reaches id through the
    * symmetrized near-dup pair graph. */
  private val ComponentsOracleCte: String =
    """WITH RECURSIVE s AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |      ELSE [array_to_string(toks[i+1:i+2], ' ')
      |            FOR i IN generate_series(0, len(toks)-2)] END) AS sh
      |  FROM (SELECT doc_id,
      |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
      |        FROM documents)
      |),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.5 * greatest(len(a.sh), len(b.sh))
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.5
      |),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL SELECT b AS src, a AS dst FROM pairs
      |),
      |reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id
      |)""".stripMargin

  /** The corpus-clean mirror as a reusable WITH prefix ending in a
    * `cleaned(doc_id, lang_pred, quality_score, n_chars, text)` CTE —
    * composed oracles (clean → pack) share the stage verbatim, so the
    * chained strict checks cannot drift from the single-stage one. */
  private val CleanOracleCte: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    string_split_regex(lower(text), '\s+') AS toks,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS cjk,
      |    CAST(length(regexp_replace(lower(text), '[^a-z\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio
      |  FROM documents
      |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      |), s AS (
      |  SELECT doc_id, n_chars, cjk, alpha_ratio,
      |    greatest(len(toks), 1) AS n_tokens,
      |    len(list_intersect(toks, ['the','and','of','to','in','is','that','it','was','for','with','a'])) AS s_en,
      |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von'])) AS s_de,
      |    len(list_intersect(toks, ['le','la','les','et','est','un','une','dans','que','pour','des','du'])) AS s_fr,
      |    len(list_intersect(toks, ['el','los','las','de','que','y','en','un','una','es','por','con'])) AS s_es
      |  FROM t
      |), scored AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN cjk > 0.3 THEN 'zh'
      |         WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
      |         WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
      |         WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
      |         WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
      |         ELSE 'es' END AS lang_pred,
      |    round(least(n_chars / 500.0, 1.0) * 0.3
      |        + least(CAST(s_en + s_de + s_fr + s_es AS DOUBLE) / 5.0, 1.0) * 0.2
      |        + alpha_ratio * 0.3
      |        + (CASE WHEN n_chars / n_tokens BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
      |        + 0.000000001, 4) AS quality_score
      |  FROM s
      |), cleaned AS (
      |  SELECT sc.doc_id, sc.lang_pred, sc.quality_score, sc.n_chars, d.text
      |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
      |  WHERE sc.quality_score >= 0.5
      |    AND sc.lang_pred IN ('en', 'de', 'fr', 'es')
      |    AND sc.n_chars >= 20
      |)""".stripMargin

  /** Centroids the `corpus_clusters` query trained this process, stashed
    * so the oracle (dumped AFTER the queries run, see `graft.Verify`) can
    * inline them as double literals — training is driver-side Scala, but
    * the assignment + counts then replay exactly in SQL. */
  @volatile private var corpusClusterCentroids: Option[Array[(Int, Array[Float])]] = None

  private def corpusClustersOracleSql: Option[(String, String)] =
    corpusClusterCentroids.map { cents =>
      val values = cents.map { case (cid, v) =>
        // Float→Double widening is exact; Double.toString round-trips, so
        // DuckDB parses back the identical double the assignment used
        s"($cid, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n        |  ")
      "corpus_clusters" ->
        s"""WITH c(cid, cv) AS (VALUES
           |  $values
           |), d AS (
           |  SELECT e.vec_id, c.cid,
           |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist
           |  FROM embeddings e CROSS JOIN c
           |), r AS (
           |  SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |  FROM d
           |)
           |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
           |FROM r WHERE rn = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin
    }

  /** Same stash-and-inline contract for the distributed-Lloyd variant. */
  @volatile private var corpusClustersFullCentroids: Option[Array[(Int, Array[Float])]] = None

  private def corpusClustersFullOracleSql: Option[(String, String)] =
    corpusClustersFullCentroids.map { cents =>
      val values = cents.map { case (cid, v) =>
        s"($cid, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n        |  ")
      "corpus_clusters_full" ->
        s"""WITH c(cid, cv) AS (VALUES
           |  $values
           |), d AS (
           |  SELECT e.vec_id, c.cid,
           |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist
           |  FROM embeddings e CROSS JOIN c
           |), r AS (
           |  SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |  FROM d
           |)
           |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
           |FROM r WHERE rn = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin
    }

  /** Raw (unrounded) deflate ratios the `text_deflate` query computed
    * driver-side this process (same stash-and-inline contract as
    * [[corpusClusterCentroids]]). */
  @volatile private var textDeflateExpected: Option[Array[(Long, Double)]] = None

  /** text_deflate replayed against the inlined kernel outputs: raw ratios
    * ride in as full-precision double literals (Double.toString round-trips
    * exactly), and the ORACLE applies the same `round(r + 1e-9, 4)` the
    * Spark side does — the cross-engine rounding pattern every other strict
    * float query here uses. The inner join against `documents` anchors the
    * row set: a stash that missed a doc shrinks the oracle → rows mismatch,
    * never a silent pass. */
  private def textDeflateOracleSql: Option[(String, String)] =
    textDeflateExpected.map { exp =>
      val values = exp.map { case (id, r) => s"($id, ${r}::DOUBLE)" }
        .mkString(", ")
      "text_deflate" ->
        s"""WITH exp(doc_id, r) AS (VALUES $values)
           |SELECT d.doc_id, round(e.r + 1e-9, 4) AS deflate_ratio
           |FROM documents d JOIN exp e ON d.doc_id = e.doc_id
           |ORDER BY d.doc_id""".stripMargin
    }

  /** Centroids the `semantic_dedup_clustered` query trained this process
    * (same stash-and-inline contract as [[corpusClusterCentroids]]). */
  @volatile private var semanticDedupCentroids: Option[Array[(Int, Array[Float])]] = None

  /** The clustered SemDeDup replayed in SQL against the inlined centroids:
    * assignment (argmin L2, first-min tie-break) → maxCluster pass-through
    * (oversized clusters never drop nor get dropped) → within-cluster
    * pairs with a smaller-id neighbor above the cosine threshold drop. */
  private def semanticDedupClusteredOracleSql: Option[(String, String)] =
    semanticDedupCentroids.map { cents =>
      val values = cents.map { case (cid, v) =>
        s"($cid, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n        |  ")
      "semantic_dedup_clustered" ->
        s"""WITH c(cid, cv) AS (VALUES
           |  $values
           |), d AS (
           |  SELECT e.vec_id, c.cid,
           |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist
           |  FROM embeddings e CROSS JOIN c
           |), asg AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d) WHERE rn = 1
           |), m AS (
           |  SELECT a.vec_id, a.cid FROM asg a
           |  JOIN (SELECT cid FROM asg GROUP BY cid
           |        HAVING count(*) <= 10000) ok USING (cid)
           |), drops AS (
           |  SELECT DISTINCT y.vec_id
           |  FROM m x JOIN m y USING (cid)
           |  JOIN embeddings ea ON ea.vec_id = x.vec_id
           |  JOIN embeddings eb ON eb.vec_id = y.vec_id
           |  WHERE x.vec_id < y.vec_id
           |    AND list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
           |                               CAST(eb.embedding AS DOUBLE[])) > 0.42
           |)
           |SELECT e.vec_id FROM embeddings e
           |WHERE NOT EXISTS (SELECT 1 FROM drops dr WHERE dr.vec_id = e.vec_id)
           |ORDER BY vec_id""".stripMargin
    }

  def oracleSql: Map[String, String] = corpusClustersOracleSql.toMap ++
    corpusClustersFullOracleSql.toMap ++
    semanticDedupClusteredOracleSql.toMap ++ textDeflateOracleSql.toMap ++ Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_word_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // prior snapshot (odd ids) wins on text equality; even docs survive
    "dedup_incremental" ->
      """SELECT n.doc_id, n.n_chars FROM documents n
        |WHERE NOT EXISTS (SELECT 1 FROM documents p
        |                  WHERE p.doc_id % 2 = 1 AND p.text = n.text)
        |ORDER BY n.doc_id""".stripMargin,

    // the Bloom form must reproduce the exact result on this fixture
    // (fpp pinned far below one expected false positive)
    "dedup_incremental_bloom" ->
      """SELECT n.doc_id, n.n_chars FROM documents n
        |WHERE NOT EXISTS (SELECT 1 FROM documents p
        |                  WHERE p.doc_id % 2 = 1 AND p.text = n.text)
        |ORDER BY n.doc_id""".stripMargin,

    // same hit semantics as the exact path — the Bloom run must reproduce
    // it exactly on this fixture (fpp pinned far below one expected FP)
    "decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i+1:i+8], ' ')
        |               FOR i IN generate_series(0, len(toks)-8)] END)) AS sh
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents)
        |), bench AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
        |)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
        |FROM sh s JOIN bench b USING (sh)
        |GROUP BY s.doc_id
        |ORDER BY doc_id""".stripMargin,

    // BPE phase-1 histogram: same [a-z0-9]+ split, same total order
    "bpe_word_hist" ->
      """SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
        |  word, cnt FROM (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |    FROM documents) t
        |  GROUP BY word) g
        |QUALIFY rank <= 50 ORDER BY rank""".stripMargin,

    // unigram trainer phase 0: count-weighted substring histogram over
    // the bounded word histogram (nested comprehension = every substring
    // of length <= 8 per position, multiplicity kept — exactly the
    // engine's subCounts loop); integer counts, total rank order
    "unigram_seed_hist" ->
      """WITH hist AS (
        |  SELECT word, cnt FROM (
        |    SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |      FROM documents) t
        |    GROUP BY word) g
        |  WHERE cnt >= 2
        |  ORDER BY cnt DESC, word LIMIT 500
        |), sub AS (
        |  SELECT cnt, unnest(flatten(
        |    [[word[j:k] FOR k IN generate_series(j, least(length(word), j+7))]
        |     FOR j IN generate_series(1, length(word))])) AS piece
        |  FROM hist
        |), agg AS (
        |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS piece_cnt FROM sub GROUP BY piece
        |)
        |SELECT CAST(row_number() OVER (ORDER BY piece_cnt DESC, piece) AS BIGINT) AS rank,
        |  piece, piece_cnt
        |FROM agg
        |QUALIFY rank <= 200 ORDER BY rank""".stripMargin,

    // the classifier scorer replayed with pinned SQL-arithmetic weights:
    // md5 feature buckets (the proven '0x'||substr(md5) idiom), per-doc
    // L1 normalization, ascending-bucket ordered fold (bit-identical
    // summation order to Model.score), sigmoid; tokenless/NULL docs get
    // sigmoid(bias) via the LEFT JOIN
    "quality_score_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_concat(ts,
        |    [ts[i] || ' ' || ts[i+1] FOR i IN generate_series(1, len(ts) - 1)])) AS g
        |  FROM toks WHERE len(ts) > 0
        |), bucketed AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 64 AS INT) AS h,
        |    count(*) AS c
        |  FROM grams GROUP BY doc_id, h
        |), tot AS (
        |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS total FROM bucketed GROUP BY doc_id
        |), z AS (
        |  SELECT b.doc_id,
        |    list_reduce(list_prepend(CAST(0.1 AS DOUBLE),
        |      list((((h % 17) - 8) / 10.0) * (CAST(c AS DOUBLE) / total) ORDER BY h)),
        |      (a, x) -> a + x) AS zval
        |  FROM bucketed b JOIN tot USING (doc_id)
        |  GROUP BY b.doc_id, total
        |)
        |SELECT d.doc_id,
        |  round(CASE WHEN z.zval IS NULL THEN 1.0 / (1.0 + exp(-0.1))
        |             ELSE 1.0 / (1.0 + exp(-z.zval)) END, 6) AS quality_prob
        |FROM documents d LEFT JOIN z ON d.doc_id = z.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the trigram model replayed: counts over all docs' char trigrams,
    // per-doc left-to-right ordered fold of -ln(c/total) (lock-step
    // unnest keeps text positions; list(... ORDER BY pos) + list_reduce
    // reproduces the engine's summation order exactly)
    "text_trigram_ll" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents
        |),
        |g AS (
        |  SELECT doc_id, unnest([i FOR i IN generate_series(0, length(s) - 3)]) AS pos,
        |         unnest([s[i+1:i+3] FOR i IN generate_series(0, length(s) - 3)]) AS gram
        |  FROM norm WHERE length(s) >= 3
        |),
        |cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt),
        |folded AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(-ln(CAST(c AS DOUBLE) / total) ORDER BY pos)), (a, b) -> a + b) AS ssum,
        |    count(*) AS ng
        |  FROM g JOIN cnt USING (gram) CROSS JOIN tot
        |  GROUP BY doc_id
        |)
        |SELECT n.doc_id,
        |  CAST(coalesce(f.ng, 0) AS BIGINT) AS n_trigrams,
        |  round(f.ssum / f.ng + 0.000000001, 4) AS trigram_logloss
        |FROM norm n LEFT JOIN folded f USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin,

    // same trigram-LM arithmetic as text_trigram_ll, then tertiles over
    // the ROUNDED log-loss (both engines rank identical values; ties
    // ordered by doc_id; null-ll docs excluded)
    "quality_perplexity_buckets" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents
        |),
        |g AS (
        |  SELECT doc_id, unnest([i FOR i IN generate_series(0, length(s) - 3)]) AS pos,
        |         unnest([s[i+1:i+3] FOR i IN generate_series(0, length(s) - 3)]) AS gram
        |  FROM norm WHERE length(s) >= 3
        |),
        |cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt),
        |folded AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(-ln(CAST(c AS DOUBLE) / total) ORDER BY pos)), (a, b) -> a + b) AS ssum,
        |    count(*) AS ng
        |  FROM g JOIN cnt USING (gram) CROSS JOIN tot
        |  GROUP BY doc_id
        |),
        |ll AS (
        |  SELECT doc_id, round(ssum / ng + 0.000000001, 4) AS trigram_logloss
        |  FROM folded
        |)
        |SELECT doc_id, trigram_logloss,
        |  CAST(ntile(3) OVER (ORDER BY trigram_logloss, doc_id) AS BIGINT) AS bucket
        |FROM ll ORDER BY doc_id""".stripMargin,

    // Karp-Rabin winnowing fingerprint replayed exactly: per 16-char
    // window, fold (h*B + c) mod 2^64 over codepoints in HUGEINT (BMP
    // codepoints == the JVM's UTF-16 units), map each window hash to
    // signed 64 (the engine's Long), take the signed min
    "doc_fingerprint_rolling" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents
        |),
        |chars AS (
        |  SELECT doc_id, [unicode(c) FOR c IN split(s, '')] AS cs, length(s) AS n FROM norm
        |),
        |hashed AS (
        |  SELECT doc_id,
        |    CASE WHEN n <= 16 THEN
        |      (SELECT x - CASE WHEN x >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END
        |       FROM (SELECT list_reduce(list_prepend(CAST(0 AS HUGEINT), [CAST(c AS HUGEINT) FOR c IN cs]),
        |         (h, c) -> (h * 1099511628211 + c) % 18446744073709551616) AS x))
        |    ELSE
        |      list_min([
        |        x - CASE WHEN x >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END
        |        FOR x IN [
        |          list_reduce(list_prepend(CAST(0 AS HUGEINT), [CAST(c AS HUGEINT) FOR c IN cs[i+1:i+16]]),
        |            (h, c) -> (h * 1099511628211 + c) % 18446744073709551616)
        |          FOR i IN generate_series(0, n - 16)
        |        ]
        |      ])
        |    END AS fp
        |  FROM chars
        |)
        |SELECT doc_id, CAST(fp AS BIGINT) AS fp_rolling FROM hashed ORDER BY doc_id""".stripMargin,

    "neardup_lsh" -> neardupLshOracleSql,

    // the recall measurement itself replays: LSH verified pairs are a
    // subset of the exact set by construction, so n_common counts the
    // intersection and recall = n_common / n_exact, pinned cross-engine
    "neardup_lsh_recall" ->
      s"""$NeardupLshPairsCte,
        |exact AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) > 0.42
        |), lshp AS (SELECT DISTINCT a, b FROM lshv),
        |com AS (SELECT a, b FROM exact INTERSECT SELECT a, b FROM lshp)
        |SELECT
        |  CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
        |  CAST((SELECT count(*) FROM lshp) AS BIGINT) AS n_lsh,
        |  CAST((SELECT count(*) FROM com) AS BIGINT) AS n_common,
        |  round(CAST((SELECT count(*) FROM com) AS DOUBLE)
        |    / greatest((SELECT count(*) FROM exact), 1) + 0.000000001, 4) AS recall""".stripMargin,

    "neardup_projected" -> neardupProjectedOracleSql,

    "neardup_cosine" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) > 0.42
        |ORDER BY a, b""".stripMargin,

    // semantic decontamination: same cross join + per-corpus-row argmax
    // window (ties by bench id) in doubles; float-vs-double parity per
    // the neardup_cosine argument, and the argmax tie-break only depends
    // on ordering, which both engines compute monotonically
    "contamination_semantic" ->
      """WITH b AS (
        |  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 37 = 0
        |), hits AS (
        |  SELECT c.vec_id, b.bench_id,
        |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings c, b
        |  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) > 0.42
        |), best AS (
        |  SELECT vec_id, bench_id, round(cs, 4) AS cos_sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bench_id) AS rn
        |  FROM hits
        |)
        |SELECT vec_id, bench_id, cos_sim FROM best WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // exhaustive probes make the index path exactly the broadcast argmax:
    // the oracle IS contamination_semantic's (index scores 1 - dot over
    // float-normalized vectors; double parity per neardup_ann_exact)
    "contamination_semantic_ann" ->
      """WITH b AS (
        |  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 37 = 0
        |), hits AS (
        |  SELECT c.vec_id, b.bench_id,
        |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings c, b
        |  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) > 0.42
        |), best AS (
        |  SELECT vec_id, bench_id, round(cs, 4) AS cos_sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bench_id) AS rn
        |  FROM hits
        |)
        |SELECT vec_id, bench_id, cos_sim FROM best WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    "decontaminate_semantic" ->
      """WITH b AS (
        |  SELECT embedding FROM embeddings WHERE vec_id % 37 = 0
        |), flagged AS (
        |  SELECT DISTINCT c.vec_id
        |  FROM embeddings c, b
        |  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) > 0.42
        |)
        |SELECT e.vec_id FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM flagged)
        |ORDER BY e.vec_id""".stripMargin,

    // exhaustive probes (nprobe = nlist) make the index path exact, so the
    // oracle IS the all-pairs definition. The index scores 1 - dot over
    // FLOAT-normalized vectors; list_cosine_similarity runs in doubles —
    // they agree to ~1e-7, far from any 0.00005 rounding boundary in the
    // fixture, so the round(4) values compare equal.
    "neardup_ann_exact" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) > 0.42
        |ORDER BY a, b""".stripMargin,

    // langId mirrored stopword-for-stopword: list_intersect = Spark's
    // array_intersect (distinct elements in both), CASE order = the fixed
    // language priority, CJK ratio decided first.
    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS toks,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, cjk,
        |    len(list_intersect(toks, ['the','and','of','to','in','is','that','it','was','for','with','a'])) AS s_en,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von'])) AS s_de,
        |    len(list_intersect(toks, ['le','la','les','et','est','un','une','dans','que','pour','des','du'])) AS s_fr,
        |    len(list_intersect(toks, ['el','los','las','de','que','y','en','un','una','es','por','con'])) AS s_es
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0.3 THEN 'zh'
        |       WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
        |       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    // quality score mirrored term-for-term in DOUBLE; round(4) both sides
    "text_quality" -> s"$QualityOracleBody ORDER BY doc_id",

    // non-distinct trigram list (repetition needs duplicates), mirrored
    // comprehension-for-comprehension
    "text_repetition" ->
      """SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |      / greatest(len(grams), 1) + 0.000000001, 4) AS repetition_ratio
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i+1:i+3], ' ')
        |               FOR i IN generate_series(0, len(toks)-3)] END AS grams
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // survivors = rows with no more-similar smaller-id neighbor; the
    // cosine arithmetic (DOUBLE cast) matches the neardup_cosine mirror
    "semantic_dedup" ->
      """SELECT e.vec_id FROM embeddings e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings a
        |  WHERE a.vec_id < e.vec_id
        |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(e.embedding AS DOUBLE[])) > 0.42)
        |ORDER BY vec_id""".stripMargin,

    // same shingle comprehension as ngram_jaccard (8-wide slices); the
    // benchmark side is the distinct shingle set of every 50th doc
    "decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i+1:i+8], ' ')
        |               FOR i IN generate_series(0, len(toks)-8)] END)) AS sh
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents)
        |), bench AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
        |)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
        |FROM sh s JOIN bench b USING (sh)
        |GROUP BY s.doc_id
        |ORDER BY doc_id""".stripMargin,

    // identical pattern strings as TextAnalysis.{EmailRe,Ipv4Re,PhoneRe}
    // (RE2-compatible subset); counts on the dirty text, scrub order
    // email → ip → phone on both engines
    "pii_scrub" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |         || ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}-\d{3}-\d{3,4}', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\+\d{1,3}-\d{3}-\d{3,4}')) AS BIGINT) AS n_phones
        |FROM dirty ORDER BY doc_id""".stripMargin,

    // the composed cleaning pass reuses the text_langid and text_quality
    // mirrors verbatim, plus the md5 first-id dedup winner set
    "corpus_clean" ->
      s"""$CleanOracleCte
        |SELECT doc_id, lang_pred, quality_score FROM cleaned
        |ORDER BY doc_id""".stripMargin,

    // end-to-end composition: the SAME cleaned set, then per-language
    // concat-and-chunk packing — one strict oracle over two chained
    // pipeline stages (any drift in either stage breaks the match)
    "corpus_clean_pack" ->
      s"""$CleanOracleCte
        |SELECT doc_id, lang_pred, n_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS seq_id,
        |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS seq_offset
        |FROM (
        |  SELECT doc_id, lang_pred,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT))
        |      OVER (PARTITION BY lang_pred ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM cleaned) t
        |ORDER BY doc_id""".stripMargin,


    // md5 hex of the SAME input string is engine-identical, so the
    // deterministic samplers mirror exactly; thresholds are
    // round(f * 65536) as %04x ('zzzz' sorts above hex = keep-all)
    "corpus_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin,

    "corpus_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '199a'
        |       WHEN lang = 'zh' THEN '8000'
        |       ELSE 'zzzz' END
        |ORDER BY doc_id""".stripMargin,

    // count^0.5 weights normalized to the 300-row budget, clamped at 1,
    // rounded to the same 6 decimals the Scala side pins
    "corpus_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, pow(CAST(n_docs AS DOUBLE), 0.5) AS wt FROM c)
        |SELECT lang, n_docs,
        |  round(least(1.0, (300.0 * wt / (SELECT sum(wt) FROM w)) / n_docs) * 1000000)
        |    / 1000000 AS fraction
        |FROM w ORDER BY lang""".stripMargin,

    // same running-sum shape as corpus_token_budget; the start offset of
    // each doc in the concatenated per-language stream, chunked every 512
    "corpus_pack" ->
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS seq_id,
        |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS seq_offset
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // same ws-token arithmetic as text_stats; ordered-frame running sum
    "corpus_token_budget" ->
      """SELECT doc_id, lang, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 2000
        |ORDER BY doc_id""".stripMargin,

    // composed mirror: the SAME cleaned CTE, chunk arithmetic, and
    // md5-bucket shard rule, chained — stage composition cannot drift
    // from the single-stage strict checks that share these fragments
    "corpus_e2e" ->
      s"""$CleanOracleCte,
        |ch AS (
        |  SELECT doc_id, lang_pred, chunk_id,
        |    CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_id AS VARCHAR) AS ck
        |  FROM (
        |    SELECT doc_id, lang_pred,
        |      UNNEST(range(0, CAST(greatest(ceil((n - 64) / 48.0), 0) AS BIGINT) + 1)) AS chunk_id
        |    FROM (SELECT doc_id, lang_pred,
        |            len(string_split(text, ' ')) AS n FROM cleaned))
        |), sh AS (
        |  SELECT doc_id, chunk_id, lang_pred, ck, md5('42:' || ck) AS h,
        |    CAST(CAST(('0x' || substring(md5('42:' || ck), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM ch
        |)
        |SELECT doc_id, chunk_id, lang_pred, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, ck) AS BIGINT) AS shard_pos
        |FROM sh ORDER BY doc_id, chunk_id""".stripMargin,

    // per-doc codepoint histogram → -Σ p·log2(p); same +1e-9 round(4).
    // LEFT JOIN back to documents (like text_trigram_ll): an empty/NULL
    // text explodes to no char rows and would otherwise vanish from the
    // oracle while the Spark side emits 0.0 for that doc
    "text_entropy" ->
      """SELECT d.doc_id,
        |  coalesce(e.char_entropy, 0.0) AS char_entropy
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, round(-sum(p * log2(p)) + 0.000000001, 4) AS char_entropy
        |  FROM (
        |    SELECT doc_id,
        |      CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY doc_id) AS p
        |    FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |    GROUP BY doc_id, c)
        |  GROUP BY doc_id) e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same split-on-space token stream; range() mirrors sequence(), list
    // slicing mirrors slice() (both clamp at the end of the array)
    "corpus_chunk" ->
      """SELECT doc_id, chunk_id, chunk_id * 48 AS chunk_start,
        |  CAST(len(toks[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT) AS chunk_len,
        |  array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, toks,
        |    UNNEST(range(0, CAST(greatest(ceil((n - 64) / 48.0), 0) AS BIGINT) + 1)) AS chunk_id
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |          len(string_split(text, ' ')) AS n
        |        FROM documents))
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // shard = md5-bucket of "42:id" (first 15 hex digits mod 8), position
    // = rank of the same hash within the shard — both pure id functions
    "corpus_shard" ->
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS shard_pos
        |FROM (
        |  SELECT doc_id, h,
        |    CAST(CAST(('0x' || substring(h, 1, 15)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM (SELECT doc_id,
        |          md5('42:' || CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // the ngram_jaccard pair predicate, transitively closed by a recursive
    // CTE (reach(id, r): r reaches id through the symmetrized pair graph),
    // then MIN(reachable) = the same group representative the Spark-side
    // large-star/small-star rounds converge to
    "dedup_components" ->
      s"""$ComponentsOracleCte
        |SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    // the cleaning ACTION over the same closure: keep every document
    // except non-representative group members
    "dedup_components_clean" ->
      s"""$ComponentsOracleCte
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT id FROM reach GROUP BY id HAVING id != MIN(r))
        |ORDER BY doc_id""".stripMargin,

    // the quality-winner rule over the same closure: rank each group by
    // (mirrored quality_score DESC, id) and drop everything after rank 1
    "dedup_components_best" ->
      s"""$ComponentsOracleCte,
        |q AS ($QualityOracleBody),
        |g AS (SELECT id, MIN(r) AS gid FROM reach GROUP BY id),
        |losers AS (
        |  SELECT g.id FROM g JOIN q ON q.doc_id = g.id
        |  QUALIFY row_number() OVER (
        |    PARTITION BY g.gid ORDER BY q.quality_score DESC, g.id) > 1)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // mirrored shingle-for-shingle: list comprehension = Spark transform/
    // sequence/slice; list_distinct/list_intersect = array_distinct/
    // array_intersect (distinct-set semantics both sides); the size-ratio
    // prefilter and the J >= 0.5 cut are exact double comparisons
    // same tokenization CTE as ngram_jaccard; doc frequency of each
    // distinct bigram, rolled back up per doc
    "dedup_shared_ngrams" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i+1:i+2], ' ')
        |            FOR i IN generate_series(0, len(toks)-2)] END) AS sh
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents)
        |),
        |g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
        |f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    + 0.000000001, 4) AS shared_frac
        |FROM g JOIN f USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // replays the md5 simhash bit-for-bit: same per-token digest nibbles,
    // same signed bit votes, same 16-bit chunk packing — generated
    // programmatically because it is 64 mechanical sum terms
    "dedup_simhash_md5" -> simhashMd5OracleSql,

    // replays the md5 minhash family end-to-end: same shingles, same
    // 16-hex-prefix signatures, same band keys, same 2..maxBucket bucket
    // rule, same exact-Jaccard verification arithmetic
    "dedup_minhash_md5" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i+1:i+2], ' ')
        |            FOR i IN generate_series(0, len(toks)-2)] END) AS sh
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents)
        |), sig AS (
        |  SELECT doc_id,
        |    [list_min([substr(md5(CAST(i AS VARCHAR) || ':' || g), 1, 16) FOR g IN sh])
        |     FOR i IN generate_series(0, 63)] AS sg
        |  FROM s
        |), banded AS (
        |  SELECT doc_id, b AS band, array_to_string(sg[b*4+1:b*4+4], '') AS bkey
        |  FROM sig, generate_series(0, 15) t(b)
        |), ok_buckets AS (
        |  SELECT band, bkey FROM banded GROUP BY band, bkey
        |  HAVING count(*) BETWEEN 2 AND 1000
        |), cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM banded x
        |  JOIN ok_buckets z ON z.band = x.band AND z.bkey = x.bkey
        |  JOIN banded y ON y.band = x.band AND y.bkey = x.bkey AND x.doc_id < y.doc_id
        |)
        |SELECT c.a, c.b,
        |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE))
        |      + 0.000000001, 4) AS jaccard
        |FROM cands c JOIN s sa ON sa.doc_id = c.a JOIN s sb ON sb.doc_id = c.b
        |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i+1:i+2], ' ')
        |            FOR i IN generate_series(0, len(toks)-2)] END) AS sh
        |  FROM (SELECT doc_id,
        |          [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS toks
        |        FROM documents)
        |)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
        |      + 0.000000001, 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.5 * greatest(len(a.sh), len(b.sh))
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.5
        |ORDER BY a, b""".stripMargin,

    // paragraph dedup replayed: same injected boilerplate, winner = first
    // (doc_id, position) per exact paragraph via a window, reassembly =
    // ordered string_agg — byte-compares against the engine's rewrite
    "dedup_paragraphs" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'shared boilerplate terms of service apply'
        |      || CASE WHEN doc_id % 7 = 3
        |           THEN chr(10) || 'promo subscribe now for updates' ELSE '' END AS text
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id, unnest([i FOR i IN generate_series(1, len(ps))]) AS pidx,
        |         unnest(ps) AS para
        |  FROM (SELECT doc_id,
        |          [p FOR p IN string_split_regex(text, '\n+') IF len(p) > 0] AS ps
        |        FROM dirty)
        |), kept AS (
        |  SELECT doc_id, pidx, para FROM paras
        |  QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) = 1
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(para, chr(10) ORDER BY pidx) AS text,
        |         CAST(count(*) AS BIGINT) AS n_paras_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text,
        |  CAST(len([p FOR p IN string_split_regex(d.text, '\n+') IF len(p) > 0]) AS BIGINT) AS n_paras,
        |  coalesce(r.n_paras_kept, 0) AS n_paras_kept
        |FROM dirty d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // heavy hitters replayed as the definition: explode tokens, HAVING
    // count >= ceil(phi*N) — exactness of the sketch+recount makes the
    // brute-force SQL the strict mirror
    "heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
        |), t AS (
        |  SELECT token FROM toks WHERE length(token) > 0
        |), n AS (SELECT count(*) AS n FROM t)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY token
        |HAVING count(*) >= ceil(0.01 * (SELECT n FROM n))
        |ORDER BY token""".stripMargin,

    // the line cleaner replayed: same injected mix, comprehension filter
    // with the four C4 predicates, array_to_string reassembly
    "c4_clean_lines" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || '.' || chr(10) || 'short line' || chr(10)
        |    || 'This kept line has enough words here.' || chr(10)
        |    || 'A javascript mention drops this line now.' || chr(10)
        |    || 'Brace { kills this line as well here.' AS text
        |  FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    [l FOR l IN [trim(x) FOR x IN string_split_regex(text, '\r?\n')]
        |       IF len(l) > 0] AS ls
        |  FROM dirty
        |), k AS (
        |  SELECT doc_id, ls,
        |    [l FOR l IN ls IF
        |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
        |        OR ends_with(l, '"'))
        |      AND len([w FOR w IN string_split_regex(l, '\s+')
        |               IF len(w) > 0]) >= 3
        |      AND NOT contains(lower(l), 'javascript')
        |      AND NOT contains(lower(l), 'lorem ipsum')
        |      AND NOT contains(l, '{')] AS ks
        |  FROM b
        |)
        |SELECT doc_id, array_to_string(ks, chr(10)) AS text_clean,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ks) AS BIGINT) AS n_lines_kept,
        |  len(ks) >= 2 AS doc_keep
        |FROM k ORDER BY doc_id""".stripMargin,

    // the repetition pack replayed: per-unit group counts via unnest,
    // per-n gram CTEs generated from the same definitions (word-chars =
    // gram length minus separators), integer-exact sums, capped doubles
    "text_repetition_rules" -> {
      def grCte(n: Int): String =
        s"""gr$n AS (
           |  SELECT doc_id,
           |    arg_max(CASE WHEN c >= 2 THEN c * gch ELSE 0 END,
           |            CASE WHEN c >= 2 THEN c * 10000000000 + c * gch
           |                 ELSE 0 END) AS topch,
           |    sum(CASE WHEN c >= 2 THEN c * gch ELSE 0 END) AS dupch
           |  FROM (SELECT doc_id, g, count(*) AS c, length(g) - ${n - 1} AS gch
           |        FROM (SELECT doc_id,
           |                unnest([array_to_string(ws[i:i+${n - 1}], ' ')
           |                  FOR i IN generate_series(1, len(ws) - ${n - 1})]) AS g
           |              FROM b) GROUP BY doc_id, g)
           |  GROUP BY doc_id)""".stripMargin
      def unitCte(name: String, listCol: String): String =
        s"""$name AS (
           |  SELECT doc_id, sum(c) AS n, count(*) AS d,
           |         sum((c - 1) * len) AS dupch, sum(c * len) AS totch
           |  FROM (SELECT doc_id, u, count(*) AS c, length(u) AS len
           |        FROM (SELECT doc_id, unnest($listCol) AS u FROM b)
           |        GROUP BY doc_id, u)
           |  GROUP BY doc_id)""".stripMargin
      def fr(num: String, den: String): String =
        s"CASE WHEN $den IS NULL OR $den = 0 THEN 0.0 ELSE CAST($num AS DOUBLE) / $den END"
      val fracs = Seq(
        s"${fr("ln.n - ln.d", "ln.n")} AS rep_dup_line_frac",
        s"${fr("ln.dupch", "ln.totch")} AS rep_dup_line_char_frac",
        s"${fr("pr.n - pr.d", "pr.n")} AS rep_dup_para_frac",
        s"${fr("pr.dupch", "pr.totch")} AS rep_dup_para_char_frac") ++
        (2 to 4).map(n =>
          s"${fr(s"coalesce(gr$n.topch, 0)", "w.wch")} AS rep_top_${n}gram_frac") ++
        (5 to 10).map(n =>
          s"least(1.0, ${fr(s"coalesce(gr$n.dupch, 0)", "w.wch")}) AS rep_dup_${n}gram_frac")
      val thresholds = Seq(
        "rep_dup_line_frac" -> 0.30, "rep_dup_line_char_frac" -> 0.20,
        "rep_dup_para_frac" -> 0.30, "rep_dup_para_char_frac" -> 0.20,
        "rep_top_2gram_frac" -> 0.20, "rep_top_3gram_frac" -> 0.18,
        "rep_top_4gram_frac" -> 0.16, "rep_dup_5gram_frac" -> 0.15,
        "rep_dup_6gram_frac" -> 0.14, "rep_dup_7gram_frac" -> 0.13,
        "rep_dup_8gram_frac" -> 0.12, "rep_dup_9gram_frac" -> 0.11,
        "rep_dup_10gram_frac" -> 0.10)
      val passExpr = thresholds.map { case (c, t) => s"$c <= $t" }
        .mkString(" AND ") + " AND wch_pos"
      s"""WITH b AS (
         |  SELECT doc_id,
         |    [x FOR x IN string_split_regex(text, '\\s+') IF len(x) > 0] AS ws,
         |    [l FOR l IN [trim(x) FOR x IN string_split_regex(text, '\\r?\\n')]
         |       IF len(l) > 0] AS lns,
         |    [p FOR p IN [trim(x) FOR x IN string_split_regex(text, '(\\r?\\n){2,}')]
         |       IF len(p) > 0] AS prs
         |  FROM documents
         |), ${unitCte("lnstat", "lns")},
         |${unitCte("prstat", "prs")},
         |wchars AS (
         |  SELECT doc_id, list_sum([len(x) FOR x IN ws]) AS wch FROM b
         |),
         |${(2 to 10).map(grCte).mkString(",\n")}
         |SELECT doc_id, ${(Seq("rep_dup_line_frac", "rep_dup_line_char_frac",
            "rep_dup_para_frac", "rep_dup_para_char_frac") ++
            (2 to 4).map(n => s"rep_top_${n}gram_frac") ++
            (5 to 10).map(n => s"rep_dup_${n}gram_frac")).mkString(", ")},
         |  ($passExpr) AS gopher_repetition_pass
         |FROM (
         |  SELECT b.doc_id, ${fracs.mkString(",\n    ")},
         |    coalesce(w.wch, 0) > 0 AS wch_pos
         |  FROM b
         |  LEFT JOIN lnstat ln USING (doc_id)
         |  LEFT JOIN prstat pr USING (doc_id)
         |  LEFT JOIN wchars w USING (doc_id)
         |  ${(2 to 10).map(n => s"LEFT JOIN gr$n USING (doc_id)").mkString("\n  ")}
         |) ORDER BY doc_id""".stripMargin
    },

    // the rule packs replayed definition-for-definition (list
    // comprehensions for the word/line sets, integer-exact symbol counts,
    // IEEE double fractions — booleans compare exactly)
    "text_quality_rules" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    [w FOR w IN string_split_regex(text, '\s+') IF len(w) > 0] AS ws,
        |    [l FOR l IN [trim(x) FOR x IN string_split_regex(text, '\r?\n')]
        |       IF len(l) > 0] AS ls
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, ws, ls,
        |    len(ws) AS nw, len(ls) AS nl,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
        |  FROM b
        |)
        |SELECT doc_id,
        |  nw > 0 AND nw BETWEEN 50 AND 100000 AS gopher_word_count,
        |  nw > 0 AND (list_sum([len(w) FOR w IN ws])::DOUBLE / nw)
        |    BETWEEN 3.0 AND 10.0 AS gopher_mean_word_len,
        |  nw > 0 AND (hashes::DOUBLE / nw) <= 0.1
        |    AND (ellipses::DOUBLE / nw) <= 0.1 AS gopher_symbol_ratio,
        |  nw > 0 AND (len([l FOR l IN ls IF starts_with(l, '-')
        |      OR starts_with(l, '*') OR starts_with(l, '•')])::DOUBLE / nl) <= 0.9
        |    AS gopher_bullet_lines,
        |  nw > 0 AND (len([l FOR l IN ls IF ends_with(l, '...')
        |      OR ends_with(l, '…')])::DOUBLE / nl) <= 0.3 AS gopher_ellipsis_lines,
        |  nw > 0 AND (len([w FOR w IN ws
        |      IF regexp_matches(w, '[A-Za-z]')])::DOUBLE / nw) >= 0.8
        |    AS gopher_alpha_words,
        |  nw > 0 AND len(list_intersect(list_distinct([lower(w) FOR w IN ws]),
        |      ['the','be','to','of','and','that','have','with'])) >= 2
        |    AS gopher_stop_words,
        |  (nw > 0 AND nw BETWEEN 50 AND 100000)
        |    AND (list_sum([len(w) FOR w IN ws])::DOUBLE / nw) BETWEEN 3.0 AND 10.0
        |    AND (hashes::DOUBLE / nw) <= 0.1 AND (ellipses::DOUBLE / nw) <= 0.1
        |    AND (len([l FOR l IN ls IF starts_with(l, '-')
        |        OR starts_with(l, '*') OR starts_with(l, '•')])::DOUBLE / nl) <= 0.9
        |    AND (len([l FOR l IN ls IF ends_with(l, '...')
        |        OR ends_with(l, '…')])::DOUBLE / nl) <= 0.3
        |    AND (len([w FOR w IN ws
        |        IF regexp_matches(w, '[A-Za-z]')])::DOUBLE / nw) >= 0.8
        |    AND len(list_intersect(list_distinct([lower(w) FOR w IN ws]),
        |        ['the','be','to','of','and','that','have','with'])) >= 2
        |    AS gopher_pass,
        |  CASE WHEN nl = 0 THEN 0.0
        |       ELSE len([l FOR l IN ls IF ends_with(l, '.') OR ends_with(l, '!')
        |         OR ends_with(l, '?') OR ends_with(l, '"')])::DOUBLE / nl
        |  END AS c4_terminal_punct_frac,
        |  contains(text, '{') AS c4_has_brace,
        |  contains(lower(text), 'lorem ipsum') AS c4_has_lorem_ipsum
        |FROM m ORDER BY doc_id""".stripMargin,

    // grouped heavy hitters replayed as the definition: per-lang totals,
    // HAVING against each group's own threshold
    "heavy_hitters_by_lang" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |), t AS (
        |  SELECT lang, token FROM toks
        |  WHERE length(token) > 0 AND lang IS NOT NULL
        |), n AS (SELECT lang, count(*) AS n FROM t GROUP BY lang)
        |SELECT t.lang, t.token, CAST(count(*) AS BIGINT) AS cnt
        |FROM t JOIN n USING (lang)
        |GROUP BY t.lang, t.token, n.n
        |HAVING count(*) >= greatest(1, ceil(0.02 * n.n))
        |ORDER BY lang, token""".stripMargin,

    // ExactSubstr spans replayed by brute force: enumerate every 25-char
    // window, keep windows whose gram occurs >= 2 times corpus-wide, merge
    // per-doc islands (break when the gap between marked starts exceeds L)
    "dedup_substr_spans" ->
      """WITH pos0 AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 24)) AS p, text
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, p, substr(text, CAST(p AS INT), 25) AS gram FROM pos0
        |), dup AS (
        |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, p FROM pos WHERE gram IN (SELECT gram FROM dup)
        |), isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 25
        |         THEN 1 ELSE 0 END AS brk
        |  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        |), isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |       CAST(max(p) + 24 AS BIGINT) AS span_end
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the cut replayed: complement segments between spans (lag window +
    // head/tail), ordered string_agg reassembly — byte-compares
    "dedup_substr" ->
      """WITH pos0 AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 24)) AS p, text
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, p, substr(text, CAST(p AS INT), 25) AS gram FROM pos0
        |), dup AS (
        |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, p FROM pos WHERE gram IN (SELECT gram FROM dup)
        |), isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 25
        |         THEN 1 ELSE 0 END AS brk
        |  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        |), isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |         CAST(max(p) + 24 AS BIGINT) AS span_end
        |  FROM isl2 GROUP BY doc_id, island
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_chars_cut
        |  FROM spans GROUP BY doc_id
        |), segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_start,
        |    span_start - 1 AS seg_end
        |  FROM spans
        |  UNION ALL
        |  SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
        |         any_value(length(d.text)) AS seg_end
        |  FROM spans s JOIN documents d USING (doc_id) GROUP BY s.doc_id
        |), clean AS (
        |  SELECT g.doc_id,
        |    string_agg(CASE WHEN g.seg_end >= g.seg_start
        |      THEN substr(d.text, CAST(g.seg_start AS INT),
        |                  CAST(g.seg_end - g.seg_start + 1 AS INT))
        |      ELSE '' END, '' ORDER BY g.seg_start) AS text_clean
        |  FROM segs g JOIN documents d USING (doc_id) GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN c.doc_id IS NULL THEN d.text ELSE c.text_clean END AS text_clean,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_chars_cut, 0) AS n_chars_cut
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |               LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // token-granularity replayed: lock-step unnest gives token positions,
    // list-slice grams, the same island/segment machinery in token space,
    // NOT EXISTS against spans + ordered string_agg for the reassembly
    "dedup_substr_tokens" ->
      """WITH tl AS (
        |  SELECT doc_id, text,
        |    [t FOR t IN string_split_regex(text, '\s+') IF len(t) > 0] AS ts
        |  FROM documents
        |), pos AS (
        |  SELECT tl.doc_id, i AS p,
        |    array_to_string(tl.ts[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS gram
        |  FROM tl, unnest(generate_series(1, len(tl.ts) - 4)) AS u(i)
        |), dup AS (
        |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, p FROM pos WHERE gram IN (SELECT gram FROM dup)
        |), isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 5
        |         THEN 1 ELSE 0 END AS brk
        |  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        |), isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |         CAST(max(p) + 4 AS BIGINT) AS span_end
        |  FROM isl2 GROUP BY doc_id, island
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_tokens_cut
        |  FROM spans GROUP BY doc_id
        |), t AS (
        |  SELECT doc_id, unnest(ts) AS tok,
        |         unnest(generate_series(1, len(ts))) AS tp
        |  FROM tl
        |), clean AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.tp) AS text_clean
        |  FROM t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = t.doc_id
        |      AND t.tp BETWEEN s.span_start AND s.span_end)
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN d.text
        |       ELSE coalesce(c.text_clean, '') END AS text_clean,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_tokens_cut, 0) AS n_tokens_cut
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |               LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // keep-first replayed: identical to dedup_substr except marked
    // positions exclude each gram's first (doc_id, p) via a window
    "dedup_substr_keepfirst" ->
      """WITH pos0 AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 24)) AS p, text
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, p, substr(text, CAST(p AS INT), 25) AS gram FROM pos0
        |), dup AS (
        |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
        |    FROM pos WHERE gram IN (SELECT gram FROM dup)) t
        |  WHERE rn > 1
        |), isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 25
        |         THEN 1 ELSE 0 END AS brk
        |  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        |), isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |         CAST(max(p) + 24 AS BIGINT) AS span_end
        |  FROM isl2 GROUP BY doc_id, island
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_chars_cut
        |  FROM spans GROUP BY doc_id
        |), segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_start,
        |    span_start - 1 AS seg_end
        |  FROM spans
        |  UNION ALL
        |  SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
        |         any_value(length(d.text)) AS seg_end
        |  FROM spans s JOIN documents d USING (doc_id) GROUP BY s.doc_id
        |), clean AS (
        |  SELECT g.doc_id,
        |    string_agg(CASE WHEN g.seg_end >= g.seg_start
        |      THEN substr(d.text, CAST(g.seg_start AS INT),
        |                  CAST(g.seg_end - g.seg_start + 1 AS INT))
        |      ELSE '' END, '' ORDER BY g.seg_start) AS text_clean
        |  FROM segs g JOIN documents d USING (doc_id) GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN c.doc_id IS NULL THEN d.text ELSE c.text_clean END AS text_clean,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_chars_cut, 0) AS n_chars_cut
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |               LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the DSIR model replayed: hashed unigram+bigram buckets (md5 2-hex
    // prefix), Laplace-smoothed target/raw log ratios, per-doc LEFT-TO-
    // RIGHT ordered fold (lock-step unnest keeps feature positions; the
    // text_trigram_ll list_reduce technique reproduces the engine's
    // summation order exactly)
    "dsir_weights" ->
      s"""$DsirModelCte
        |SELECT t.doc_id,
        |  CAST(CASE WHEN len(ts) > 0 THEN 2 * len(ts) - 1 ELSE 0 END AS BIGINT) AS n_features,
        |  round(coalesce(f.w, 0.0) + 0.000000001, 4) + 0.0 AS dsir_weight
        |FROM toks t LEFT JOIN folded f USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // Gumbel-top-n selection on the same weights: the uniform is the
    // first 6 md5 hex digits of the id string folded to an integer
    // (exact in DOUBLE), +0.5, over 16^6 — identical arithmetic to
    // Dsir.gumbel, so weight + Gumbel ranks replay exactly
    "dsir_resample" ->
      s"""$DsirModelCte, gumb AS (
        |  SELECT t.doc_id, coalesce(f.w, 0.0) AS w,
        |    -ln(-ln((list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        [CAST(strpos('0123456789abcdef', c) - 1 AS DOUBLE)
        |         FOR c IN split(substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 6), '')]),
        |      (a, d) -> a * 16 + d) + 0.5) / 16777216.0)) AS g
        |  FROM toks t LEFT JOIN folded f USING (doc_id)
        |)
        |SELECT rank, doc_id FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY w + g DESC, doc_id) AS BIGINT) AS rank,
        |    doc_id
        |  FROM gumb) r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin
  )

  /** Shared DSIR oracle model: tokenize → unigram+bigram features with
    * positions → md5 2-hex buckets → smoothed log ratios (target =
    * lang='en', raw = all docs, alpha=1, 256 buckets) → per-doc ordered
    * fold. Mirrors [[graft.pipeline.Dsir]] count-for-count. */
  private val DsirModelCte: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    [t FOR t IN string_split_regex(lower(text), '\s+') IF len(t) > 0] AS ts
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, lang,
      |    unnest([i FOR i IN generate_series(1, 2 * len(ts) - 1)]) AS pos,
      |    unnest([substring(md5(x), 1, 2) FOR x IN
      |      ts || [ts[i] || ' ' || ts[i + 1] FOR i IN generate_series(1, len(ts) - 1)]]) AS b
      |  FROM toks WHERE len(ts) > 0
      |), tgt AS (SELECT b, count(*) AS c FROM f WHERE lang = 'en' GROUP BY b
      |), rawc AS (SELECT b, count(*) AS c FROM f GROUP BY b
      |), tots AS (
      |  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM tgt) + 256.0 AS tt,
      |         (SELECT CAST(sum(c) AS DOUBLE) FROM rawc) + 256.0 AS rt
      |), ratio AS (
      |  SELECT r.b,
      |    ln((coalesce(t.c, 0) + 1.0) / tt) - ln((r.c + 1.0) / rt) AS lr
      |  FROM rawc r LEFT JOIN tgt t USING (b) CROSS JOIN tots
      |), folded AS (
      |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(lr ORDER BY pos)), (a, x) -> a + x) AS w
      |  FROM f JOIN ratio USING (b) GROUP BY doc_id
      |)""".stripMargin
}
