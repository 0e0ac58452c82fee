package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private lazy val docsDf = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over a lazy dog"),   // near dup of 1
      (4L, "der schnelle braune fuchs springt und ist nicht faul"),
      (5L, "le renard brun est dans la foret pour une promenade"),
      (6L, "el zorro marron es un animal que vive en el bosque"),
      (7L, "这是一个中文文档的例子这是一个中文文档"),
      (8L, "completely different content about spark engines and data"),
      (9L, "THE QUICK  BROWN fox jumps over the lazy dog") // case/ws variant
    ).toDF("doc_id", "text")
  }

  test("exact dedup: identical texts collapse, first id wins") {
    val groups = Dedup.exactGroups(docsDf, "doc_id", "text").collect()
    assert(groups.length == 8) // 1&2 collapse
    val g = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(g.getAs[Long]("doc_id") == 1L)
    assert(Dedup.dropExactDuplicates(docsDf, "doc_id", "text").count() == 8)
  }

  test("minhash LSH finds near-dup pair (1,3) and exact pair (1,2)") {
    val pairs = Dedup.minhashNearDups(docsDf, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L))) // jaccard 1.0
    assert(pairs.contains((1L, 3L))) // high overlap
    assert(!pairs.exists(p => p._1 == 8L || p._2 == 8L))
  }

  test("lshCandidates starts no Spark job; minhashNearDups pairs are unchanged") {
    val sigs = docsDf.select(col("doc_id"),
      Dedup.minhashUdf(64)(Dedup.shingleUdf(2)(col("text"))).as("sig"))
    val (_, jobs) = countingJobs(Dedup.lshCandidates(sigs, "doc_id", "sig", 16))
    assert(jobs == 0)
    def pairs(shingleSize: Int, threshold: Double) =
      Dedup.minhashNearDups(docsDf, "doc_id", "text", shingleSize = shingleSize,
          threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val same = Set((1L, 2L, 1.0), (1L, 9L, 1.0), (2L, 9L, 1.0))
    assert(pairs(2, 0.5) == same ++ Set((1L, 3L, 0.6), (2L, 3L, 0.6), (3L, 9L, 0.6)))
    assert(pairs(2, 0.7) == same)
    assert(pairs(3, 0.5) == same)
  }

  test("md5 minhash family agrees with the murmur family and never exceeds exact pairs") {
    // the verification family certifies the banding logic: its verified
    // pairs must be a subset of the exact all-pairs result, find the same
    // planted dups as the fast family, and carry identical jaccard values
    val exact = Dedup.ngramJaccardExact(docsDf, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val md5 = Dedup.minhashNearDupsMirrorable(docsDf, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(md5.keySet.subsetOf(exact.keySet))
    assert(md5.contains((1L, 2L)) && md5.contains((1L, 3L))) // planted pairs
    md5.foreach { case (k, j) => assert(j == exact(k)) } // same verify arithmetic
  }

  test("md5 simhash: case/whitespace variants collapse, chunks stay in 16-bit range") {
    val sig = Dedup.simhashMd5Chunks(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getInt)).toMap
    assert(sig(1L) == sig(2L)) // identical text
    assert(sig(1L) == sig(9L)) // lowercase/whitespace-normalized tokens agree
    assert(sig(1L) != sig(8L)) // unrelated content
    sig.values.foreach(_.foreach(c => assert(c >= 0 && c <= 0xffff)))
    assert(sig.size == 9) // every doc present, incl. any all-zero signatures
  }

  test("corpus clean: dedup, language, quality and length filters compose in one plan") {
    import spark.implicits._
    val extra = Seq(
      (20L, "a" * 600 + " the and of to in is that it was for with a good long document"),
      (21L, "zz")).toDF("doc_id", "text")
    val corpus = docsDf.union(extra)
    val cleaned = CorpusPipeline.clean(corpus, "doc_id", "text",
      minQuality = 0.3, langs = Set("en", "de", "fr", "es"), minChars = 10)
    val ids = cleaned.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(2L)) // exact dup of 1 dropped
    assert(!ids.contains(7L)) // zh filtered by lang policy
    assert(!ids.contains(21L)) // too short
    assert(ids.contains(20L)) // long real text passes
    assert(cleaned.columns.contains("lang_pred") && cleaned.columns.contains("quality_score"))

    val report = CorpusPipeline.attritionReport(corpus, "doc_id", "text",
      minQuality = 0.3, langs = Set("en", "de", "fr", "es"), minChars = 10).head()
    assert(report.getAs[Long]("n_after_dedup") == corpus.count() - 1)
    assert(report.getAs[Long]("n_wrong_lang") >= 1) // the zh doc
    assert(report.getAs[Long]("n_too_short") >= 1)  // "zz"
  }

  test("resolveComponents: transitive chains collapse to min-id groups") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (no direct 1-4 edge) plus an island 8-9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("a", "b")
    val got = graft.pipeline.Dedup.resolveComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 8L -> 8L, 9L -> 8L))

    // group dedup keeps the min-id representative per component and every
    // isolated doc (id 7 never appears in a pair)
    val docs = Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).toDF("id")
    val kept = graft.pipeline.Dedup.dedupByComponents(docs, "id", pairs, "a", "b")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 7L, 8L))
  }

  test("prefix-filtered exact Jaccard equals the all-pairs definition (random corpora)") {
    import spark.implicits._
    // dense little corpora over a tiny vocab force heavy shingle sharing —
    // the regime where a broken prefix bound would actually drop pairs
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    for (seed <- Seq(1, 7, 23); threshold <- Seq(0.3, 0.5, 0.8)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 50L).map { id =>
        val len = 1 + rnd.nextInt(11)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("id", "text")

      val fast = graft.pipeline.Dedup
        .ngramJaccardExact(docs, "id", "text", shingleSize = 2, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      // the unfiltered definition, inline: full a<b cross join + intersect
      def sh(c: org.apache.spark.sql.Column) =
        graft.pipeline.Dedup.sqlShinglesPublic(2)(c)
      val a = docs.select(col("id").as("a"), sh(col("text")).as("sa"))
      val b = docs.select(col("id").as("b"), sh(col("text")).as("sb"))
      val union = size(col("sa")) + size(col("sb")) - col("inter")
      val brute = a.join(b, col("a") < col("b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
        .filter(col("inter") / union >= threshold)
        .select(col("a"), col("b"),
          round(col("inter") / union + lit(1e-9), 4).as("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      assert(fast == brute,
        s"seed=$seed t=$threshold: prefix-filtered ${fast.size} pairs != " +
          s"brute ${brute.size}; missing=${brute -- fast} extra=${fast -- brute}")
      assert(brute.nonEmpty || threshold >= 0.5, // sanity: low thresholds find pairs
        s"seed=$seed t=$threshold produced an empty brute-force baseline")
    }
  }

  test("dedupByComponentsBest keeps the max-score copy, min id on ties") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("a", "b")
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),  // group {1,2,3}: 2 wins on score
      (7L, 0.1),                        // isolated: survives regardless
      (8L, 0.7), (9L, 0.7)              // tie: min id 8 wins
    ).toDF("id", "score")
    val kept = graft.pipeline.Dedup.dedupByComponentsBest(
        docs, "id", pairs, "a", "b", "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 8L))
  }

  test("resolveComponents: maxIter guard throws instead of returning unconverged groups") {
    import spark.implicits._
    // a 12-node chain needs 5 large-star/small-star rounds
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      graft.pipeline.Dedup.resolveComponents(chain, "a", "b", maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain resolves to one group
    val ok = graft.pipeline.Dedup.resolveComponents(chain, "a", "b", maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 12)
  }

  test("exact bigram Jaccard: identical docs score 1.0, one-word swap scores 0.6, rest pruned") {
    val rows = Dedup.ngramJaccardExact(docsDf, "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      .collect()
      .map(r => ((r.getAs[Long]("a"), r.getAs[Long]("b")), r.getAs[Double]("jaccard")))
      .toMap
    // 1=2=9 after lowercasing/ws-normalization; 3 swaps one word:
    // bigram sets intersect 6 of union 10 → J = 0.6 exactly
    assert(rows.keySet == Set((1L, 2L), (1L, 9L), (2L, 9L), (1L, 3L), (2L, 3L), (3L, 9L)))
    assert(rows((1L, 2L)) == 1.0 && rows((1L, 9L)) == 1.0)
    assert(rows((1L, 3L)) == 0.6 && rows((3L, 9L)) == 0.6)
  }

  test("degenerate corpus: oversized buckets are capped BEFORE materialization, distinct pairs survive") {
    import spark.implicits._
    // 1500 identical docs form a single bucket of 1500 ids in every band —
    // over the 1000 cap, so the bucket must be dropped by the count-first
    // path (never collect_list'd) and the query still completes.
    val degenerate = (0L until 1500L).map(i => (i, "the same boilerplate line repeated"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(degenerate, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
    assert(capped.count() == 0) // every bucket oversized → no pairs, no blow-up

    // a mixed corpus: the degenerate mass is capped away but a small planted
    // near-dup pair in its own bucket still comes through
    val mixed = degenerate.union(Seq(
      (2001L, "a genuinely unique document about spark aggregation pipelines"),
      (2002L, "a genuinely unique document about spark aggregation pipeline")
    ).toDF("doc_id", "text"))
    val pairs = Dedup.minhashNearDups(mixed, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((2001L, 2002L)))
    assert(pairs.forall { case (a, b) => a >= 2000L && b >= 2000L })
  }

  test("simhash: identical docs share fingerprint; near-dups within hamming 3") {
    val fps = Dedup.withSimhash(docsDf, "text")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) <= 8)
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(8L)) > 10)

    val pairs = Dedup.simhashNearDups(docsDf, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("langid: stopword + CJK heuristic recovers language on real text") {
    val preds = TextAnalysis.withLangId(docsDf, "text")
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(4L) == "de")
    assert(preds(5L) == "fr")
    assert(preds(6L) == "es")
    assert(preds(7L) == "zh")
  }

  test("token stats and fingerprints") {
    val row = TextAnalysis.withTokenStats(docsDf, "text")
      .filter(col("doc_id") === 1).head()
    assert(row.getAs[Long]("n_ws_tokens") == 9)
    assert(row.getAs[Long]("n_word_tokens") == 9)

    val fps = TextAnalysis.withFingerprints(docsDf, "text")
      .select("doc_id", "fp_md5", "fp_rolling").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fps(1L) == fps(2L))
    // case/whitespace variant normalizes to the same md5 fingerprint
    assert(fps(1L)._1 == fps(9L)._1)
    assert(fps(1L)._2 == fps(9L)._2)
    assert(fps(1L)._1 != fps(8L)._1)
  }

  test("repetition ratio: looping text scores high, varied text low, short text zero") {
    import spark.implicits._
    val out = TextAnalysis.withRepetition(Seq(
        (1L, "spam spam spam spam spam spam"), // 4 identical trigrams → 3/4 dup
        (2L, "one two three four five six"), // all 4 trigrams distinct → 0
        (3L, "ab cd"), // below n → single whole-text gram → 0
        (4L, "a b a b a b a b") // trigrams alternate between 2 forms: 1 - 2/6
      ).toDF("id", "text"), "text")
      .orderBy("id").select("repetition_ratio")
      .collect().map(_.getDouble(0))
    assert(out(0) == 0.75)
    assert(out(1) == 0.0)
    assert(out(2) == 0.0)
    assert(math.abs(out(3) - (1.0 - 2.0 / 6.0)) < 1e-3)
  }

  test("clean with maxRepetition drops looping boilerplate, keeps varied text") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "buy now buy now buy now buy now buy now buy now buy now buy now")
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline.clean(df, "doc_id", "text", maxRepetition = 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // default (1.0) leaves the filter off entirely
    val all = CorpusPipeline.clean(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L))
  }

  test("quality score: long real text beats short junk") {
    import spark.implicits._
    val df = Seq(
      (1L, "the project is a complete analytics engine with many useful operators and the design is clean"),
      (2L, "x")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.withQualityScore(df, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(q(1L) > q(2L))
  }

  test("embedding near-dup: exact finds planted pair; LSH finds it too") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = Seq.tabulate(100)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // plant a near-duplicate of row 0 as id 100
    val nearDup = (100L, base(0)._2.map(x => x + 0.01f))
    val df = (base :+ nearDup).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 100L)))
    val lsh = Dedup.embeddingNearDupsLsh(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 100L)))

    // index-backed path: exhaustive probes (nprobe = nlist) must find the
    // planted pair exactly once (directions collapse bit-identically)
    val ann = Dedup.embeddingNearDupsAnn(df, "vec_id", "embedding", 0.95,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ann.count(_ == ((0L, 100L))) == 1)

    // graph-engine variant at "corpus scale": the 101-row query relation
    // exceeds the lowered collect bound, so the self-join runs through the
    // cogrouped no-driver-collect plan; exhaustive beam ⇒ same pairs as
    // the exhaustive IVF pass
    spark.conf.set("spark.ann.maxCollectedQueries", "50")
    try {
      val graph = Dedup.embeddingNearDupsAnn(df, "vec_id", "embedding", 0.95,
        nprobe = 100000, engine = "DISKANN")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(graph == ann.toSet,
        "distributed graph self-join must match the exhaustive IVF pairs")
    } finally spark.conf.unset("spark.ann.maxCollectedQueries")
  }

  test("trigram log-loss: corpus-typical text scores lower than charset junk") {
    import spark.implicits._
    val typical = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = (Seq.tabulate(20)(i => (i.toLong, typical + s" run $i")) :+
      (99L, "zzqxj@@##%%^^&&**!!~~||zzqxj") :+   // charset junk
      (100L, "ab")                               // < 3 chars → null score
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withTrigramLogLoss(df, "text")
      .select("doc_id", "n_trigrams", "trigram_logloss").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got(100L) == ((0L, None)))
    val junk = got(99L)._2.get
    val typ = got(0L)._2.get
    assert(junk > typ + 1.0, s"junk $junk should far exceed typical $typ")
  }

  test("sharedNgramStats scores corpus-level boilerplate per doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps high"),      // shares "the quick brown fox" with doc 2
      (2L, "the quick brown fox sleeps now"),
      (3L, "completely unique content written here today") // nothing shared
    ).toDF("doc_id", "text")
    val got = Dedup.sharedNgramStats(df, "doc_id", "text", shingleSize = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // 5 bigrams each; docs 1/2 share exactly the 3 bigrams of the common
    // 4-word prefix
    assert(got(1L) == ((5L, 3L, 0.6)))
    assert(got(2L) == ((5L, 3L, 0.6)))
    assert(got(3L) == ((5L, 0L, 0.0)))
  }

  test("near-dup thresholds reject NaN similarities (null elements, zero vectors)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 0f)),
      (2L, Seq[java.lang.Float](1f, null)), // null element → NaN
      (3L, Seq[java.lang.Float](0f, 0f)),   // zero norm → NaN cosine
      (4L, Seq[java.lang.Float](1f, 0.01f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // NaN > 0.9 is TRUE under Spark's nan-safe compare; the isnan guard
    // must keep docs 2 and 3 out of every pair
    assert(pairs == Set((1L, 4L)))
  }

  test("attritionReport with empty langs counts zero wrong-language rows (keep-all)") {
    val report = CorpusPipeline.attritionReport(docsDf, "doc_id", "text",
      minQuality = 0.3, langs = Set.empty, minChars = 10).head()
    assert(report.getAs[Long]("n_wrong_lang") == 0L)
  }

  test("deterministic sample: id-keyed, complementary, repartition-stable") {
    import spark.implicits._
    val ids = spark.range(2000).select(col("id").as("doc_id"), lit("x").as("text"))
    val kept = CorpusPipeline.deterministicSample(ids, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // uniform within a loose band (16-bit hash over 2000 ids)
    assert(kept.size > 2000 * 0.25 && kept.size < 2000 * 0.35, s"${kept.size}")
    // pure function of the id: same rows after an arbitrary repartition
    val kept2 = CorpusPipeline.deterministicSample(ids.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
    // fraction 1 keeps everything, 0 keeps nothing ('zzzz' / '0000' bounds)
    assert(CorpusPipeline.deterministicSample(ids, "doc_id", 1.0).count() == 2000)
    assert(CorpusPipeline.deterministicSample(ids, "doc_id", 0.0).count() == 0)
    // sample(f) and its 1-f "complement" partition the corpus: a row is in
    // the 0.3 sample iff it is NOT in the [0.3, 1) band — consistent
    // held-out splits across jobs
    val rest = ids.filter(not(
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4) < lit("4ccd")))
      .collect().map(_.getLong(0)).toSet // 0x4ccd = round(0.3*65536)
    assert(rest.intersect(kept).isEmpty && rest.size + kept.size == 2000)
  }

  test("stratified sample: per-stratum rates, unknown strata use the default") {
    import spark.implicits._
    val rows = spark.range(3000).select(col("id").as("doc_id"),
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "zh")
        .otherwise("misc").as("lang"))
    val kept = CorpusPipeline.stratifiedSample(rows, "doc_id", "lang",
      Map("en" -> 0.1, "zh" -> 0.5), defaultFraction = 1.0)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("misc") == 1000) // default 1.0 keeps all
    assert(byLang("en") > 50 && byLang("en") < 150, s"en=${byLang("en")}")
    assert(byLang("zh") > 420 && byLang("zh") < 580, s"zh=${byLang("zh")}")
    // a row's fate depends only on (id, own stratum): the en-sample ids are
    // exactly the 0.1-band ids that are en
    val enIds = kept.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val bandIds = CorpusPipeline.deterministicSample(rows.filter(col("lang") === "en"),
      "doc_id", 0.1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(enIds == bandIds)
  }

  test("edge guards: empty-text packing follows the ws-token contract; bad params fail fast") {
    import spark.implicits._
    val df = Seq((1L, "")).toDF("id", "text")
    // empty text counts ONE ws token — the same arithmetic text_stats pins
    val p = graft.pipeline.CorpusPipeline.packSequences(df, "id", "text", 8)
      .collect().head
    assert(p.getAs[Long]("n_tokens") == 1L && p.getAs[Long]("seq_id") == 0L)
    intercept[IllegalArgumentException](
      graft.pipeline.CorpusPipeline.packSequences(df, "id", "text", 0))
    intercept[IllegalArgumentException](
      graft.pipeline.CorpusPipeline.temperatureFractions(df, "text", alpha = 1.5, budgetRows = 10))
    intercept[IllegalArgumentException](
      graft.pipeline.CorpusPipeline.temperatureFractions(df, "text", alpha = 0.5, budgetRows = 0))
    intercept[IllegalArgumentException](
      graft.pipeline.Sessionize.assign(df, "id", "ts", "id", gap = 0L))
    intercept[IllegalArgumentException](
      graft.functions.RandomProjection(null, 0, 4, 1L))
  }

  test("sessionize: gaps split sessions, aggregates and session filters are exact") {
    import spark.implicits._
    // user 1: events at t=0,10 (one session), then 2000,2010 (gap 1990 > 100)
    // user 2: a singleton
    val ev = Seq((1L, 0L, 100L), (1L, 10L, 101L), (1L, 2000L, 102L),
      (1L, 2010L, 103L), (2L, 5L, 200L)).toDF("user_id", "ts", "event_id")
    val tagged = graft.pipeline.Sessionize.assign(ev, "user_id", "ts", "event_id", gap = 100L)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap // event_id -> session_seq
    assert(tagged == Map(100L -> 1L, 101L -> 1L, 102L -> 2L, 103L -> 2L, 200L -> 1L))

    val sess = graft.pipeline.Sessionize.sessions(ev, "user_id", "ts", "event_id", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(sess((1L, 1L)) == ((2L, 0L, 10L)))
    assert(sess((1L, 2L)) == ((2L, 2000L, 2010L)))
    assert(sess((2L, 1L)) == ((1L, 5L, 5L)))

    // drop singleton sessions: user 2 disappears, user 1 keeps all events
    val kept = graft.pipeline.Sessionize.filterSessions(ev, "user_id", "ts", "event_id",
        100L, keep = col("n_events") >= 2)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 101L, 102L, 103L))
  }

  test("temperature fractions: alpha=1 proportional, alpha=0 uniform with clamping, alpha=0.5 flattens") {
    import spark.implicits._
    val df = (Seq.fill(100)("web") ++ Seq.fill(16)("books") ++ Seq.fill(4)("code"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "stratum")

    // alpha=1: target_s = budget * n_s / N → fraction = budget/N for all
    val prop = graft.pipeline.CorpusPipeline.temperatureFractions(df, "stratum", 1.0, 60)
    assert(prop.values.forall(f => math.abs(f - 0.5) < 1e-9), s"$prop")

    // alpha=0: equal targets (20 each); 'code' (4 rows) clamps to 1.0
    val flat = graft.pipeline.CorpusPipeline.temperatureFractions(df, "stratum", 0.0, 60)
    assert(flat("code") == 1.0)
    assert(math.abs(flat("web") - 0.2) < 1e-9 && math.abs(flat("books") - 1.0) < 1e-9,
      s"$flat") // books: 20/16 clamps to 1.0 too

    // alpha=0.5: rare strata keep a HIGHER fraction than common ones
    val half = graft.pipeline.CorpusPipeline.temperatureFractions(df, "stratum", 0.5, 60)
    assert(half("code") > half("books") && half("books") > half("web"), s"$half")

    // end-to-end sample: deterministic (rerun-identical) and stratum-bounded
    val s1 = graft.pipeline.CorpusPipeline
      .temperatureSample(df, "id", "stratum", 0.5, 60).collect().map(_.getLong(0)).toSet
    val s2 = graft.pipeline.CorpusPipeline
      .temperatureSample(df, "id", "stratum", 0.5, 60).collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "temperature sample must be rerun-stable")
    assert(s1.nonEmpty && s1.size < 120)
  }

  test("sequence packing: concat-and-chunk offsets, long docs span windows") {
    import spark.implicits._
    // token counts: "a b c" = 3, "d e" = 2, 12 words = 12, "x" = 1
    val df = Seq(
      (1L, "a b c"),                            // starts seq 0 @ 0
      (2L, "d e"),                              // starts seq 0 @ 3
      (3L, Seq.fill(12)("w").mkString(" ")),    // starts seq 0 @ 5, spans into 2
      (4L, "x")                                 // starts seq 2 @ 1 (5+12=17 → 17%8=1)
    ).toDF("id", "text")
    val got = graft.pipeline.CorpusPipeline.packSequences(df, "id", "text", seqLen = 8)
      .select("id", "n_tokens", "seq_id", "seq_offset")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 0L, 0L)))
    assert(got(2L) == ((2L, 0L, 3L)))
    assert(got(3L) == ((12L, 0L, 5L)))
    assert(got(4L) == ((1L, 2L, 1L)))

    // per-stratum packing restarts the stream per stratum
    val strat = Seq((1L, "en", "a b c d e f"), (2L, "en", "g h"),
                    (3L, "zh", "i j k")).toDF("id", "lang", "text")
    val g2 = graft.pipeline.CorpusPipeline
      .packSequences(strat, "id", "text", seqLen = 4, partitionBy = Some("lang"))
      .select("id", "seq_id", "seq_offset")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(g2(1L) == ((0L, 0L)))
    assert(g2(2L) == ((1L, 2L))) // 6 tokens → starts at 6 → seq 1 offset 2
    assert(g2(3L) == ((0L, 0L))) // zh stream starts fresh
  }

  test("token budget keeps the id-ordered prefix within the cap, per stratum") {
    import spark.implicits._
    val rows = Seq(
      (1L, "en", "one two three"),           // 3 tokens, cum 3
      (2L, "en", "four five"),               // 2, cum 5
      (3L, "en", "six seven eight nine"),    // 4, cum 9 > 8 -> cut
      (4L, "de", "eins zwei"),               // 2, cum 2
      (5L, "de", "drei vier funf sechs"),    // 4, cum 6
      (6L, "de", "sieben acht neun")         // 3, cum 9 > 8 -> cut
    ).toDF("doc_id", "lang", "text")
    val out = CorpusPipeline.tokenBudget(rows, "doc_id", "text", maxTokens = 8,
      partitionBy = Some("lang"))
      .select("doc_id", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 3L, 2L -> 5L, 4L -> 2L, 5L -> 6L))
    // global form: one stream, same arithmetic
    val g = CorpusPipeline.tokenBudget(rows.filter(col("lang") === "en"),
      "doc_id", "text", maxTokens = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(g == Seq(1L, 2L))
  }

  test("column-decomposed langid/quality equal their Column-expression forms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog sat with a book for a while it was good"),
      (2L, "der hund und die katze sind nicht mit der maus zu dem haus"),
      (3L, "le chat est dans la maison avec un livre pour le soir"),
      (4L, "x"), (5L, ""), (6L, "el perro y el gato en la casa es por con una"),
      (7L, "汉字汉字汉字汉字汉字汉字 some latin"),
      (8L, "zzz qqq www eee rrr ttt yyy")
    ).toDF("id", "text")
    val viaColumns = graft.pipeline.TextAnalysis.withQualityScore(
        graft.pipeline.TextAnalysis.withLangId(docs, "text"), "text")
      .select("id", "lang_pred", "quality_score").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val viaExprs = docs
      .withColumn("lang_pred", graft.pipeline.TextAnalysis.langId(col("text")))
      .withColumn("quality_score",
        graft.pipeline.TextAnalysis.qualityScore(col("text")))
      .select("id", "lang_pred", "quality_score").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(viaColumns == viaExprs)
  }

  test("entropy and deflate-ratio quality signals order repetitive below diverse") {
    import spark.implicits._
    val rep = "spam spam spam spam spam spam spam spam spam spam spam spam"
    val prose = "the quick brown fox jumps over one lazy dog while birds fly"
    val df = Seq((1L, rep), (2L, prose), (3L, ""), (4L, "aabb")).toDF("id", "text")

    val ent2 = graft.pipeline.TextAnalysis.withCharEntropy(df, "text")
      .select("id", "char_entropy")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ent2(1L) < ent2(2L), s"repetitive text must score lower entropy: $ent2")
    assert(ent2(3L) == 0.0)
    assert(ent2(4L) == 1.0) // two symbols, equal counts

    val dr = graft.pipeline.TextAnalysis.withDeflateRatio(df, "text")
      .select("id", "deflate_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dr(1L) < dr(2L), s"repetitive text must compress better: $dr")
    assert(dr(3L) == 1.0)
    // determinism across runs
    val again = graft.pipeline.TextAnalysis.withDeflateRatio(df.repartition(3), "text")
      .select("id", "deflate_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dr == again)
  }

  test("chunkDocuments: full coverage, overlap, short docs, clamped tail") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: chunks @0,@3,@6
      (2L, "a b"),                                    // short: one chunk, len 2
      (3L, "x y z w")                                 // == chunkTokens: one chunk
    ).toDF("id", "text")
    val got = CorpusPipeline.chunkDocuments(df, "id", "text",
        chunkTokens = 4, stride = 3)
      .select("id", "chunk_id", "chunk_start", "chunk_len", "chunk_text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got((1L, 0L)) == ((0L, 4L, "t1 t2 t3 t4")))
    assert(got((1L, 1L)) == ((3L, 4L, "t4 t5 t6 t7")))
    assert(got((1L, 2L)) == ((6L, 4L, "t7 t8 t9 t10")))
    assert(!got.contains((1L, 3L))) // 9 = last start: ceil((10-4)/3) = 2
    assert(got((2L, 0L)) == ((0L, 2L, "a b")))
    assert(got((3L, 0L)) == ((0L, 4L, "x y z w")))

    // every token of every doc appears in at least one chunk (coverage)
    val chunks = CorpusPipeline.chunkDocuments(df, "id", "text", 4, 3)
    val covered = chunks.select(col("id"),
        explode(org.apache.spark.sql.functions.sequence(
          col("chunk_start"), col("chunk_start") + col("chunk_len") - 1)).as("tok"))
      .distinct().groupBy("id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(covered == Map(1L -> 10L, 2L -> 2L, 3L -> 4L))

    intercept[IllegalArgumentException](
      CorpusPipeline.chunkDocuments(df, "id", "text", 4, 5))
  }

  test("shardCorpus: complete, contiguous, partitioning-invariant, seed-sensitive") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"doc $i")).toDF("id", "text")
    val sharded = CorpusPipeline.shardCorpus(df, "id", nShards = 8)
      .select("id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))

    // every row exactly once, shards in range
    assert(sharded.length == 500 && sharded.map(_._1).distinct.length == 500)
    assert(sharded.forall { case (_, (s, _)) => s >= 0 && s < 8 })
    // positions contiguous 1..count inside each shard (a total order a
    // trainer can stream)
    for ((_, grp) <- sharded.groupBy(_._2._1)) {
      val pos = grp.map(_._2._2).sorted
      assert(pos.toSeq == (1L to grp.length).toSeq)
    }
    // no degenerate skew on uniform ids (md5 bucketing: ~62 ± a few)
    val sizes = sharded.groupBy(_._2._1).view.mapValues(_.length).values
    assert(sizes.min > 20 && sizes.max < 110, s"shard skew: $sizes")

    // pure function of (seed, id): repartitioned input reproduces the
    // exact assignment...
    val re = CorpusPipeline.shardCorpus(df.repartition(13), "id", 8)
      .select("id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(sharded.toMap == re)
    // ...and a different seed is a different permutation
    val other = CorpusPipeline.shardCorpus(df, "id", 8, seed = 7L)
      .select("id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(sharded.toMap != other)
  }

  test("writeShards: one directory per shard, rows in shard_pos order") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"doc $i")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    CorpusPipeline.writeShards(df, "id", nShards = 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    assert(back.select("shard").distinct().count() == 4)
    // within each shard directory the file order IS shard_pos order
    for (s <- 0 until 4) {
      val rows = spark.read.parquet(s"$dir/shard=$s").select("shard_pos")
        .collect().map(_.getLong(0))
      assert(rows.toSeq == rows.sorted.toSeq, s"shard $s written out of order")
    }
  }

  test("autoRelease unpersists LSH operator caches after the consuming action") {
    def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

    // default (opt-out) keeps the caches for repeat actions: LRU stance.
    // Checked FIRST (no async unpersists in flight yet); shingleSize=4 so
    // the plan differs from anything this suite already cached
    // (CacheManager dedupes same-result plans — an identical plan would
    // reuse an existing entry and the count could not grow)
    val before0 = persistedCount
    Dedup.minhashNearDups(docsDf, "doc_id", "text", shingleSize = 4,
      threshold = 0.5).count()
    assert(persistedCount > before0, "default stance should keep caches warm")

    // result consumed via an action directly over the returned plan AND via
    // a wrapping transformation (the Verify/bench shape) — both must release
    def drive(consume: org.apache.spark.sql.DataFrame => Unit): Unit = {
      val before = persistedCount
      consume(Dedup.minhashNearDups(docsDf, "doc_id", "text",
        shingleSize = 2, threshold = 0.5))
      // the QueryExecutionListener fires asynchronously after the action
      var spins = 0
      while (persistedCount > before && spins < 40) { Thread.sleep(250); spins += 1 }
      assert(persistedCount <= before,
        s"caches not released: $persistedCount persisted vs $before before")
    }
    spark.conf.set("spark.graft.dedup.autoRelease", "true")
    try {
      drive(_.count())
      drive(_.orderBy("a", "b").count())
      // simhash's cache + capped buckets go through the same scope
      val before = persistedCount
      Dedup.simhashNearDups(docsDf, "doc_id", "text").count()
      var spins = 0
      while (persistedCount > before && spins < 40) { Thread.sleep(250); spins += 1 }
      assert(persistedCount <= before)
    } finally spark.conf.unset("spark.graft.dedup.autoRelease")
  }

  test("autoRelease: twin operator calls release per-scope and settle clean") {
    // two calls with IDENTICAL arguments produce canonically-equal plans.
    // The per-scope literal tag keeps each listener matched to its OWN
    // result only (without it, the first consumption fires both scopes'
    // listeners). Note Spark's CacheManager dedupes canonically-equal
    // cached plans into SHARED entries, so twins share storage regardless
    // — the contract here is: both consumptions complete, each fires its
    // own release, releases are idempotent under sharing, and storage
    // settles back to the pre-call baseline with no leaked listeners
    // breaking later queries.
    def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size
    spark.conf.set("spark.graft.dedup.autoRelease", "true")
    try {
      val baseline = persistedCount
      val a = Dedup.minhashNearDups(docsDf, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      val b = Dedup.minhashNearDups(docsDf, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      val ra = a.count()
      val rb = b.count() // must still compute correctly after a's release
      assert(ra == rb, "twin results must agree")
      var spins = 0
      while (persistedCount > baseline && spins < 40) { Thread.sleep(250); spins += 1 }
      assert(persistedCount <= baseline,
        s"storage must settle to baseline: $persistedCount vs $baseline")
      // a later unrelated query must not trip any leftover scope listener
      assert(docsDf.count() > 0)
    } finally spark.conf.unset("spark.graft.dedup.autoRelease")
  }

  test("withQuantileBuckets: near-exact tertiles with no exchange/sort/window") {
    import spark.implicits._
    // deterministic skewed values + nulls; n large enough that the
    // GK sketch's rank error (relErr*n) stays well below a bucket
    val n = 3000
    val df = (0 until n).map { i =>
      val v = if (i % 50 == 0) null else java.lang.Double.valueOf(
        math.pow((i * 2654435761L % n).toDouble / n, 3.0))
      (i.toLong, v)
    }.toDF("id", "score")
    val out = CorpusPipeline.withQuantileBuckets(df, "score", 3, relErr = 1e-4)
    val sizes = out.filter($"bucket".isNotNull)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nonNull = df.filter($"score".isNotNull).count()
    assert(sizes.keySet == Set(1L, 2L, 3L))
    sizes.values.foreach(s =>
      assert(math.abs(s - nonNull / 3.0) <= nonNull * 0.01,
        s"bucket sizes $sizes vs exact tertile ${nonNull / 3}"))
    // monotone: every bucket-1 value <= every bucket-3 value
    val max1 = out.filter($"bucket" === 1).agg(max($"score")).head().getDouble(0)
    val min3 = out.filter($"bucket" === 3).agg(min($"score")).head().getDouble(0)
    assert(max1 <= min3)
    // nulls get null buckets
    assert(out.filter($"score".isNull && $"bucket".isNotNull).count() == 0)
    // the scale contract in the plan: no exchange, no sort, no window
    val plan = out.queryExecution.executedPlan.toString
    for (bad <- Seq("Exchange", "Sort", "Window"))
      assert(!plan.contains(bad), s"$bad in quantile-bucket plan:\n$plan")
  }
}
