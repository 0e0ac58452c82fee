package graftbench

import graft.pipeline.{CorpusPipeline, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The corpus pipeline: a seeded corpus with planted exact duplicates and
  * planted near-duplicates (edited copies), run stage by stage through
  * `graft.pipeline`, each stage materialized so it is timed on its own. */
final class CorpusDedup(run: Run) extends Workload(run) {
  import CorpusDedup._
  private val spark = run.spark
  private val seed = run.seed

  private var corpus: DataFrame = _
  private var hash = ""
  private var recall = Double.NaN

  def primary = "pipeline"
  /** A set-up is one ~1 s corpus write: five give its median more samples. */
  def setupReps = 5

  def setup(dir: String): Unit = {
    val path = run.dir(s"$dir/corpus.parquet")
    spark.range(0, shape.total, 1, Main.Partitions)
      .select(col("id"), shape.docUdf(seed)(col("id")).as("text"))
      .write.parquet(path)
    corpus = spark.read.parquet(path)
    hash = Hashes.table(corpus)
  }

  def release(): Unit = ()

  /** One whole pass: a pass over a sample of the corpus leaves the
    * per-row code paths cold enough that the window's first passes slow. */
  def warmUp(): Unit = pass(corpus).foreach(_.unpersist())

  private def stage(name: String)(df: => DataFrame): DataFrame = run.trace.span(s"pipeline.$name") {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** One pass; returns every materialized stage, the planted checks read
    * them. Order: exact, clean, near-dup pairs, components, chunk+shard. */
  private def pass(in: DataFrame): Seq[DataFrame] = {
    val exact = stage("exact_dedup")(Dedup.dropExactDuplicates(in, "id", "text"))
    val cleaned = stage("clean")(CorpusPipeline.clean(exact, "id", "text"))
    val pairs = stage("minhash")(Dedup.minhashNearDups(cleaned, "id", "text"))
    val kept = stage("components")(Dedup.dedupByComponents(cleaned, "id", pairs, "a", "b"))
    run.trace.span("pipeline.chunk_shard") {
      val chunks = CorpusPipeline.chunkDocuments(kept, "id", "text", ChunkTokens, ChunkStride)
        .withColumn("chunk_uid", col("id") * 1000 + col("chunk_id"))
      CorpusPipeline.shardCorpus(chunks, "chunk_uid", TrainingShards, seed)
        .write.format("noop").mode("overwrite").save()
    }
    Seq(exact, cleaned, pairs, kept)
  }

  def timed(deadlineMs: Double): Unit = {
    var passes = 0
    while (passes == 0 || run.nowMs < deadlineMs) {
      val out = run.op("pipeline")(pass(corpus)) { case Seq(exact, _, pairs, kept) =>
        val found = pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        if (passes == 0) recall = shape.planted.count(found.contains).toDouble / shape.nearDups
        val nKept = kept.count()
        // exact dedup leaves exactly the planted unique count
        exact.count() == shape.unique + shape.nearDups && nKept > 0 &&
          nKept <= shape.unique + shape.nearDups
      }
      out.foreach(_.foreach(_.unpersist()))
      passes += 1
    }
  }

  override def finish(): Unit = if (run.trace.enabled) {
    // useful-work ratio of the LSH banding: planted pairs among candidates
    val exact = Dedup.dropExactDuplicates(corpus, "id", "text")
    val shingled = exact.select(col("id"), Dedup.shingleUdf(3)(col("text")).as("sh"))
    val sigs = shingled.select(col("id"), Dedup.minhashUdf(64)(col("sh")).as("sig"))
    val cands = Dedup.lshCandidates(sigs, "id", "sig", 16).persist()
    import spark.implicits._
    val planted = shape.planted.toDF("a", "b")
    val n = cands.count()
    run.value("pipeline.lsh_candidate_precision",
      if (n == 0) 0.0 else cands.join(planted, Seq("a", "b")).count().toDouble / n)
    cands.unpersist()
  }

  private def docsPerS: Double = run.medianRate(shape.total, "pipeline")

  def headline: (Double, Double) = (docsPerS, recall)

  def named = Seq(
    ("corpus_docs_per_s", docsPerS, "docs/s"),
    ("neardup_recall", recall, "ratio"))

  override def info = Seq("input_hash" -> hash)
}

object CorpusDedup {
  val shape = CorpusShape(4800, 600, 600)
  val ChunkTokens = 64
  val ChunkStride = 48
  val TrainingShards = 16
}

/** Corpus layout: ids [0, unique) are distinct documents; the next `exact`
  * ids copy one of them verbatim; the last `nearDups` ids are edited copies
  * of documents 0 until nearDups, one copy each. */
final case class CorpusShape(unique: Long, exact: Long, nearDups: Long) {
  import CorpusShape._
  def total: Long = unique + exact + nearDups

  /** (original, edited copy) id pairs. */
  def planted: Seq[(Long, Long)] = (0L until nearDups).map(k => (k, unique + exact + k))

  def docUdf(seed: Long) = udf((id: Long) => doc(seed, id))

  def doc(seed: Long, id: Long): String =
    if (id < unique) Gen.text(seed, Gen.Corpus, id, Words._1, Words._2, Vocab)
    else if (id < unique + exact) doc(seed, Gen.rng(seed, Gen.Corpus, id).nextLong(unique))
    else {
      val words = doc(seed, id - unique - exact).split(" ")
      val r = Gen.rng(seed, Gen.Corpus, id)
      // distinct positions: a second edit of one word could restore it and
      // make the copy an exact duplicate
      val edits = Edits._1 + r.nextInt(Edits._2 - Edits._1 + 1)
      val at = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (at.size < edits) at += r.nextInt(words.length)
      for (i <- at) {
        var w = words(i)
        while (w == words(i)) w = Gen.word(Gen.rank(r, Vocab))
        words(i) = w
      }
      words.mkString(" ")
    }
}

object CorpusShape {
  val Words = (50, 100)
  val Vocab = 20000
  /** word substitutions in a near-duplicate: 3-shingle Jaccard ~0.8..0.95 */
  val Edits = (1, 4)
}
