package graftbench

import graft.functions.AnnFunctions.l2_distance
import graft.index.{AnnIndex, AnnIndexManager}
import graft.operators.{AnnSearch, HybridSearch}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** The served table: `Rows` seeded d128 vectors with a seeded text each,
  * written as parquet, and a DISKANN index over the vectors with fixed
  * shards, registered for the optimizer rewrite through `table_path`, and
  * pinned. */
final class VectorTable(run: Run, dir: String) {
  import VectorTable._
  private val spark = run.spark
  private val seed = run.seed
  val path: String = run.dir(s"$dir/base.parquet")
  val name = s"serve_$dir"

  val ids: Array[Long] = Array.tabulate(Rows)(_.toLong)
  val vecs: Array[Array[Float]] = Array.tabulate(Rows)(i => Gen.vec(seed, Gen.BaseVec, i, Dim))

  spark.range(0, Rows, 1, Main.Partitions)
    .select(col("id"), Gen.vecUdf(seed, Gen.BaseVec, Dim)(col("id")).as("vec"),
      Gen.textUdf(seed, Gen.Text, TextWords._1, TextWords._2, Vocab)(col("id")).as("text"))
    .write.parquet(path)

  val index: AnnIndex = {
    val created = run.trace.span("index.create") {
      AnnIndexManager.create(spark, name, spark.read.parquet(path), "id", "vec", "DISKANN",
        Map("metric" -> "l2", "max_degree" -> MaxDegree.toString,
          "build_complexity" -> BuildComplexity.toString, "shards" -> Shards.toString,
          "table_path" -> path),
        run.dir(s"$dir/index"))
    }
    run.trace.span("index.persist")(AnnIndexManager.load(spark, created.path).persist())
  }

  /** Order-independent hash of the table as written. */
  def inputHash: String = Hashes.table(spark.read.parquet(path))

  def recall(q: Array[Float], got: Iterable[Long]): Double =
    got.toSet.intersect(Gen.exactTopK(vecs, ids, q, K)).size.toDouble / K

  def release(): Unit = {
    index.unpersist()
    AnnIndexManager.unregister(name)
  }
}

object VectorTable {
  val Rows = 3000
  val Dim = 128
  val Shards = 4
  val MaxDegree = 32
  val BuildComplexity = 64
  val K = 10
  /** Op index the uncounted warm-up starts from, far from the window's. */
  val WarmUpOps = 1L << 30
  val WarmUpInterleaves = 3
  val TextWords = (20, 60)
  val Vocab = 3000
  /** The reference's recall floor (BASELINE.md). */
  val RecallFloor = 0.70
}

object Hashes {
  def table(df: DataFrame): String =
    df.select(expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))")).head().get(0).toString

  def ids(pairs: Seq[(Long, Long)]): String =
    java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.seqHash(pairs.sorted).toLong)
}

/** Serving: one closed-loop client issues a fixed interleave of ops
  * against one pinned DISKANN index and a BM25 text index on the same table:
  * `sql_topk, hybrid, sql_topk, sql_topk, batch`. `sql_topk` is a DataFrame
  * `ORDER BY l2_distance(vec, <literal>) LIMIT 10` that AnnTopKRule rewrites
  * to an index scan; `hybrid` is one `HybridSearch.hybridSearch` call;
  * `batch` answers `Batch` queries in one call, three of four through
  * `AnnIndex.searchBatch` (kind `search_batch`), one through
  * `AnnSearch.searchTable` (kind `search_table`). Every op has fresh seeded
  * queries. Point ops are bound by planning and job scheduling, batch calls
  * by task compute, so `op_p50_ms` (sql_topk) and `throughput_per_s` (queries/s
  * of the median batch call) move apart. */
final class Serve(run: Run) extends Workload(run) {
  import VectorTable._
  private val spark = run.spark
  private val seed = run.seed
  val Batch = 500
  /** queries per batch call whose recall is checked against the floor */
  val Checked = 50

  private var table: VectorTable = _
  private var items: DataFrame = _
  private var text: HybridSearch.TextIndex = _
  private var recallAt10 = Double.NaN
  private var topkHash = ""
  private var sqlRecall = 0.0
  private var sqlRecallN = 0

  def primary = "sql_topk"
  /** The first set-up pays JIT compilation; with four, the median is a warm one. */
  def setupReps = 4

  def setup(dir: String): Unit = {
    table = new VectorTable(run, dir)
    graft.plans.AnnOptimizer.enable(spark)
    items = spark.read.parquet(table.path)
    text = run.trace.span("operators.text_index_build") {
      HybridSearch.buildTextIndex(items, "id", "text", materialized = true)
    }
  }

  def release(): Unit = {
    table.release()
    text.release()
  }

  /** `WarmUpInterleaves` interleaves with queries the window never uses. */
  def warmUp(): Unit = timed(0, ops = 5 * WarmUpInterleaves, first = WarmUpOps)

  private def sqlTopK(i: Long): (DataFrame, Array[(Long, Double)]) = {
    val q = Gen.vec(seed, Gen.QueryVec, i, Dim)
    val df = spark.read.parquet(table.path)
      .select(col("id"), l2_distance(col("vec"), typedLit(q)).as("_d"))
      .orderBy("_d").limit(K)
    (df, df.collect().map(r => (r.getLong(0), r.getDouble(1))))
  }

  private def hybrid(i: Long): Array[Long] = run.trace.span("operators.hybrid") {
    val r = Gen.rng(seed, Gen.Text, 1L << 40 | i)
    val qt = Gen.words(r, 3, Vocab).mkString(" ")
    HybridSearch.hybridSearch(items, "id", text, table.index, qt,
      Gen.vec(seed, Gen.QueryVec, i, Dim), K)
      .select("id").collect().map(_.getLong(0))
  }

  private def queries(call: Long): Array[Array[Float]] =
    Array.tabulate(Batch)(j => Gen.vec(seed, Gen.BatchVec, call * Batch + j, Dim))

  /** (query index, id) pairs of one batch call. */
  private def search(qs: Array[Array[Float]], viaTable: Boolean): Array[(Long, Long)] =
    if (viaTable) run.trace.span("operators.search_table") {
      import spark.implicits._
      val qdf = qs.toSeq.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "qvec")
      AnnSearch.searchTable(table.index, qdf, K, queryVecCol = Some("qvec"), queryIdCol = Some("qid"))
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    } else run.trace.span("index.search_batch") {
      table.index.searchBatch(qs.toSeq, K)
        .select("query_idx", "id").collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    }

  private def meanRecall(qs: Array[Array[Float]], got: Map[Long, Array[Long]], n: Int): Double =
    java.util.stream.IntStream.range(0, n).parallel()
      .mapToDouble(i => table.recall(qs(i), got.getOrElse(i.toLong, Array.empty[Long]).toSeq))
      .sum() / n

  def timed(deadlineMs: Double): Unit = timed(deadlineMs, Int.MaxValue, 0L)

  /** At least one whole interleave, so every op kind is measured. */
  private def timed(deadlineMs: Double, ops: Int, first: Long): Unit = {
    var i = first
    while (i - first < ops && (i - first < 5 || run.nowMs < deadlineMs)) {
      i % 5 match {
        case 1 =>
          run.op("hybrid")(hybrid(i)) { ids => ids.nonEmpty && ids.forall(id => id >= 0 && id < Rows) }
        case 4 =>
          val call = i / 5
          val qs = queries(call)
          val viaTable = call % 4 == 3
          run.op(if (viaTable) "search_table" else "search_batch")(search(qs, viaTable)) { res =>
            val got = res.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
            val full = got.size == Batch && got.values.forall(_.length == K)
            if (call == 0) { // the fixed evaluation batch: recall@10 and the top-k hash
              recallAt10 = meanRecall(qs, got, Batch)
              topkHash = Hashes.ids(res.toSeq)
            }
            full && meanRecall(qs, got, Checked) >= RecallFloor
          }
        case _ =>
          run.op("sql_topk")(sqlTopK(i)) { case (df, res) =>
            // a silent fallback to a full sort is a failure, not a slow op
            val rewritten = GraftBridge.optimizedPlan(df).toString.contains("__ann_index_scan_")
            val sorted = res.map(_._2).sameElements(res.map(_._2).sorted)
            if (rewritten && res.length == K) {
              sqlRecall += table.recall(Gen.vec(seed, Gen.QueryVec, i, Dim), res.map(_._1))
              sqlRecallN += 1
            }
            rewritten && res.length == K && sorted && res.forall(r => r._1 >= 0 && r._1 < Rows)
          }
      }
      i += 1
    }
  }

  private def batchQps: Double = run.medianRate(Batch, "search_batch", "search_table")

  def headline: (Double, Double) = (batchQps, recallAt10)

  def named = Seq(
    ("sql_topk_p50_ms", run.p50("sql_topk"), "ms"),
    ("hybrid_p50_ms", run.p50("hybrid"), "ms"),
    ("search_batch_p50_ms", run.p50("search_batch"), "ms"),
    ("batch_qps", batchQps, "queries/s"),
    ("recall_at_10", recallAt10, "ratio"),
    ("sql_topk_recall_at_10", sqlRecall / math.max(1, sqlRecallN), "ratio"))

  override def info = Seq("input_hash" -> table.inputHash, "topk_hash" -> topkHash)
}
