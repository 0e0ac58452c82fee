package graft.operators

import graft.index.AnnIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall@k evaluation harness: scores an index configuration against the
  * EXACT exhaustive ranking over its own stored rows — the operator form
  * of the reference's recall test harness (its sqllogictests compute
  * ground truth via a no-index `ORDER BY array_distance LIMIT k` and
  * assert >= 7/10 overlap on sampled queries,
  * test/sql/diskann_streaming.test:29-55). Users tune nprobe /
  * search_complexity / ef against measured recall instead of guessing.
  *
  * Ground truth is exact over the STORED representation (quantized
  * indexes: decoded/ADC distances), so the number isolates the search
  * structure's loss (probe/beam truncation) from codec loss; pair with
  * `search(rerank=true)` comparisons to measure end-to-end loss instead.
  *
  * Scale posture: both sides are batch jobs — ground truth is one
  * crossJoin(broadcast queries) scan with map-side grouped top-k (the
  * knn_batch plan), the approximate side is the engine's own searchBatch;
  * the join/agg run over <= 2·nq·k rows. Nothing is collected until the
  * nq-row result.
  */
object Recall {

  /** recall@k per query: (query_idx, hits, k, recall), hits = |approx ∩
    * exact|. `searchParam` is the engine knob under evaluation (IVF
    * nprobe; graph beam width). */
  def evaluate(idx: AnnIndex, qs: Seq[Array[Float]], k: Int,
               searchParam: Int = -1): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    require(qs.nonEmpty, "recall evaluation needs at least one query")

    // exact exhaustive top-k over the stored rows (engine-independent:
    // never trusts probe/beam structures)
    val queriesDf = qs.zipWithIndex
      .map { case (q, i) => (i, idx.prepQuery(q)) }.toDF("query_idx", "qvec")
    val scored = idx.live.crossJoin(broadcast(queriesDf))
      .withColumn("_distance", idx.distColumn(col(idx.dataVecCol), col("qvec")))
      .select("query_idx", "id", "_distance")
    val exact = TopK.grouped(scored, "query_idx", "_distance", "id", k)
      .select(col("query_idx"), col("id"))

    val approx = idx.searchBatch(qs, k, searchParam)
      .select(col("query_idx"), col("id"))

    val hits = approx.join(exact, Seq("query_idx", "id"))
      .groupBy("query_idx").agg(count(lit(1)).as("hits"))

    // left join from the full query range keeps zero-hit queries visible
    val allQ = qs.indices.toDF("query_idx")
    allQ.join(hits, Seq("query_idx"), "left")
      .select(
        col("query_idx"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        lit(k).cast("long").as("k"),
        (coalesce(col("hits"), lit(0L)) / k.toDouble).as("recall"))
      .orderBy("query_idx")
  }

  /** Mean recall@k over the batch — the single tuning number. */
  def meanRecall(idx: AnnIndex, qs: Seq[Array[Float]], k: Int,
                 searchParam: Int = -1): Double = {
    val r = evaluate(idx, qs, k, searchParam)
      .agg(avg(col("recall"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Range-search recall for the graph expanding-beam path
    * ([[AnnIndex.rangeScanBeam]] / its batch form `rangeBeamTable`):
    * fraction of the EXACT within-radius set (the exhaustive distance
    * filter over the index's live rows — [[AnnIndex.rangeScan]]'s graph
    * plan) that the beam returns, per query. Precision is 1 by
    * construction — the beam filters on TRUE engine distances, so every
    * returned row is genuinely within the radius and recall is the only
    * quality axis. A query whose exact result is empty scores recall 1.
    *
    * Scale posture mirrors [[evaluate]]: ground truth is one
    * crossJoin(broadcast queries) distance scan; the approximate side is
    * the distributed beam table path. Nothing collects until the nq-row
    * result.
    *
    * @return (query_idx, hits, total, recall) ordered by query_idx */
  def rangeRecall(idx: AnnIndex, qs: Seq[Array[Float]], radius: Double,
                  eps: Double = AnnIndex.RangeBeamEps,
                  searchParam: Int = -1): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    require(qs.nonEmpty, "range recall evaluation needs at least one query")
    val queriesDf = qs.zipWithIndex
      .map { case (q, i) => (i, idx.prepQuery(q)) }.toDF("query_idx", "qvec")
    val exact = idx.live.crossJoin(broadcast(queriesDf))
      .withColumn("_distance", idx.distColumn(col(idx.dataVecCol), col("qvec")))
      .filter(col("_distance") <= radius)
      .select(col("query_idx"), col("id"))
    val approx = idx.rangeBeamTable(
        queriesDf.select(col("query_idx").as("__qid"), col("qvec").as("__qvec")),
        radius, eps, searchParam)
      .select(col("__qid").as("query_idx"), col("id"))
    val totals = exact.groupBy("query_idx").agg(count(lit(1)).as("total"))
    val hits = approx.join(exact, Seq("query_idx", "id"))
      .groupBy("query_idx").agg(count(lit(1)).as("hits"))
    val allQ = qs.indices.toDF("query_idx")
    allQ.join(totals, Seq("query_idx"), "left")
      .join(hits, Seq("query_idx"), "left")
      .select(
        col("query_idx"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("total"), lit(0L)).as("total"),
        when(coalesce(col("total"), lit(0L)) === 0L, lit(1.0))
          .otherwise(coalesce(col("hits"), lit(0L)) /
            col("total").cast("double")).as("recall"))
      .orderBy("query_idx")
  }

  /** Mean range recall over the batch — the single tuning number for
    * `eps` / the initial beam width. */
  def meanRangeRecall(idx: AnnIndex, qs: Seq[Array[Float]], radius: Double,
                      eps: Double = AnnIndex.RangeBeamEps,
                      searchParam: Int = -1): Double = {
    val r = rangeRecall(idx, qs, radius, eps, searchParam)
      .agg(avg(col("recall"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
