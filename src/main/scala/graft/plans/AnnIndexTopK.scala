package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.AnnFunctions.vector_nonnull
import graft.index.AnnIndexManager

/** Index-backed top-k over a base plan: the node both rewrite paths plan to
  * — [[AnnTopKRule]] (`ORDER BY distance LIMIT k` over an indexed table)
  * and `AnnIndex.search` (the `ann_search` TVF). The reference's shape: an
  * index scan returns row ids, then the rows are fetched
  * (src/ann_optimizer.cpp:560-576, row fetch :114-118).
  *
  * Nothing runs until execution ([[AnnIndexTopKExec]]): the query vector is
  * a slot, so a new literal costs only the rule match, and `explain()`
  * starts no job.
  *
  * @param query     the raw query vector (the index prepares it)
  * @param k         rows returned
  * @param fetchK    index hits fetched: k, or k×overfetch for a re-rank
  * @param rerank    order by the EXACT distance recomputed from the base
  *                  rows' raw vectors (quantized indexes), not the index's
  * @param base      the analyzed base plan — not a child: the exec runs it
  *                  itself, filtered to the hit ids
  * @param idOrdinal the base id column's position in `base.output`
  * @param columns   positions in `base.output` of the emitted base columns
  * @param output    the emitted columns (then `_distance`, when present)
  */
case class AnnIndexTopK(indexPath: String, indexName: String, query: Array[Float],
                        k: Int, fetchK: Int, searchParam: Int, rerank: Boolean,
                        base: LogicalPlan, idOrdinal: Int, columns: Seq[Int],
                        output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {

  def emitsDistance: Boolean = output.length > columns.length

  /** The explain label — the analogue of the reference's
    * `ANN_INDEX_SCAN (index:…, k:…)` (src/ann_optimizer.cpp:509-524). */
  def marker: String = s"__ann_index_scan_${indexName}_k$k"

  override def simpleString(maxFields: Int): String =
    s"AnnIndexTopK $marker fetch=$fetchK${if (rerank) " rerank" else ""} " +
      output.mkString("[", ", ", "]")

  override def computeStats(): Statistics = {
    val rowBytes = output.map(_.dataType.defaultSize.toLong).sum + 8L
    Statistics(sizeInBytes = BigInt(k) * rowBytes, rowCount = Some(BigInt(k)))
  }

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
}

/** Runs [[AnnIndexTopK]] in two jobs:
  *  1. hits — the top `fetchK` (id, distance) from the index, collected
  *     (one job; a pinned graph index schedules only its occupied shard
  *     partitions);
  *  2. fetch — `id IN (hits)` over the base plan (pushed down to its scan),
  *     coalesced to one task that attaches the distance, orders by
  *     (distance, id) and keeps k. That RDD is this node's output, so the
  *     query's own collect is the fetch job.
  *
  * `node` is not shipped to tasks (its base plan holds the relation's
  * file index, which does not serialize); operators that ship their
  * subtree to executors (a codegen'd sort over this leaf) see `output`
  * alone. */
case class AnnIndexTopKExec(output: Seq[Attribute], @transient node: AnnIndexTopK)
    extends LeafExecNode {

  override def simpleString(maxFields: Int): String =
    s"AnnIndexTopKExec ${node.marker} fetch=${node.fetchK}" +
      s"${if (node.rerank) " rerank" else ""} " + output.mkString("[", ", ", "]")

  override protected def doExecute(): RDD[InternalRow] =
    AnnIndexTopKExec.run(session, node)
}

object AnnIndexTopKExec {

  def run(spark: SparkSession, n: AnnIndexTopK): RDD[InternalRow] = {
    val idx = AnnIndexManager.load(spark, n.indexPath)
    val hits = idx.scan(n.query, n.fetchK, n.searchParam).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val baseOut = n.base.output
    val id = GraftBridge.column(baseOut(n.idOrdinal))
    val dist: Seq[Column] =
      if (!n.rerank) Nil
      else Seq(idx.rawDistColumn(vector_nonnull(col(idx.meta.vecCol)),
        typedLit(idx.prepQuery(n.query))))
    // fetched row: emitted columns, id as BIGINT, the re-rank distance
    val fetched = GraftBridge.ofRows(spark, n.base)
      .filter(id.isin(hits.keys.toSeq: _*))
      .coalesce(1)
      .select(n.columns.map(i => GraftBridge.column(baseOut(i))) ++
        (id.cast(LongType) +: dist): _*)

    val nc = n.columns.length
    val k = n.k
    val rerank = n.rerank
    val fields = n.columns.indices.map(i => BoundReference(i, n.output(i).dataType,
      n.output(i).nullable)) ++
      (if (n.emitsDistance) Seq(BoundReference(nc + 1 + dist.length, DoubleType, false)) else Nil)
    fetched.queryExecution.toRdd.mapPartitions { rows =>
      val scored = rows.map { r =>
        val rid = r.getLong(nc)
        (if (rerank) r.getDouble(nc + 1) else hits(rid), rid, r.copy())
      }.toArray
      // SQL ordering (-0.0 = 0.0, NaN last) on (distance, id); the sort is
      // stable, so duplicate base ids keep their scan order
      val top = scored.sortWith { case ((d1, i1, _), (d2, i2, _)) =>
        val c = SQLOrderingUtil.compareDoubles(d1, d2)
        c < 0 || (c == 0 && i1 < i2)
      }.take(k)
      val project = UnsafeProjection.create(fields)
      val withDist = new JoinedRow
      top.iterator.map { case (d, _, r) =>
        project(withDist(r, InternalRow(d))).copy()
      }
    }
  }
}

/** Plans [[AnnIndexTopK]] to [[AnnIndexTopKExec]] (registered by
  * [[AnnOptimizer]] and [[AnnExtensions]]). */
object AnnIndexTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AnnIndexTopK => AnnIndexTopKExec(n.output, n) :: Nil
    case _ => Nil
  }
}
