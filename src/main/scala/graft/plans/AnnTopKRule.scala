package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{CosineSimilarity, InnerProduct, L2Distance, L2DistanceSq}
import graft.index.AnnIndexManager

/** Optimizer rewrite: `ORDER BY <distance fn>(col, const) LIMIT k` over a
  * relation with a registered ANN index → index-backed top-k scan
  * (reference: src/ann_optimizer.cpp:348-530 — pattern validation, metric
  * routing, cost gates, cardinality=k, ORDER BY removal).
  *
  * Metric routing mirrors the reference's 6-function table
  * (src/ann_optimizer.cpp:237-258): `l2_distance(_sq)` ASC → l2 index,
  * `inner_product` DESC (or negated ASC) → ip index, `cosine_similarity`
  * DESC (or `1 - cos` ASC) → cosine index. The wrong direction for a
  * metric (e.g. l2 DESC) never rewrites — the reference tests that
  * negative case (test/sql/faiss_optimizer.test:72-80).
  *
  * Differences from the reference, on purpose:
  *  - standalone ORDER BY without LIMIT is NOT rewritten (the reference
  *    silently truncates to k=100, src/ann_optimizer.cpp:555-557 — a bug
  *    we don't replicate);
  *  - a FILTER between sort and scan bails out here too, but the engine
  *    offers `AnnSearch.searchFiltered` (overfetch) as the supported path.
  *
  * Cost gates (reference :459-472) are confs:
  * `spark.ann.minTableRows` (50), `spark.ann.maxSelectivity` (0.1),
  * `spark.ann.maxSelectivityGraph` (0.3).
  *
  * The rewrite replaces `Limit(Sort(...))` with the projections between
  * the sort and the scan, over an [[AnnIndexTopK]] leaf in place of the
  * relation. That leaf plans to one exec which, at execution time, runs a
  * hits job (the top k, or k×mult for a quantized index, ids and distances
  * from the index) and then a one-task fetch job (`id IN (hits)` pushed
  * down to the relation's scan, ordered by (distance, id), cut to k). The
  * optimizer itself only matches the pattern and reads cached index
  * metadata. The leaf's plan string carries the marker
  * `__ann_index_scan_<index>_k<k>`, so `df.explain()` shows whether the
  * index was used — the analogue of the reference's
  * `ANN_INDEX_SCAN (index:…, k:…)` plan label
  * (src/ann_optimizer.cpp:509-524).
  */
case class AnnTopKRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(Literal(k: Int, _), LocalLimit(_,
        Sort(Seq(SortOrder(sortExpr, direction, _, _)), true, sortChild, _))) =>
      tryRewrite(k, sortExpr, direction, sortChild).getOrElse(gl)
  }

  private def confInt(key: String, default: Int): Int =
    spark.conf.getOption(key).map(_.toInt).getOrElse(default)
  private def confDouble(key: String, default: Double): Double =
    spark.conf.getOption(key).map(_.toDouble).getOrElse(default)

  /** Resolve an attribute through intervening Projects to the expression
    * that defines it; bail on Filters/joins (reference bails on FILTER,
    * src/ann_optimizer.cpp:479-481). */
  private def resolveThroughProjects(e: Expression, plan: LogicalPlan): Option[Expression] =
    e match {
      case a: AttributeReference => plan match {
        case Project(exprs, child) =>
          exprs.collectFirst {
            case al @ Alias(aliased, _) if al.exprId == a.exprId => aliased
          } match {
            case Some(found) => resolveThroughProjects(found, child)
            case None => resolveThroughProjects(a, child) // pass-through column
          }
        case _: LogicalRelation => Some(a)
        case _ => None
      }
      case other => Some(other)
    }

  private def findRelation(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case lr: LogicalRelation => Some(lr)
    case Project(_, child) => findRelation(child)
    case _ => None // Filter or anything else → bail out
  }

  /** Null-safe: a typed NULL array literal (or null elements in a
    * GenericArrayData) must make the rule bail, never throw. */
  private def literalToFloats(lit: Literal): Option[Array[Float]] =
    if (lit.value == null) None
    else scala.util.Try(lit.dataType match {
      case ArrayType(FloatType, _) =>
        Some(lit.value.asInstanceOf[ArrayData].toFloatArray())
      case ArrayType(DoubleType, _) =>
        Some(lit.value.asInstanceOf[ArrayData].toDoubleArray().map(_.toFloat))
      case _ => None
    }).toOption.flatten

  /** Distance-function pattern → (required index metric, vector column,
    * query literal). Direction-sensitive, as in the reference's metric
    * table (src/ann_optimizer.cpp:237-258). */
  private def matchDistance(resolved: Expression,
                            direction: SortDirection): Option[(String, AttributeReference, Option[Array[Float]])] = {
    def args(l: Expression, r: Expression): Option[(AttributeReference, Option[Array[Float]])] =
      (l, r) match {
        case (a: AttributeReference, lit: Literal) => Some((a, literalToFloats(lit)))
        case (lit: Literal, a: AttributeReference) => Some((a, literalToFloats(lit)))
        case _ => None
      }
    (resolved, direction) match {
      // smaller-is-better functions, ascending
      case (L2Distance(l, r), Ascending)   => args(l, r).map { case (a, q) => ("l2", a, q) }
      case (L2DistanceSq(l, r), Ascending) => args(l, r).map { case (a, q) => ("l2", a, q) }
      // larger-is-better functions, descending
      case (InnerProduct(l, r), Descending)     => args(l, r).map { case (a, q) => ("ip", a, q) }
      case (CosineSimilarity(l, r), Descending) => args(l, r).map { case (a, q) => ("cosine", a, q) }
      // ...or their negated/complemented ascending forms
      case (UnaryMinus(InnerProduct(l, r), _), Ascending) =>
        args(l, r).map { case (a, q) => ("ip", a, q) }
      case (UnaryMinus(CosineSimilarity(l, r), _), Ascending) =>
        args(l, r).map { case (a, q) => ("cosine", a, q) }
      case (Subtract(_: Literal, CosineSimilarity(l, r), _), Ascending) =>
        args(l, r).map { case (a, q) => ("cosine", a, q) }
      case _ => None
    }
  }

  /** An optimizer rule must NEVER turn a valid query into an error: any
    * exception during rewrite construction (malformed spark.ann.* confs,
    * unreadable index metadata) means "don't rewrite", with the cause
    * logged for diagnosis. */
  private def tryRewrite(k: Int, sortExpr: Expression, direction: SortDirection,
                         sortChild: LogicalPlan): Option[LogicalPlan] =
    try doRewrite(k, sortExpr, direction, sortChild)
    catch {
      case scala.util.control.NonFatal(e) =>
        logInfo(s"AnnTopKRule: rewrite skipped after error: ${e.getMessage}")
        None
    }

  private def doRewrite(k: Int, sortExpr: Expression, direction: SortDirection,
                        sortChild: LogicalPlan): Option[LogicalPlan] = {
    val relation = findRelation(sortChild).getOrElse(return None)
    val resolved = resolveThroughProjects(sortExpr, sortChild).getOrElse(return None)

    val (metricNeeded, vecAttr, qvec) =
      matchDistance(resolved, direction).getOrElse(return None)
    val q = qvec.getOrElse(return None)

    // the sorted column must come straight from the scanned relation
    if (!relation.output.exists(_.exprId == vecAttr.exprId)) return None

    val relPaths: Seq[String] = relation.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString.stripPrefix("file:"))
      case _ => return None
    }

    // locate a registered, metric-compatible index on that path + column
    // (metadata served from the mtime-keyed cache — with a large catalog,
    // per-query disk reads of every meta.json would stall the optimizer).
    // Deterministic routing when several indexes match: prefer a lossless
    // (non-quantized) index, then lowest name — registry iteration order
    // (a concurrent map) must never decide query semantics.
    val hit = AnnIndexManager.registered.iterator.flatMap { case (_, path) =>
      AnnIndexManager.cachedMeta(path).map(m => (path, m))
    }.filter { case (_, m) =>
      m.metric == metricNeeded && m.vecCol == vecAttr.name &&
        m.params.get("table_path").exists(tp =>
          relPaths.exists(rp => rp == tp || rp.stripSuffix("/") == tp.stripSuffix("/")))
    }.toSeq.sortBy { case (_, m) => (m.quantized, m.name) }.headOption
    val (idxPath, meta) = hit.getOrElse(return None)

    // cost gates (reference: src/ann_optimizer.cpp:459-472)
    val n = meta.numVectors
    if (n < confInt("spark.ann.minTableRows", 50)) return None
    val maxSel = if (meta.engine == "DISKANN")
      confDouble("spark.ann.maxSelectivityGraph", 0.3)
    else confDouble("spark.ann.maxSelectivity", 0.1)
    if (k > n * maxSel) return None

    val idOrdinal = relation.output.indexWhere(a => conf.resolver(a.name, meta.idCol))
    if (idOrdinal < 0) return None

    logInfo(s"AnnTopKRule: rewriting ORDER BY ${resolved.prettyName} " +
      s"${direction.sql} LIMIT $k to index scan " +
      s"(index=${meta.name}, engine=${meta.engine}, metric=$metricNeeded, k=$k)")

    // Quantized index: ADC/decoded distances pick the candidates, but the
    // user wrote an EXACT ORDER BY — overfetch k×mult and re-rank on the
    // base table's raw floats (the IndexRefineFlat pattern), so
    // quantization degrades candidate selection only, never the visible
    // ordering. mult is `spark.ann.quantizedRerankMultiplier` (4).
    val mult =
      if (meta.quantized) math.max(1, confInt("spark.ann.quantizedRerankMultiplier", 4))
      else 1
    // the node emits only the relation columns the projections above it
    // read (a bare relation: all), under their original exprIds — the
    // projections then evaluate unchanged over the k fetched rows
    val projections = sortChild.collect { case p: Project => p }
    val needed = projections.foldLeft(AttributeSet.empty)(_ ++ _.references)
    val columns = relation.output.indices.filter(i =>
      projections.isEmpty || needed.contains(relation.output(i)))
    val node = AnnIndexTopK(idxPath, meta.name, q, k, k * mult, searchParam = -1,
      rerank = meta.quantized, relation, idOrdinal, columns, columns.map(relation.output))
    Some(sortChild.transformUp { case r: LogicalRelation if r eq relation => node })
  }
}

/** Session-extension registration (`withExtensions`) and runtime enabling
  * for existing sessions (`spark.experimental.extraOptimizations`). */
class AnnExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(s => AnnTopKRule(s))
    e.injectPlannerStrategy(_ => AnnIndexTopKStrategy)
  }
}

object AnnOptimizer {
  def enable(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[AnnTopKRule]))
      spark.experimental.extraOptimizations = existing :+ AnnTopKRule(spark)
    installPlanner(spark)
  }

  /** Register only the [[AnnIndexTopK]] planner strategy (idempotent) —
    * what `AnnIndex.search` needs to plan its node without the rule. */
  def installPlanner(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraStrategies
    if (!existing.contains(AnnIndexTopKStrategy))
      spark.experimental.extraStrategies = existing :+ AnnIndexTopKStrategy
  }

  def disable(spark: SparkSession): Unit = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[AnnTopKRule])
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_ == AnnIndexTopKStrategy)
  }
}
