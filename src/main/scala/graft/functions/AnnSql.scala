package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.index.AnnIndexManager

/** SQL table-valued-function surface, mirroring the reference's TVF
  * registrations (src/ann_search.cpp:1165-1218, src/ann_list.cpp:88-222,
  * src/diskann_functions.cpp:118-125) — the FULL function list, so a
  * reference SQL user can run every query they run today:
  *
  *   SELECT * FROM ann_index_scan('idx', array(...), 10[, search_param])
  *   SELECT * FROM ann_search('tbl', 'idx', array(...), 10[, oversample])
  *   SELECT * FROM ann_search_batch('idx', array(array(...), ...), 10[, sp])
  *   SELECT * FROM ann_search_table(TABLE(queries), 'idx', 10[, nprobe])
  *   SELECT * FROM vector_distances(TABLE(t), 'vec_col', array(...)[, metric])
  *   SELECT * FROM hybrid_search(TABLE(docs), 'id', 'text', 'idx', 'query text', array(...), 10)
  *   SELECT * FROM diskann_streaming_build('in.bin', '/out/dir'[, 'name'])
  *   SELECT * FROM ann_list() / ann_index_info() / ann_engine_info()
  *   SELECT * FROM ann_create_index('idx', '/t.parquet', 'id', 'vec', 'IVF', 'metric=l2,nlist=16')
  *
  * TABLE(...) arguments arrive as `FunctionTableSubqueryArgumentExpression`
  * and their analyzed child plan is embedded directly into the returned
  * plan — the Spark-native analogue of the reference's in-out table
  * functions (chunk-at-a-time backpressure becomes plain iterator pull).
  *
  * Scalar functions (l2_distance etc.) are registered by [[AnnFunctions]].
  */
object AnnSql {

  /** Extract a constant float vector from a parsed (possibly unresolved)
    * argument expression: a folded Literal array, or array(...) of numeric
    * literals straight from the parser. */
  private def constVector(e: Expression): Array[Float] = e match {
    case Literal(a: ArrayData, ArrayType(FloatType, _)) => a.toFloatArray()
    case Literal(a: ArrayData, ArrayType(DoubleType, _)) => a.toDoubleArray().map(_.toFloat)
    case CreateArray(children, _) => children.map(constNum).toArray
    case uf: UnresolvedFunction if uf.nameParts.map(_.toLowerCase) == Seq("array") =>
      uf.arguments.map(constNum).toArray
    case other => throw new IllegalArgumentException(
      s"expected a constant array literal query vector, got: ${other.sql}")
  }

  private def constNum(e: Expression): Float = e match {
    case Literal(v: java.lang.Number, _) => v.floatValue()
    case Literal(d: Decimal, _) => d.toFloat
    case UnaryMinus(inner, _) => -constNum(inner)
    case Cast(inner, _, _, _) => constNum(inner)
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got: ${other.sql}")
  }

  private def constString(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got: ${other.sql}")
  }

  private def constInt(e: Expression): Int = e match {
    case Literal(v: java.lang.Number, _) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got: ${other.sql}")
  }

  /** Constant list of query vectors: array(array(...), array(...)). */
  private def constVectorList(e: Expression): Seq[Array[Float]] = e match {
    case CreateArray(children, _) => children.map(constVector)
    case uf: UnresolvedFunction if uf.nameParts.map(_.toLowerCase) == Seq("array") =>
      uf.arguments.map(constVector)
    case Literal(a: ArrayData, ArrayType(ArrayType(et, _), _)) =>
      (0 until a.numElements()).map { i =>
        val inner = a.getArray(i)
        et match {
          case FloatType => inner.toFloatArray()
          case DoubleType => inner.toDoubleArray().map(_.toFloat)
          case _ => throw new IllegalArgumentException(
            s"expected float/double vectors, got element type $et")
        }
      }
    case other => throw new IllegalArgumentException(
      s"expected a constant array-of-arrays literal, got: ${other.sql}")
  }

  /** 'k=v,...' params CSV → map. Values may be single-quoted so that
    * faiss-factory description strings keep their inner commas, e.g.
    * "description='IVF16,PQ8',metric=l2". Quotes are stripped; '' inside
    * a quoted value is a literal quote (SQL-style escaping). */
  private[graft] def parseParamsCsv(csv: String): Map[String, String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < csv.length) {
      val ch = csv.charAt(i)
      if (ch == '\'') {
        if (inQuote && i + 1 < csv.length && csv.charAt(i + 1) == '\'') {
          cur.append('\''); i += 1 // escaped quote inside quoted value
        } else inQuote = !inQuote
      } else if (ch == ',' && !inQuote) {
        parts += cur.toString; cur.clear()
      } else cur.append(ch)
      i += 1
    }
    require(!inQuote, s"unterminated quote in params CSV: $csv")
    parts += cur.toString
    parts.iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      require(j > 0, s"ann_create_index params must be 'key=value,...', got: $kv")
      kv.substring(0, j).trim -> kv.substring(j + 1).trim
    }.toMap
  }

  /** TABLE(...) argument → its analyzed child plan as a DataFrame. */
  private def tableArg(spark: SparkSession, e: Expression): org.apache.spark.sql.DataFrame =
    e match {
      case t: FunctionTableSubqueryArgumentExpression =>
        GraftBridge.ofRows(spark, t.plan.asInstanceOf[LogicalPlan])
      case other => throw new IllegalArgumentException(
        s"expected a TABLE(...) argument, got: ${other.sql}")
    }

  private def indexByName(spark: SparkSession, name: String): graft.index.AnnIndex = {
    val path = AnnIndexManager.registered.getOrElse(name,
      throw new IllegalArgumentException(s"unknown ANN index: $name"))
    AnnIndexManager.load(spark, path)
  }

  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.tableFunctionRegistry

    def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
      GraftBridge.analyzedPlan(df)

    r.createOrReplaceTempFunction("ann_list",
      (_: Seq[Expression]) => plan(AnnIndexManager.list(spark)), "scala_udf")

    r.createOrReplaceTempFunction("ann_index_info",
      (_: Seq[Expression]) => plan(AnnIndexManager.info(spark)), "scala_udf")

    r.createOrReplaceTempFunction("ann_engine_info",
      (_: Seq[Expression]) => plan(AnnIndexManager.engineInfo(spark)), "scala_udf")

    // ann_index_scan(index_name, query_vec, k [, search_param])
    // → (id BIGINT, _distance DOUBLE), pre-sorted (S1/S2)
    r.createOrReplaceTempFunction("ann_index_scan", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: ann_index_scan(name, query_vec, k[, search_param])")
      val name = constString(exprs(0))
      val q = constVector(exprs(1))
      val k = constInt(exprs(2))
      val sp = if (exprs.length > 3) constInt(exprs(3)) else -1
      plan(indexByName(spark, name).scan(q, k, sp))
    }, "scala_udf")

    // ann_range_search(index_name, query_vec, radius [, search_param])
    // → (id BIGINT, _distance DOUBLE), every live row within the radius
    // (faiss range_search analogue; no top-k cut)
    r.createOrReplaceTempFunction("ann_range_search", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: ann_range_search(name, query_vec, radius[, search_param])")
      val name = constString(exprs(0))
      val q = constVector(exprs(1))
      val radius = constNum(exprs(2)).toDouble
      val sp = if (exprs.length > 3) constInt(exprs(3)) else -1
      plan(indexByName(spark, name).rangeScan(q, radius, sp))
    }, "scala_udf")

    // ann_range_search_table(TABLE(queries), index_name, radius
    //   [, qid_col, qvec_col]) → (qid, id, _distance): batch range — every
    // index row within radius of each query row, per-query cell-pruned on
    // IVF/l2 (AnnSearch.rangeTable)
    r.createOrReplaceTempFunction("ann_range_search_table", (exprs: Seq[Expression]) => {
      require(exprs.length == 3 || exprs.length == 5,
        "usage: ann_range_search_table(TABLE(queries), index, radius[, qid_col, qvec_col])")
      val queries = tableArg(spark, exprs(0))
      val idx = indexByName(spark, constString(exprs(1)))
      val radius = constNum(exprs(2)).toDouble
      val (qid, qvec) =
        if (exprs.length == 5) (Some(constString(exprs(3))), Some(constString(exprs(4))))
        else (None, None)
      plan(graft.operators.AnnSearch.rangeTable(idx, queries, radius,
        queryVecCol = qvec, queryIdCol = qid))
    }, "scala_udf")

    // ann_search(table_name, index_name, query_vec, k[, oversample]) →
    // base-table rows fetched by the hit ids (S3, reference convenience
    // fn src/ann_search.cpp:31-195)
    r.createOrReplaceTempFunction("ann_search", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 5,
        "usage: ann_search(table, index, query_vec, k[, oversample])")
      val base = spark.table(constString(exprs(0)))
      val idx = indexByName(spark, constString(exprs(1)))
      val q = constVector(exprs(2))
      val k = constInt(exprs(3))
      val os = if (exprs.length > 4) constInt(exprs(4)) else 1
      plan(idx.search(base, idx.meta.idCol, q, k, oversample = os))
    }, "scala_udf")

    // ann_search_batch(index_name, array(array(...), ...), k[, search_param])
    // → (query_idx, id, _distance) (S4)
    r.createOrReplaceTempFunction("ann_search_batch", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: ann_search_batch(name, query_vecs, k[, search_param])")
      val idx = indexByName(spark, constString(exprs(0)))
      val qs = constVectorList(exprs(1))
      val k = constInt(exprs(2))
      val sp = if (exprs.length > 3) constInt(exprs(3)) else -1
      plan(idx.searchBatch(qs, k, sp))
    }, "scala_udf")

    // ann_search_filtered(table_name, index_name, query_vec, k, predicate_sql
    // [, nprobe]) → filtered search via overfetch-and-post-filter with the
    // exact brute-force fallback (the capability the reference documents
    // but never implements — its optimizer bails out on any FILTER)
    r.createOrReplaceTempFunction("ann_search_filtered", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 6,
        "usage: ann_search_filtered(table, index, query_vec, k, predicate_sql[, nprobe])")
      val base = spark.table(constString(exprs(0)))
      val idx = indexByName(spark, constString(exprs(1)))
      val q = constVector(exprs(2))
      val k = constInt(exprs(3))
      val pred = org.apache.spark.sql.functions.expr(constString(exprs(4)))
      val np = if (exprs.length > 5) constInt(exprs(5)) else -1
      plan(graft.operators.AnnSearch.searchFiltered(
        idx, base, idx.meta.idCol, q, k, pred, nprobe = np))
    }, "scala_udf")

    // ann_mmr(table_name, index_name, query_vec, k[, lambda[, oversample]])
    // → (rank, id, mmr_score): MMR diversity re-rank over a k·oversample
    // candidate pool from the index (fetches vectors through the table)
    r.createOrReplaceTempFunction("ann_mmr", (exprs: Seq[Expression]) => {
      require(exprs.length >= 4 && exprs.length <= 6,
        "usage: ann_mmr(table, index, query_vec, k[, lambda[, oversample]])")
      val base = spark.table(constString(exprs(0)))
      val idx = indexByName(spark, constString(exprs(1)))
      val q = constVector(exprs(2))
      val k = constInt(exprs(3))
      val lambda = if (exprs.length > 4) constNum(exprs(4)).toDouble else 0.7
      val os = if (exprs.length > 5) constInt(exprs(5)) else 4
      val hits = idx.scan(q, k * math.max(1, os))
      val withVecs = hits.join(
        base.select(base(idx.meta.idCol).as("id"), base(idx.meta.vecCol)), "id")
      plan(graft.operators.Diversify.mmr(
        withVecs, "id", idx.meta.vecCol, "_distance", k, lambda))
    }, "scala_udf")

    // ann_mmr_table(table_name, index_name, TABLE(queries), qid_col,
    //   qvec_col, k[, lambda[, oversample]]) → (qid, rank, id, mmr_score):
    // grouped MMR — per-query candidate pools from the table-input search,
    // greedy-selected executor-side (queries fan out, nothing collects)
    r.createOrReplaceTempFunction("ann_mmr_table", (exprs: Seq[Expression]) => {
      require(exprs.length >= 6 && exprs.length <= 8,
        "usage: ann_mmr_table(table, index, TABLE(queries), qid_col, qvec_col, " +
          "k[, lambda[, oversample]])")
      val base = spark.table(constString(exprs(0)))
      val idx = indexByName(spark, constString(exprs(1)))
      val queries = tableArg(spark, exprs(2))
      val qidCol = constString(exprs(3))
      val qvecCol = constString(exprs(4))
      val k = constInt(exprs(5))
      val lambda = if (exprs.length > 6) constNum(exprs(6)).toDouble else 0.7
      val os = if (exprs.length > 7) constInt(exprs(7)) else 4
      val hits = graft.operators.AnnSearch.searchTable(idx, queries,
        k * math.max(1, os), queryVecCol = Some(qvecCol), queryIdCol = Some(qidCol))
      // hits passes ALL query-relation columns through; project down to
      // (qid, id, _distance) BEFORE joining base vectors, else a query
      // relation whose vector column shares the index vecCol's name (both
      // 'embedding', say) makes the col(vecCol) reference below ambiguous
      val withVecs = hits.select(qidCol, "id", "_distance").join(
        base.select(base(idx.meta.idCol).as("id"), base(idx.meta.vecCol)), "id")
      plan(graft.operators.Diversify.mmrTable(
        withVecs, qidCol, "id", idx.meta.vecCol, "_distance", k, lambda))
    }, "scala_udf")

    // ann_recall(index_name, array(array(...), ...), k[, search_param])
    // → (query_idx, hits, k, recall): recall@k of the given knob vs exact
    // exhaustive ground truth over the stored rows (tuning harness)
    r.createOrReplaceTempFunction("ann_recall", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: ann_recall(name, query_vecs, k[, search_param])")
      val idx = indexByName(spark, constString(exprs(0)))
      val qs = constVectorList(exprs(1))
      val k = constInt(exprs(2))
      val sp = if (exprs.length > 3) constInt(exprs(3)) else -1
      plan(graft.operators.Recall.evaluate(idx, qs, k, sp))
    }, "scala_udf")

    // ann_search_table(TABLE(queries), index_name, k[, nprobe][, base_table])
    // — the flagship in-out operator (S5): input rows pass through, top-k
    // index hits appended per row; with a base_table name the matched base
    // ROWS are fetched too (the reference's full `input.*, base.*,
    // _distance` shape)
    r.createOrReplaceTempFunction("ann_search_table", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 5,
        "usage: ann_search_table(TABLE(queries), index, k[, nprobe][, base_table])")
      val queries = tableArg(spark, exprs(0))
      val idx = indexByName(spark, constString(exprs(1)))
      val k = constInt(exprs(2))
      // trailing args: an int is nprobe, a string is the base table name
      var np = -1
      var baseTable: Option[String] = None
      exprs.drop(3).foreach {
        case Literal(s, StringType) => baseTable = Some(s.toString)
        case e => np = constInt(e)
      }
      plan(baseTable match {
        case Some(t) => graft.operators.AnnSearch.searchTableFetch(
          idx, queries, spark.table(t), idx.meta.idCol, k, np)
        case None => graft.operators.AnnSearch.searchTable(idx, queries, k, np)
      })
    }, "scala_udf")

    // vector_distances(TABLE(t), vec_col, query_vec[, metric]) — input.* +
    // _distance, no top-k (S6)
    r.createOrReplaceTempFunction("vector_distances", (exprs: Seq[Expression]) => {
      require(exprs.length >= 3 && exprs.length <= 4,
        "usage: vector_distances(TABLE(t), vec_col, query_vec[, metric])")
      val t = tableArg(spark, exprs(0))
      val vecCol = constString(exprs(1))
      val q = constVector(exprs(2))
      val metric = if (exprs.length > 3) constString(exprs(3)) else "l2"
      plan(graft.operators.AnnSearch.vectorDistances(t, vecCol, q, metric))
    }, "scala_udf")

    // hybrid_search(TABLE(docs), id_col, text_col, index_name, query_text,
    // query_vec, k[, bm25_weight, vector_weight]) — BM25 + ANN fused by
    // weighted RRF (S7). The text inverted index is cached on the docs
    // plan's semantic hash, so repeated queries over the same relation
    // build it once (the reference delegates to a prebuilt FTS index).
    r.createOrReplaceTempFunction("hybrid_search", (exprs: Seq[Expression]) => {
      require(exprs.length >= 7 && exprs.length <= 9,
        "usage: hybrid_search(TABLE(docs), id_col, text_col, index, query_text, query_vec, k[, bm25_w, vec_w])")
      val docs = tableArg(spark, exprs(0))
      val idCol = constString(exprs(1))
      val textCol = constString(exprs(2))
      val idx = indexByName(spark, constString(exprs(3)))
      val qText = constString(exprs(4))
      val qVec = constVector(exprs(5))
      val k = constInt(exprs(6))
      val bw = if (exprs.length > 7) constNum(exprs(7)).toDouble else 0.3
      val vw = if (exprs.length > 8) constNum(exprs(8)).toDouble else 0.7
      val ti = graft.operators.HybridSearch.cachedTextIndex(docs, idCol, textCol)
      plan(graft.operators.HybridSearch.hybridSearch(docs, idCol, ti, idx,
        qText, qVec, k, bm25Weight = bw, vectorWeight = vw))
    }, "scala_udf")

    // hybrid_search_table(TABLE(docs), id_col, text_col, index_name,
    //   TABLE(queries), qid_col, qtext_col, qvec_col, k[, bm25_w, vec_w])
    // — the batch form of S7: N hybrid queries in ONE plan (scalar
    // semantics per query; ~order-of-magnitude cheaper per query than
    // repeated scalar calls, see HybridSearch.hybridSearchTable)
    r.createOrReplaceTempFunction("hybrid_search_table", (exprs: Seq[Expression]) => {
      require(exprs.length >= 9 && exprs.length <= 11,
        "usage: hybrid_search_table(TABLE(docs), id_col, text_col, index, " +
          "TABLE(queries), qid_col, qtext_col, qvec_col, k[, bm25_w, vec_w])")
      val docs = tableArg(spark, exprs(0))
      val idCol = constString(exprs(1))
      val textCol = constString(exprs(2))
      val idx = indexByName(spark, constString(exprs(3)))
      val queries = tableArg(spark, exprs(4))
      val qidCol = constString(exprs(5))
      val qtextCol = constString(exprs(6))
      val qvecCol = constString(exprs(7))
      val k = constInt(exprs(8))
      val bw = if (exprs.length > 9) constNum(exprs(9)).toDouble else 0.3
      val vw = if (exprs.length > 10) constNum(exprs(10)).toDouble else 0.7
      val ti = graft.operators.HybridSearch.cachedTextIndex(docs, idCol, textCol)
      plan(graft.operators.HybridSearch.hybridSearchTable(docs, idCol, ti, idx,
        queries, qidCol, qtextCol, qvecCol, k, bm25Weight = bw, vectorWeight = vw))
    }, "scala_udf")

    // ann_create_index(name, table_path, id_col, vec_col, engine
    //   [, 'k=v,...'[, index_path]]) → one row (name, engine, num_vectors,
    // dim) — the CREATE INDEX ... USING <engine> WITH (...) DDL analogue
    // (reference src/ann_extension.cpp:23-41). CALL semantics like
    // ann_drop_index: the build executes EAGERLY at analysis time (the
    // driver owns the registry; deferring would run it executor-side on a
    // real cluster). Params CSV carries the same keys as the Scala API,
    // e.g. 'metric=cosine,nlist=64,quantization=pq,pq_m=16'.
    r.createOrReplaceTempFunction("ann_create_index", (exprs: Seq[Expression]) => {
      require(exprs.length >= 5 && exprs.length <= 7,
        "usage: ann_create_index(name, table_path, id_col, vec_col, engine[, 'k=v,...'[, index_path]])")
      val name = constString(exprs(0))
      val tablePath = constString(exprs(1))
      val idCol = constString(exprs(2))
      val vecCol = constString(exprs(3))
      val engine = constString(exprs(4))
      val csv = if (exprs.length > 5) constString(exprs(5)) else ""
      val params = parseParamsCsv(csv) + ("table_path" -> tablePath)
      val path = if (exprs.length > 6) constString(exprs(6))
        else java.nio.file.Files.createTempDirectory(s"graft_sql_idx_$name").toString
      val idx = AnnIndexManager.create(spark, name,
        spark.read.parquet(tablePath), idCol, vecCol, engine, params, path)
      import spark.implicits._
      plan(Seq((idx.meta.name, idx.meta.engine, idx.meta.numVectors, idx.meta.dim))
        .toDF("name", "engine", "num_vectors", "dim"))
    }, "scala_udf")

    // ann_drop_index(name) → one row (name, dropped) — DROP INDEX
    // analogue with CALL/PRAGMA semantics: the drop executes EAGERLY at
    // analysis time (deferring to execution would run it executor-side,
    // mutating the wrong JVM's registry on a real cluster); EXPLAIN of a
    // statement containing this TVF therefore also drops
    r.createOrReplaceTempFunction("ann_drop_index", (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: ann_drop_index(name)")
      val name = constString(exprs(0))
      val dropped = AnnIndexManager.drop(name)
      import spark.implicits._
      plan(Seq((name, dropped)).toDF("name", "dropped"))
    }, "scala_udf")

    // ---- §2.10 maintenance verbs (CALL semantics, like ann_drop_index:
    // the mutation executes EAGERLY at analysis time — the driver owns the
    // index registry and the single-writer contract). The reference drives
    // these hooks from table DML (src/diskann_index.cpp:316-385); the SQL
    // analogue is an explicit verb per hook.

    // ann_insert(name, table_path[, id_col[, vec_col]]) → one row
    // (name, inserted, num_vectors, shards). Columns default to the ones
    // the index was created on. Honors spark.ann.onlineInsertMaxRows —
    // a small batch extends live shard graphs in place.
    r.createOrReplaceTempFunction("ann_insert", (exprs: Seq[Expression]) => {
      require(exprs.length >= 2 && exprs.length <= 4,
        "usage: ann_insert(name, table_path[, id_col[, vec_col]])")
      val name = constString(exprs(0))
      val idx = indexByName(spark, name)
      val idCol = if (exprs.length > 2) constString(exprs(2)) else idx.meta.idCol
      val vecCol = if (exprs.length > 3) constString(exprs(3)) else idx.meta.vecCol
      val rows = spark.read.parquet(constString(exprs(1)))
      // 'inserted' = the batch row count (footer-cheap), NOT the net
      // numVectors delta — an online rewrite may consolidate tombstoned
      // rows away in the same mutation, which would read as a negative
      // insert count here while being pure space reclamation
      val inserted = rows.count()
      idx.insert(rows, idCol, vecCol)
      import spark.implicits._
      plan(Seq((name, inserted, idx.meta.numVectors,
          idx.meta.param("shards", 1)))
        .toDF("name", "inserted", "num_vectors", "shards"))
    }, "scala_udf")

    // ann_delete(name, 'id,id,...') → one row (name, deleted, num_deleted)
    // — epoch tombstones, same semantics as the Scala delete
    r.createOrReplaceTempFunction("ann_delete", (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: ann_delete(name, 'id,id,...')")
      val name = constString(exprs(0))
      val ids = constString(exprs(1)).split(",").map(_.trim)
        .filter(_.nonEmpty).map(_.toLong).toSeq
      val idx = indexByName(spark, name)
      idx.delete(ids)
      import spark.implicits._
      plan(Seq((name, ids.size.toLong, idx.meta.numDeleted))
        .toDF("name", "deleted", "num_deleted"))
    }, "scala_udf")

    // ann_vacuum(name) → one row (name, num_vectors, num_deleted) —
    // rebuild without tombstoned rows, atomic replace
    r.createOrReplaceTempFunction("ann_vacuum", (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: ann_vacuum(name)")
      val name = constString(exprs(0))
      val idx = indexByName(spark, name)
      idx.vacuum()
      import spark.implicits._
      plan(Seq((name, idx.meta.numVectors, idx.meta.numDeleted))
        .toDF("name", "num_vectors", "num_deleted"))
    }, "scala_udf")

    // ann_compact(name[, min_rows]) → one row (name, merged, shards) —
    // fold undersized graph delta shards (no-op on FLAT/IVF-style layouts
    // is rejected by compactShards' engine check, mirroring the API)
    r.createOrReplaceTempFunction("ann_compact", (exprs: Seq[Expression]) => {
      require(exprs.length >= 1 && exprs.length <= 2,
        "usage: ann_compact(name[, min_rows])")
      val name = constString(exprs(0))
      val minRows = if (exprs.length > 1) constInt(exprs(1)).toLong else 0L
      val idx = indexByName(spark, name)
      val merged = idx.compactShards(minRows)
      import spark.implicits._
      plan(Seq((name, merged.toLong, idx.meta.param("shards", 1)))
        .toDF("name", "merged", "shards"))
    }, "scala_udf")

    // ann_gc(name) → one row (name, removed) — delete unmanifested shard
    // dirs (crashed writers' leftovers), making space reclamation
    // schedulable; single-writer contract, like every mutation verb here
    r.createOrReplaceTempFunction("ann_gc", (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: ann_gc(name)")
      val name = constString(exprs(0))
      val removed = indexByName(spark, name).gcOrphans()
      import spark.implicits._
      plan(Seq((name, removed.toLong)).toDF("name", "removed"))
    }, "scala_udf")

    // ann_pin_scan(name[, ttl_ms]) → one row (name, token, expires_ms) —
    // register a standing-reader pin BEFORE planning a scan expected to
    // outlive spark.ann.reclaimGraceMs: online mutations then defer
    // reclaiming any shard dir the pin's plan may reference. Lease file
    // under the index dir (cross-process); TTL-bounded
    // (spark.ann.scanPinTtlMs) so a crashed reader can't block
    // reclamation forever. Release with ann_unpin_scan(name, token).
    r.createOrReplaceTempFunction("ann_pin_scan", (exprs: Seq[Expression]) => {
      require(exprs.length >= 1 && exprs.length <= 2,
        "usage: ann_pin_scan(name[, ttl_ms])")
      val name = constString(exprs(0))
      val ttl = if (exprs.length > 1) constInt(exprs(1)).toLong else -1L
      val idx = indexByName(spark, name)
      val (token, expires) = idx.pinScanWithExpiry(ttl)
      import spark.implicits._
      plan(Seq((name, token, expires)).toDF("name", "token", "expires_ms"))
    }, "scala_udf")

    // ann_unpin_scan(name, token) → one row (name, released) — release a
    // pin taken by ann_pin_scan; unknown/expired tokens are a no-op
    r.createOrReplaceTempFunction("ann_unpin_scan", (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: ann_unpin_scan(name, token)")
      val name = constString(exprs(0))
      val idx = indexByName(spark, name)
      idx.unpinScan(constString(exprs(1)))
      import spark.implicits._
      plan(Seq((name, true)).toDF("name", "released"))
    }, "scala_udf")

    // ann_refresh_stats(name) → one row (name, num_vectors, num_deleted)
    // — exact masked-row recount: deflates the search-overfetch bound
    // after physical drops and retires an all-inert tombstone log
    r.createOrReplaceTempFunction("ann_refresh_stats", (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: ann_refresh_stats(name)")
      val name = constString(exprs(0))
      val idx = indexByName(spark, name)
      idx.refreshDeadCount()
      // graph engines that MAINTAIN routing summaries (spatial, or an
      // already-opted-in hash index): repair coverage — the post-crash
      // path. Deliberately NOT an implicit opt-in: on a plain hash index
      // this would silently scan the whole corpus and then charge every
      // future mutation the maintenance pass for summaries with no
      // routing signal (a stats call must stay cheap).
      if (idx.summariesMaintained) idx.refreshShardSummaries()
      import spark.implicits._
      plan(Seq((name, idx.meta.numVectors, idx.meta.numDeleted))
        .toDF("name", "num_vectors", "num_deleted"))
    }, "scala_udf")

    // ann_routing_info(name) → one row (name, engine, shard_assign,
    // covered, live_shards, summarized_shards, probe_width, router_state,
    // coarse_nodes, coarse_live, router_bin) — whether shard routing
    // (spark.ann.shardProbes) is USABLE on this index right now (graph
    // engine + every live shard carries a routing summary) AND how stale
    // it is: live vs summarized counts show the coverage gap's SIZE (an
    // operator watching a CDC stream can alert on drift, not just on the
    // boolean flipping), probe_width echoes the session's configured
    // spark.ann.shardProbes (0 = routing off). covered=false after a
    // crash-interrupted summary merge (searches silently walk-all) →
    // ann_refresh_stats repairs. The router_* columns surface the COARSE
    // level's lifecycle (see AnnIndex.routerState): a rebuild storm under
    // a CDC stream reads as router_state flapping to "stale" with
    // router_bin "stale" per batch; healthy incremental upkeep reads as
    // "graph"/"current" with coarse_nodes − coarse_live tombstones
    // accumulating toward the compaction ceiling.
    r.createOrReplaceTempFunction("ann_routing_info", (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: ann_routing_info(name)")
      val name = constString(exprs(0))
      val idx = indexByName(spark, name)
      val (mode, live, summarized) = idx.routingStatus
      val (routerSt, coarseNodes, coarseLive, coarseFloor, coarseAgree,
        routerBin) = idx.routerState
      val probeWidth = spark.conf.get("spark.ann.shardProbes", "0").toInt
      import spark.implicits._
      plan(Seq((name, idx.meta.engine, mode,
          idx.isGraphEngine && live > 0 && summarized == live,
          live, summarized, probeWidth,
          routerSt, coarseNodes, coarseLive, coarseFloor, coarseAgree,
          routerBin))
        .toDF("name", "engine", "shard_assign", "covered",
          "live_shards", "summarized_shards", "probe_width",
          "router_state", "coarse_nodes", "coarse_live", "coarse_floor",
          "coarse_agreement", "router_bin"))
    }, "scala_udf")

    // ann_rebalance(name[, max_cell_factor]) → one row (name, split) —
    // SPANN-style IVF cell rebalance (split cells above factor x the mean)
    r.createOrReplaceTempFunction("ann_rebalance", (exprs: Seq[Expression]) => {
      require(exprs.length >= 1 && exprs.length <= 2,
        "usage: ann_rebalance(name[, max_cell_factor])")
      val name = constString(exprs(0))
      val factor = if (exprs.length > 1) constNum(exprs(1)).toDouble else 4.0
      val split = indexByName(spark, name).rebalanceCells(factor)
      import spark.implicits._
      plan(Seq((name, split.toLong)).toDF("name", "split"))
    }, "scala_udf")

    // diskann_streaming_build(input_bin, output_dir[, name]) → one stats
    // row (num_vectors, dimension, sample_size) (S11,
    // rust_lib/src/streaming_build.rs:42-122)
    r.createOrReplaceTempFunction("diskann_streaming_build", (exprs: Seq[Expression]) => {
      require(exprs.length >= 2 && exprs.length <= 3,
        "usage: diskann_streaming_build(input_file, output_dir[, name])")
      val input = constString(exprs(0))
      val output = constString(exprs(1))
      val params = if (exprs.length > 2) Map("name" -> constString(exprs(2)))
                   else Map.empty[String, String]
      plan(graft.sources.BinaryVectorSource.diskannStreamingBuild(
        spark, input, output, params))
    }, "scala_udf")
  }
}
