package graft.plans

import graft.SparkSpec
import graft.functions.AnnFunctions._
import graft.functions.VectorKernels
import graft.index.AnnIndexManager
import org.apache.spark.sql.functions._

import java.nio.file.Files

class OptimizerSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_opt_spec").toString

  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    Seq.tabulate(300)(i => (i.toLong, Array.fill(6)(rnd.nextFloat())))
  }

  private lazy val tablePath = {
    import spark.implicits._
    val p = s"$tmp/vec_table.parquet"
    vecs.toDF("id", "embedding").write.mode("overwrite").parquet(p)
    p
  }

  private lazy val idx = AnnIndexManager.create(spark, "opt_idx",
    spark.read.parquet(tablePath), "id", "embedding", "FLAT",
    Map("metric" -> "l2", "table_path" -> tablePath), s"$tmp/opt_idx")

  private def q = Array.fill(6)(0.5f)

  private def brute(k: Int): Seq[Long] =
    vecs.map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

  test("rule rewrites ORDER BY l2_distance LIMIT k: Sort removed, results exact") {
    idx // build + register
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      // replacement signature: the index-top-k leaf in place of the
      // relation, and no join or sort left over it
      assert(plan.contains("AnnIndexTopK __ann_index_scan_opt_idx_k10"),
        s"no index-top-k node in plan:\n$plan")
      assert(!plan.contains("Join"), s"join left in plan:\n$plan")
      assert(!plan.contains("Sort"), s"sort left in plan:\n$plan")
      val rows = df.collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq == brute(10))
      // projected distance keeps sqrt semantics (not the index's squared)
      val d0 = rows.head.getAs[Double]("_d")
      assert(math.abs(d0 - VectorKernels.l2(q, vecs(brute(1).head.toInt)._2)) < 1e-9)
    } finally AnnOptimizer.disable(spark)
  }

  test("rule never breaks a valid query: NULL query literal and _distance-name collision bail out") {
    idx
    AnnOptimizer.enable(spark)
    try {
      // typed NULL array literal: vanilla Spark answers this (all-null sort
      // key); the rule must bail, not NPE inside the optimizer
      val nullQ = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"),
          lit(null).cast("array<float>")))
        .orderBy("_d").limit(5)
      assert(nullQ.collect().length == 5)

      // a base column named _distance collides with the replacement's
      // internal column: the rewrite must skip, and the query still answers
      val collide = spark.read.parquet(tablePath)
        .withColumn("_distance", lit(0.0))
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(10)
      assert(collide.collect().map(_.getAs[Long]("id")).toSeq == brute(10))
    } finally AnnOptimizer.disable(spark)
  }

  test("cost gate: k over max selectivity falls back to scan (no rewrite)") {
    idx
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(100) // 100 > 10% of 300
      assert(df.queryExecution.optimizedPlan.toString.contains("Sort ["))
      assert(df.collect().length == 100)
    } finally AnnOptimizer.disable(spark)
  }

  test("filter between sort and scan bails out (reference bailout)") {
    idx
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .filter(col("id") > 100)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(5)
      assert(df.queryExecution.optimizedPlan.toString.contains("Sort ["))
      val got = df.collect().map(_.getAs[Long]("id")).toSeq
      val expect = vecs.filter(_._1 > 100)
        .map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
      assert(got == expect)
    } finally AnnOptimizer.disable(spark)
  }

  test("DESC ordering is not rewritten (faiss_optimizer.test:72-80)") {
    idx
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_d").desc).limit(5)
      assert(df.queryExecution.optimizedPlan.toString.contains("Sort ["))
    } finally AnnOptimizer.disable(spark)
  }

  test("rewrite fires and stamps the explain marker (ANN_INDEX_SCAN analogue)") {
    idx
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__ann_index_scan_opt_idx_k10"), s"marker missing:\n$plan")
      // the marker is internal: it must not leak into the result schema
      assert(!df.schema.fieldNames.exists(_.startsWith("__ann_index_scan")))
    } finally AnnOptimizer.disable(spark)
  }

  private def bruteBy(score: Array[Float] => Double, k: Int): Seq[Long] =
    vecs.map { case (id, v) => (id, score(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  test("inner_product DESC routes to an ip index; ip ASC is not rewritten") {
    import spark.implicits._
    val ipIdx = AnnIndexManager.create(spark, "opt_ip",
      spark.read.parquet(tablePath), "id", "embedding", "FLAT",
      Map("metric" -> "ip", "table_path" -> tablePath), s"$tmp/opt_ip")
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_ip", inner_product(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_ip").desc).limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__ann_index_scan_opt_ip_k10"), s"ip rewrite did not fire:\n$plan")
      val got = df.collect().map(_.getAs[Long]("id")).toSeq
      assert(got.sorted == bruteBy(v => v.zip(q).map { case (x, w) => x.toDouble * w }.sum, 10).sorted)

      // wrong direction for a larger-is-better metric: no rewrite
      val asc = spark.read.parquet(tablePath)
        .withColumn("_ip", inner_product(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_ip").asc).limit(10)
      assert(!asc.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_ip"))
      assert(asc.queryExecution.optimizedPlan.toString.contains("Sort ["))
    } finally AnnOptimizer.disable(spark)
  }

  test("cosine_similarity DESC routes to a cosine index; negated ASC too") {
    val cosIdx = AnnIndexManager.create(spark, "opt_cos",
      spark.read.parquet(tablePath), "id", "embedding", "FLAT",
      Map("metric" -> "cosine", "table_path" -> tablePath), s"$tmp/opt_cos")
    AnnOptimizer.enable(spark)
    try {
      def cosScore(v: Array[Float]): Double = {
        val dot = v.zip(q).map { case (x, w) => x.toDouble * w }.sum
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        val nq = math.sqrt(q.map(x => x.toDouble * x).sum)
        dot / (nv * nq)
      }
      val df = spark.read.parquet(tablePath)
        .withColumn("_cos", cosine_similarity(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_cos").desc).limit(10)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_cos_k10"))
      assert(df.collect().map(_.getAs[Long]("id")).toSeq.sorted == bruteBy(cosScore, 10).sorted)

      // 1 - cosine ASC (distance form) also routes
      val dist = spark.read.parquet(tablePath)
        .withColumn("_cd", lit(1.0) - cosine_similarity(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_cd").asc).limit(10)
      assert(dist.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_cos_k10"),
        s"1-cos ASC did not route:\n${dist.queryExecution.optimizedPlan}")
      assert(dist.collect().map(_.getAs[Long]("id")).toSeq.sorted == bruteBy(cosScore, 10).sorted)
    } finally AnnOptimizer.disable(spark)
  }

  test("quantized index: rewrite overfetches and re-ranks exactly; lossless index preferred") {
    // a dedicated table so the PQ index is the ONLY candidate on its path
    import spark.implicits._
    val pqPath = s"$tmp/pq_table.parquet"
    vecs.toDF("id", "embedding").write.mode("overwrite").parquet(pqPath)
    AnnIndexManager.create(spark, "opt_pq",
      spark.read.parquet(pqPath), "id", "embedding", "FLAT",
      // deliberately coarse PQ (m=2): raw ADC top-10 visibly differs from exact
      Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "2",
        "table_path" -> pqPath), s"$tmp/opt_pq")
    AnnOptimizer.enable(spark)
    try {
      // mult*k = 300 covers the corpus → the re-ranked rewrite is provably exact
      spark.conf.set("spark.ann.quantizedRerankMultiplier", "30")
      val df = spark.read.parquet(pqPath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(10)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_pq_k10"),
        s"quantized rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().map(_.getAs[Long]("id")).toSeq == brute(10),
        "re-ranked quantized rewrite must return the exact ordering")
    } finally {
      spark.conf.unset("spark.ann.quantizedRerankMultiplier")
      AnnOptimizer.disable(spark)
    }

    // routing: with BOTH opt_idx (lossless) and a quantized twin registered
    // on the ORIGINAL table path, the lossless index must win deterministically
    idx // ensure opt_idx is registered
    AnnIndexManager.create(spark, "aaa_quant_twin",
      spark.read.parquet(tablePath), "id", "embedding", "FLAT",
      Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "2",
        "table_path" -> tablePath), s"$tmp/opt_twin")
    AnnOptimizer.enable(spark)
    try {
      val df = spark.read.parquet(tablePath)
        .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy("_d").limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__ann_index_scan_opt_idx_k10"),
        s"lossless index must be preferred over the quantized twin " +
          s"(name order would pick aaa_quant_twin):\n$plan")
    } finally {
      AnnIndexManager.drop("aaa_quant_twin")
      AnnOptimizer.disable(spark)
    }
  }

  test("bq index: cosine DESC rewrite re-ranks Hamming candidates exactly") {
    import spark.implicits._
    // centered data — the shared all-positive corpus would collapse every
    // sign pattern to one code and make Hamming ranking degenerate
    val cvecs = {
      val rnd = new scala.util.Random(61)
      Seq.tabulate(300)(i => (i.toLong, Array.fill(6)(rnd.nextFloat() * 2f - 1f)))
    }
    val bqPath = s"$tmp/bq_table.parquet"
    cvecs.toDF("id", "embedding").write.mode("overwrite").parquet(bqPath)
    AnnIndexManager.create(spark, "opt_bq",
      spark.read.parquet(bqPath), "id", "embedding", "FLAT",
      Map("metric" -> "cosine", "quantization" -> "bq", "table_path" -> bqPath),
      s"$tmp/opt_bq")
    AnnOptimizer.enable(spark)
    try {
      // mult*k = 300 covers the corpus → provably exact despite 1-bit codes
      spark.conf.set("spark.ann.quantizedRerankMultiplier", "30")
      val df = spark.read.parquet(bqPath)
        .withColumn("_cos", cosine_similarity(col("embedding"), typedLit(q.map(_.toDouble))))
        .orderBy(col("_cos").desc).limit(10)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_bq_k10"),
        s"bq rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
      def cosScore(v: Array[Float]): Double =
        VectorKernels.dot(q, v) /
          (math.sqrt(VectorKernels.dot(q, q)) * math.sqrt(VectorKernels.dot(v, v)))
      val exact = cvecs.map { case (id, v) => (id, -cosScore(v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      assert(df.collect().map(_.getAs[Long]("id")).toSeq == exact,
        "re-ranked bq rewrite must return the exact cosine ordering")
    } finally {
      spark.conf.unset("spark.ann.quantizedRerankMultiplier")
      AnnOptimizer.disable(spark)
    }
  }

  // ---- the index-top-k exec: job shape, explain, re-rank, tombstones ----

  /** Run `body` under a fresh job group and count the Spark jobs it
    * starts and the shuffle bytes its stages write. */
  private def profiled[T](body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler._
    val group = s"opt-spec-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      (r, jobs.get, shuffleBytes.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** A private copy of the shared table and a DISKANN index registered on
    * it (4 shards, beam wide enough to be exact on 300 rows). */
  private def graphTable(name: String): (String, graft.index.AnnIndex) = {
    import spark.implicits._
    val p = s"$tmp/${name}_table.parquet"
    vecs.toDF("id", "embedding").write.mode("overwrite").parquet(p)
    val created = AnnIndexManager.create(spark, name, spark.read.parquet(p), "id", "embedding",
      "DISKANN", Map("metric" -> "l2", "max_degree" -> "16", "build_complexity" -> "300",
        "shards" -> "4", "table_path" -> p), s"$tmp/$name")
    (p, AnnIndexManager.load(spark, created.path))
  }

  private def topkQuery(p: String, k: Int = 10) = spark.read.parquet(p)
    .withColumn("_d", l2_distance(col("embedding"), typedLit(q.map(_.toDouble))))
    .orderBy("_d").limit(k)

  test("pinned DISKANN rewrite: two jobs (hits, fetch), no shuffle, ids equal idx.search") {
    val (p, gidx) = graphTable("opt_pinned")
    gidx.persist()
    AnnOptimizer.enable(spark)
    try {
      val df = topkQuery(p) // the parquet schema job runs here, outside the count
      val (rows, jobs, shuffle) = profiled(df.collect())
      assert(jobs == 2, s"expected the hits job and the fetch job, got $jobs")
      assert(shuffle == 0L, s"rewritten point query wrote $shuffle shuffle bytes")
      val got = rows.map(_.getAs[Long]("id")).toSeq
      // a codegen'd sort over the node ships its subtree to the tasks
      val viaSearch = gidx.search(spark.read.parquet(p), "id", q, 10)
        .orderBy(col("_distance"), col("id"))
        .collect().map(_.getAs[Long]("id")).toSeq
      assert(got == viaSearch)
      assert(got == brute(10))
    } finally {
      AnnOptimizer.disable(spark)
      gidx.unpersist()
      AnnIndexManager.drop("opt_pinned")
    }
  }

  test("explain() of a rewritten query starts no job") {
    idx
    AnnOptimizer.enable(spark)
    try {
      val df = topkQuery(tablePath)
      val (plan, jobs, _) = profiled {
        df.explain()
        df.queryExecution.executedPlan.toString
      }
      assert(plan.contains("AnnIndexTopKExec __ann_index_scan_opt_idx_k10"), plan)
      assert(jobs == 0, s"explain started $jobs job(s)")
    } finally AnnOptimizer.disable(spark)
  }

  test("sq8 index: the rewrite re-ranks on raw vectors and returns the exact order") {
    import spark.implicits._
    val p = s"$tmp/sq8_table.parquet"
    vecs.toDF("id", "embedding").write.mode("overwrite").parquet(p)
    AnnIndexManager.create(spark, "opt_sq8", spark.read.parquet(p), "id", "embedding",
      "FLAT", Map("metric" -> "l2", "quantization" -> "sq8", "table_path" -> p),
      s"$tmp/opt_sq8")
    AnnOptimizer.enable(spark)
    try {
      spark.conf.set("spark.ann.quantizedRerankMultiplier", "30") // k×30 covers the table
      val df = topkQuery(p)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_sq8_k10 fetch=300 rerank"),
        s"sq8 rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
      val rows = df.collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq == brute(10))
      // the projected distance is the exact one, not the sq8-decoded one
      rows.foreach { r =>
        val exact = VectorKernels.l2(q, vecs(r.getAs[Long]("id").toInt)._2)
        assert(math.abs(r.getAs[Double]("_d") - exact) < 1e-9)
      }
    } finally {
      spark.conf.unset("spark.ann.quantizedRerankMultiplier")
      AnnOptimizer.disable(spark)
      AnnIndexManager.drop("opt_sq8")
    }
  }

  test("a deleted id is never returned by the rewrite") {
    val (p, gidx) = graphTable("opt_deleted")
    gidx.persist()
    val dead = brute(3)
    gidx.delete(dead)
    AnnOptimizer.enable(spark)
    try {
      val df = topkQuery(p)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_deleted_k10"))
      val got = df.collect().map(_.getAs[Long]("id")).toSeq
      assert(got.intersect(dead).isEmpty, s"deleted ids returned: ${got.intersect(dead)}")
      assert(got == brute(13).filterNot(dead.contains))
    } finally {
      AnnOptimizer.disable(spark)
      gidx.unpersist()
      AnnIndexManager.drop("opt_deleted")
    }
  }

  test("an unpinned graph index still answers the rewrite") {
    val (p, gidx) = graphTable("opt_unpinned")
    assert(!gidx.isPinned)
    AnnOptimizer.enable(spark)
    try {
      val df = topkQuery(p)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_unpinned_k10"))
      assert(df.collect().map(_.getAs[Long]("id")).toSeq == brute(10))
    } finally {
      AnnOptimizer.disable(spark)
      AnnIndexManager.drop("opt_unpinned")
    }
  }

  test("AnnOptimizer.disable removes both the rule and the strategy") {
    AnnOptimizer.enable(spark)
    AnnOptimizer.enable(spark) // idempotent
    assert(spark.experimental.extraOptimizations.count(_.isInstanceOf[AnnTopKRule]) == 1)
    assert(spark.experimental.extraStrategies.count(_ == AnnIndexTopKStrategy) == 1)
    AnnOptimizer.disable(spark)
    assert(!spark.experimental.extraOptimizations.exists(_.isInstanceOf[AnnTopKRule]))
    assert(!spark.experimental.extraStrategies.contains(AnnIndexTopKStrategy))
    idx
    assert(!topkQuery(tablePath).queryExecution.optimizedPlan.toString.contains("__ann_index_scan_"))
  }

  test("duplicate base ids: every copy of a hit is fetched and counts against the limit") {
    import spark.implicits._
    // the index covers each id once; the registered table repeats the three
    // nearest ids with a distinguishing tag
    val p = s"$tmp/dup_table.parquet"
    val dups = brute(3).toSet
    (vecs.map { case (id, v) => (id, v, "orig") } ++
      vecs.filter(r => dups(r._1)).map { case (id, v) => (id, v, "dup") })
      .toDF("id", "embedding", "tag").write.mode("overwrite").parquet(p)
    AnnIndexManager.create(spark, "opt_dup", vecs.toDF("id", "embedding"), "id", "embedding",
      "FLAT", Map("metric" -> "l2", "table_path" -> p), s"$tmp/opt_dup")
    AnnOptimizer.enable(spark)
    try {
      val df = topkQuery(p)
      assert(df.queryExecution.optimizedPlan.toString.contains("__ann_index_scan_opt_dup_k10"))
      val got = df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"))).toSeq
      // k rows: both copies of the 3 nearest, then the next 4 ids
      assert(got.length == 10)
      assert(got.map(_._1) == brute(3).flatMap(id => Seq(id, id)) ++ brute(7).drop(3))
      assert(got.groupBy(_._1).filter(_._2.size == 2).values
        .forall(_.map(_._2).sorted == Seq("dup", "orig")))
    } finally {
      AnnOptimizer.disable(spark)
      AnnIndexManager.drop("opt_dup")
    }
  }
}
