package graft.index

import graft.SparkSpec
import graft.functions.{Pq, PqDistance, VectorKernels}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions.{col, lit}

import java.nio.file.Files

class PqSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_pq_spec").toString

  private def randVecs(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  test("geometry: defaults pick dsub from (8,4,2,1), explicit pq_m validated") {
    assert(Pq.resolveGeometry(64, Map.empty) == (8, 256)) // dsub 8
    assert(Pq.resolveGeometry(20, Map.empty) == (5, 256)) // dsub 4
    assert(Pq.resolveGeometry(7, Map.empty) == (7, 256)) // dsub 1
    assert(Pq.resolveGeometry(64, Map("pq_m" -> "16", "pq_ksub" -> "64")) == (16, 64))
    intercept[IllegalArgumentException](Pq.resolveGeometry(64, Map("pq_m" -> "10")))
    intercept[IllegalArgumentException](Pq.resolveGeometry(64, Map("pq_ksub" -> "300")))
  }

  test("kernel: encode/decode is exact when each subvector is a trained centroid") {
    // 16 distinct vectors, ksub=16 trained on all of them → every subvector
    // is its own centroid and reconstruction is bit-exact
    val vecs = randVecs(16, 8, seed = 5).map(_._2)
    val flat = new Array[Float](2 * 16 * 4) // m=2, ksub=16, dsub=4
    for (s <- 0 until 2; c <- 0 until 16)
      System.arraycopy(vecs(c), s * 4, flat, (s * 16 + c) * 4, 4)
    val b = Pq.Codebooks(2, 16, 4, flat)
    for (v <- vecs) {
      val rt = Pq.decode(Pq.encode(v, b), b)
      assert(rt.sameElements(v), "lossless geometry must round-trip exactly")
    }
  }

  test("PqDistance: constant-query ADC equals distance to the reconstruction") {
    import spark.implicits._
    val vecs = randVecs(50, 8, seed = 7)
    val sample = vecs.map(_._2).toArray
    val b = {
      val flat = new Array[Float](2 * 8 * 4)
      for (s <- 0 until 2) {
        val cents = AnnIndexBuilder.trainCentroids(
          sample.map(v => java.util.Arrays.copyOfRange(v, s * 4, s * 4 + 4)),
          8, maxIter = 10, seed = 42 + s)
        for ((c, cv) <- cents) System.arraycopy(cv, 0, flat, (s * 8 + c) * 4, 4)
      }
      Pq.Codebooks(2, 8, 4, flat)
    }
    val q = sample(13)
    val df = vecs.map { case (id, v) => (id, Pq.encode(v, b)) }.toDF("id", "codes")
    for (metric <- Seq("l2", "ip", "cosine")) {
      // constant query → LUT codegen path
      val gotConst = df.select(col("id"), GraftBridge.column(PqDistance(
        GraftBridge.expression(col("codes")),
        GraftBridge.expression(lit(q)), b, metric)).as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // column query → decode-on-access codegen path
      val gotCol = df.withColumn("q", lit(q))
        .select(col("id"), GraftBridge.column(PqDistance(
          GraftBridge.expression(col("codes")),
          GraftBridge.expression(col("q")), b, metric)).as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for ((id, v) <- vecs) {
        val recon = Pq.decode(Pq.encode(v, b), b)
        val expect = metric match {
          case "l2" => VectorKernels.l2Sq(q, recon)
          case "ip" => -VectorKernels.dot(q, recon)
          case "cosine" =>
            1.0 - VectorKernels.dot(q, recon) /
              (math.sqrt(VectorKernels.dot(recon, recon)) * math.sqrt(VectorKernels.dot(q, q)))
        }
        assert(math.abs(gotConst(id) - expect) < 1e-6,
          s"$metric const-query ADC for id $id: ${gotConst(id)} vs $expect")
        assert(math.abs(gotCol(id) - gotConst(id)) < 1e-9,
          s"$metric: LUT and decode-on-access paths must agree (id $id)")
      }
    }
  }

  test("PqDistance: a null query ELEMENT yields a null distance (both paths)") {
    import spark.implicits._
    val b = Pq.Codebooks(2, 2, 2, Array(0f, 0f, 1f, 1f, 0f, 0f, 1f, 1f))
    val codes = Pq.encode(Array(1f, 1f, 0f, 0f), b)
    val df = Seq(
      (codes, Seq[java.lang.Float](0.5f, null, 0.5f, 0.5f)),
      (codes, Seq[java.lang.Float](0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("codes", "q")
    for (metric <- Seq("l2", "ip", "cosine")) {
      val rows = df.select(GraftBridge.column(PqDistance(
        GraftBridge.expression(col("codes")),
        GraftBridge.expression(col("q")), b, metric)).as("d")).collect()
      assert(rows(0).isNullAt(0), s"metric $metric: null element must propagate")
      assert(!rows(1).isNullAt(0))
      // constant-query variant with a null element: constantly null
      val cRows = df.select(GraftBridge.column(PqDistance(
        GraftBridge.expression(col("codes")),
        GraftBridge.expression(lit(null).cast("array<float>")), b, metric)).as("d"))
        .collect()
      assert(cRows.forall(_.isNullAt(0)), s"metric $metric: constant null query")
    }
  }

  test("PQ FLAT index: exact top-k when the corpus fits the codebooks losslessly") {
    import spark.implicits._
    // 32 vectors, ksub=32 >= corpus size → training assigns each distinct
    // subvector its own centroid → ADC == exact distance → exact results
    val vecs = randVecs(32, 8, seed = 11)
    val idx = AnnIndexManager.create(spark, "pq_exact", vecs.toDF("id", "embedding"),
      "id", "embedding", "FLAT",
      Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "2", "pq_ksub" -> "32"),
      s"$tmp/pq_exact")
    assert(idx.meta.quantized && idx.dataVecCol == "codes")
    assert(idx.meta.params("pq_m") == "2")
    val q = vecs(9)._2
    val got = idx.scan(q, 5).collect().map(_.getLong(0)).toSeq
    val expect = vecs.map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(got == expect)
    // compression is recorded: m bytes/vector, far below 4*dim
    assert(idx.meta.memoryBytes < 32L * (8 * 4 + 12))
  }

  test("PQ persistence round-trip: codebooks reload and results are stable") {
    val reloaded = AnnIndexManager.load(spark, s"$tmp/pq_exact")
    assert(reloaded.pqBooks.isDefined)
    val b = reloaded.pqBooks.get
    assert(b.m == 2 && b.ksub == 32 && b.dsub == 4)
    val got = reloaded.scan(Array.fill(8)(0.1f), 3).collect().map(_.getLong(0)).toSeq
    assert(got.size == 3)
  }

  test("PQ IVF index: recall vs exact top-k on clustered data") {
    import spark.implicits._
    // clustered corpus (PQ's design case): 8 well-separated centers + noise
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 10f))
    val vecs = Seq.tabulate(800) { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f))
    }
    // dsub=2 (m=8): 256 centroids per 2-dim subspace resolves intra-cluster
    // ranking; the coarse default (dsub=8 → 2 bytes/vector) is a storage
    // choice, not a recall-test choice
    val idx = AnnIndexManager.create(spark, "pq_ivf", vecs.toDF("id", "embedding"),
      "id", "embedding", "IVF",
      Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "8",
        "nlist" -> "8", "nprobe" -> "8"),
      s"$tmp/pq_ivf")
    val k = 10
    var overlap = 0
    val queries = Seq(3, 117, 256, 541)
    for (qi <- queries) {
      val q = vecs(qi)._2
      val got = idx.scan(q, k).collect().map(_.getLong(0)).toSet
      val exact = vecs.map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      overlap += got.intersect(exact).size
    }
    // reference's own recall floor is 7/10 (diskann_streaming.test:47-55)
    assert(overlap >= 7 * queries.size,
      s"PQ-IVF recall ${overlap}/${k * queries.size} below floor")
  }

  test("PQ DISKANN: graph builds on exact floats, stores codes, search decodes") {
    import spark.implicits._
    val vecs = randVecs(300, 16, seed = 31)
    val idx = AnnIndexManager.create(spark, "pq_vam", vecs.toDF("id", "embedding"),
      "id", "embedding", "DISKANN",
      Map("metric" -> "l2", "max_degree" -> "32", "build_complexity" -> "64",
        "quantization" -> "pq", "shards" -> "2"),
      s"$tmp/pq_vam")
    assert(idx.meta.quantized)
    val q = vecs(42)._2
    // exhaustive beam ≈ full scan of the shard graphs (search_complexity big)
    val got = idx.scan(q, 5, searchParam = 100000).collect().map(_.getLong(0)).toSeq
    assert(got.size == 5)
    // the true nearest (the vector itself) must be reachable through the
    // decoded graph: its reconstruction is the closest code to q's cell
    val exact = vecs.map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    assert(got.toSet.intersect(exact).size >= 3,
      s"PQ graph search overlap ${got.toSet.intersect(exact).size}/5")
  }

  test("PQ + exact rerank: exhaustive oversample recovers the exact top-k") {
    import spark.implicits._
    val vecs = randVecs(200, 16, seed = 41)
    val df = vecs.toDF("id", "embedding")
    // coarse geometry on purpose (m=2 → 2 bytes/vector): raw ADC ranking is
    // visibly lossy here, the refine step must still be exact
    val idx = AnnIndexManager.create(spark, "pq_rr", df, "id", "embedding",
      "FLAT", Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "2"),
      s"$tmp/pq_rr")
    val q = Array.fill(16)(0.2f)
    val exact = vecs.map { case (id, v) => (id, VectorKernels.l2Sq(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    // oversample 20 → k*oversample = 200 = full corpus → provably exact
    val got = idx.search(df, "id", q, 10, oversample = 20, rerank = true)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == exact, "exhaustive-oversample rerank must equal brute force")
    // rerank must not lose to the raw ADC ranking at moderate oversample
    val adc = idx.scan(q, 10).collect().map(_.getLong(0)).toSet
    val rr = idx.search(df, "id", q, 10, oversample = 4, rerank = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rr.intersect(exact.toSet).size >= adc.intersect(exact.toSet).size,
      "refined recall must dominate raw ADC recall")
  }

  test("PQ edges: dim-1 vectors, k > n, duplicate vectors") {
    import spark.implicits._
    // dim 1 → m=1, dsub=1 (the degenerate geometry must still round-trip)
    val oneD = Seq((1L, Array(0.1f)), (2L, Array(0.5f)), (3L, Array(0.9f)),
      (4L, Array(0.5f))) // duplicate of 2
    val idx = AnnIndexManager.create(spark, "pq_edge", oneD.toDF("id", "embedding"),
      "id", "embedding", "FLAT",
      Map("metric" -> "l2", "quantization" -> "pq", "pq_ksub" -> "4"),
      s"$tmp/pq_edge")
    assert(idx.pqBooks.get.m == 1 && idx.pqBooks.get.dsub == 1)
    // k > n returns all rows, closest (the duplicates, dist 0) first
    val got = idx.scan(Array(0.5f), 10).collect()
    assert(got.length == 4)
    assert(got.take(2).map(_.getLong(0)).toSet == Set(2L, 4L))
    assert(got(0).getDouble(1) == 0.0 && got(1).getDouble(1) == 0.0)
  }

  test("PQ cosine index: build-normalized codes rank by renormalized ADC cosine") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = Seq.tabulate(100)(i => (i.toLong, Array.fill(8)(rnd.nextFloat() + 0.1f)))
    val idx = AnnIndexManager.create(spark, "pq_cos", vecs.toDF("id", "embedding"),
      "id", "embedding", "FLAT",
      Map("metric" -> "cosine", "quantization" -> "pq", "pq_m" -> "4", "pq_ksub" -> "128"),
      s"$tmp/pq_cos")
    val q = vecs(31)._2
    val got = idx.scan(q, 5).collect().map(_.getLong(0))
    // the query's own vector must rank first: its normalized form is the
    // nearest codeword sequence, and ADC cosine renormalizes the
    // reconstruction, absorbing quantization drift of the unit vectors
    assert(got.head == 31L, s"self-query must rank first, got ${got.toSeq}")
    val exact = vecs.map { case (id, v) =>
      val d = VectorKernels.dot(q, v) /
        (math.sqrt(VectorKernels.dot(q, q)) * math.sqrt(VectorKernels.dot(v, v)))
      (id, 1.0 - d)
    }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    assert(got.toSet.intersect(exact).size >= 3,
      s"cosine PQ overlap ${got.toSet.intersect(exact).size}/5")
  }

  test("PQ insert path encodes new vectors with the existing codebooks") {
    import spark.implicits._
    val vecs = randVecs(64, 8, seed = 37)
    val idx = AnnIndexManager.create(spark, "pq_ins",
      vecs.take(48).toDF("id", "embedding"), "id", "embedding", "FLAT",
      Map("metric" -> "l2", "quantization" -> "pq", "pq_ksub" -> "64"),
      s"$tmp/pq_ins")
    idx.insert(vecs.drop(48).toDF("id", "embedding"), "id", "embedding")
    assert(idx.meta.numVectors == 64)
    val q = vecs(60)._2 // an inserted vector must be findable
    val got = idx.scan(q, 3).collect().map(_.getLong(0)).toSeq
    assert(got.contains(60L), s"inserted vector not found: $got")
  }

  /** Runs a create expected to fail with `E`; returns, once every event
    * posted so far is handled, the Spark jobs still active and the jobs
    * started during or just after the call that had not ended when it
    * returned. */
  private def failedCreate[E <: AnyRef](create: => Any)(
      implicit ct: scala.reflect.ClassTag[E]): (Seq[Int], Set[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val endedAt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.add(j.jobId)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = endedAt.put(j.jobId, j.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[E](create)
      val returned = System.currentTimeMillis()
      Thread.sleep(1000) // room for a leaked async job to start and show
      GraftBridge.waitListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val open = started.asScala.filterNot(id =>
        Option(endedAt.get(id)).exists(_ <= returned)).toSet
      (spark.sparkContext.statusTracker.getActiveJobIds().toSeq, open)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PQ training that fails inside its async job surfaces its own exception type") {
    import spark.implicits._
    // a null vector reaches the training sample: the async training job
    // throws NullPointerException, which create rethrows unwrapped
    val rows = randVecs(40, 8, seed = 41).map { case (id, v) => (id, v.toSeq) } :+
      (40L, null.asInstanceOf[Seq[Float]])
    val (active, open) = failedCreate[NullPointerException] {
      AnnIndexManager.create(spark, "pq_train_fail", rows.toDF("id", "embedding"),
        "id", "embedding", "DISKANN",
        Map("metric" -> "l2", "quantization" -> "pq", "shards" -> "1"),
        s"$tmp/pq_train_fail")
    }
    assert(active.isEmpty && open.isEmpty)
    // the same unwrap on the per-subspace training futures
    intercept[NullPointerException](AnnIndexBuilder.fitPqBooksFromSample(
      Array(Array(1f, 2f), null), 2, Map("pq_m" -> "1", "pq_ksub" -> "2")))
  }

  test("a create that fails after PQ training started leaves no Spark job running") {
    import spark.implicits._
    // max_degree is parsed after the training job is launched
    val (active, open) = failedCreate[NumberFormatException] {
      AnnIndexManager.create(spark, "pq_build_fail",
        randVecs(2000, 16, seed = 43).toDF("id", "embedding"), "id", "embedding",
        "DISKANN", Map("metric" -> "l2", "quantization" -> "pq",
          "max_degree" -> "not-a-number"), s"$tmp/pq_build_fail")
    }
    assert(active.isEmpty, "a create-time job outlived the failed create")
    assert(open.isEmpty, "a create-time job ended after the failed create returned")
  }
}
