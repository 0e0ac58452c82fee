package graftbench

import graft.functions.AnnFunctions.l2_distance
import graft.functions.VectorKernels
import org.apache.spark.sql.functions._

/** The `functions` layer measured directly: `VectorKernels.l2Sq` at the
  * reference's published CPU shapes (one query against n candidates), and
  * the `l2_distance` expression evaluated by Spark over a cached relation. */
object Kernels {
  /** (n, dim, reference µs per batch) — BASELINE.md's CPU batch-L2 rows. */
  val Shapes = Seq((64, 128, 4.0), (1024, 768, 784.0), (512, 1536, 870.0))

  /** Median ns per candidate over timed rounds of ~20 ms each. */
  def l2Ns(run: Run, n: Int, dim: Int): Double = {
    val cands = Array.tabulate(n)(i => Gen.vec(run.seed, Gen.Kernel, i, dim))
    val q = Gen.vec(run.seed, Gen.Kernel, -1, dim)
    var sink = 0.0
    def round(reps: Int): Double = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        var i = 0
        while (i < n) { sink += VectorKernels.l2Sq(q, cands(i)); i += 1 }
        r += 1
      }
      (System.nanoTime() - t0).toDouble / (reps.toLong * n)
    }
    val reps = math.max(1, (20e6 / math.max(1.0, round(200) * n)).toInt)
    (0 until 5).foreach(_ => round(reps)) // JIT warm-up
    val ns = Stats.median((0 until 11).map(_ => round(reps)))
    if (sink == 42.0) run.log("") // keep the loop alive
    ns
  }

  /** ns per `l2_distance` evaluation: 1024 cached d768 candidates crossed
    * with 64 broadcast queries, one Spark job per round. */
  def exprNs(run: Run): Double = {
    val spark = run.spark
    val seed = run.seed
    val v = Gen.vecUdf(seed, Gen.Kernel, 768)
    val cands = spark.range(0, 1024, 1, 4).select(v(col("id")).as("vec")).cache()
    val qs = spark.range(-64, 0, 1, 1).select(v(col("id")).as("q")).cache()
    cands.count(); qs.count()
    val job = cands.crossJoin(broadcast(qs)).select(sum(l2_distance(col("vec"), col("q"))))
    def round(): Double = {
      val t0 = System.nanoTime()
      job.collect()
      (System.nanoTime() - t0).toDouble / (1024 * 64)
    }
    (0 until 3).foreach(_ => round())
    val ns = Stats.median((0 until 7).map(_ => round()))
    cands.unpersist(); qs.unpersist()
    ns
  }

  def measure(run: Run): Unit = {
    val ratios = Shapes.map { case (n, dim, refUs) =>
      val ns = l2Ns(run, n, dim)
      run.value(s"kernel.l2_ns_n${n}_d$dim", ns)
      ns / (refUs * 1000 / n)
    }
    run.value("kernel.l2_expr_ns_n1024_d768", exprNs(run))
    // geometric mean of measured / reference time per candidate: below 2 is
    // within the 2x target BASELINE.json sets, below 1 beats the reference
    run.value("kernel.vs_baseline", math.exp(ratios.map(math.log).sum / ratios.size))
  }
}
