package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory trace of one run: spans the benchmark opens around every call
  * into a graft layer, and Spark's own listener events (jobs, stages, tasks,
  * Catalyst phases). Nothing is written until [[write]]; `layers.py`
  * derives every per-layer metric from that file.
  *
  * Times are epoch milliseconds (fractional for spans), the clock Spark's
  * listener events use. Jobs are linked to the innermost open span through
  * the `graftbench.span` SparkContext local property, read back from
  * `SparkListenerJobStart.properties`. Spans are opened only from the
  * single client thread. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val records = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def add(r: String): Unit = records.add(r)

  private final class Open(val id: Long, val parent: Long, val name: String, val start: Double) {
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }
  private var stack: List[Open] = Nil
  private var nextId = 0L
  @volatile private var on = false
  def enabled: Boolean = on

  /** Run `f` inside a span named `name` ("<layer>.<call>" or "op.<kind>"). */
  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val s = new Open(nextId, stack.headOption.fold(-1L)(_.id), name, nowMs)
    nextId += 1
    stack = s :: stack
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try f
    finally {
      val end = nowMs
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.id.toString).orNull)
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      add(s"""{"type":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(end)},"attrs":{$attrs}}""")
    }
  }

  /** Attach a measured value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  /** A value measured outside any span (kernel timings, ratios, summaries). */
  def value(name: String, v: Double): Unit =
    if (on) add(s"""{"type":"value","name":"$name","value":${Json.num(v)}}""")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("-1")
      add(s"""{"type":"job","id":${e.jobId},"start":${e.time},"span":$span,""" +
        s""""stages":[${e.stageIds.mkString(",")}]}""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(s"""{"type":"job_end","id":${e.jobId},"end":${e.time}}""")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add(s"""{"type":"stage","id":${i.stageId},"attempt":${i.attemptNumber()},""" +
        s""""start":${i.submissionTime.getOrElse(0L)},"end":${i.completionTime.getOrElse(0L)},""" +
        s""""tasks":${i.numTasks}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val metrics = if (m == null) "" else
        s""","run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
          s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
          s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
          s""""fetch_wait_ms":${m.shuffleReadMetrics.fetchWaitTime},""" +
          s""""input":${m.inputMetrics.bytesRead},"output":${m.outputMetrics.bytesWritten},""" +
          s""""spill_mem":${m.memoryBytesSpilled},"spill_disk":${m.diskBytesSpilled}"""
      add(s"""{"type":"task","stage":${e.stageId},"start":${i.launchTime},"end":${i.finishTime}$metrics}""")
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (name, p) =>
        s""""$name":[${p.startTimeMs},${p.endTimeMs}]"""
      }.mkString(",")
      add(s"""{"type":"query","phases":{$phases}}""")
    }
  }

  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop recording; events already posted are drained first. */
  def stop(): Unit = if (on) {
    org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def write(path: String): Unit = {
    stop()
    val out = new java.io.PrintWriter(path, "UTF-8")
    try records.forEach(r => out.println(r)) finally out.close()
  }
}

object Trace {
  val SpanKey = "graftbench.span"
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
