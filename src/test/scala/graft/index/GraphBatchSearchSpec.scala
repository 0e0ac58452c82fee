package graft.index

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

import java.nio.file.Files

/** Partition pruning of graph searches on a pinned index: the pin is
  * hash-partitioned by shard over `Vamana.shardPartitions(shards)`
  * partitions, most of them empty, and a search schedules only the ones
  * holding a live (or, routed, a probed) shard — with results identical to
  * the unpruned (unpinned) path. */
class GraphBatchSearchSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_batch_search_spec").toString
  private val dim = 8

  private lazy val idx: AnnIndex = {
    import spark.implicits._
    val rows = Seq.tabulate(800) { i =>
      val r = new scala.util.Random(i * 7919L + 1)
      (i.toLong, Array.fill(dim)(r.nextFloat()))
    }
    val created = AnnIndexManager.create(spark, "batch_prune", rows.toDF("id", "vec"), "id",
      "vec", "DISKANN", Map("metric" -> "l2", "max_degree" -> "16",
        "build_complexity" -> "48", "shards" -> "4", "shard_assign" -> "spatial"),
      s"$tmp/batch_prune")
    AnnIndexManager.load(spark, created.path)
  }

  private val queries = Seq.tabulate(40) { i =>
    val r = new scala.util.Random(i * 104729L + 5)
    Array.fill(dim)(r.nextFloat())
  }

  /** Sorted (query_idx, id, _distance) of one batch search. */
  private def batch(): Seq[(Int, Long, Double)] =
    idx.searchBatch(queries, 10).collect()
      .map(r => (r.getAs[Int]("query_idx"), r.getAs[Long]("id"), r.getAs[Double]("_distance")))
      .toSeq.sorted

  /** Task counts of the stages `body` submits, in submission order. */
  private def stageTasks[T](body: => T): (T, Seq[Int]) = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val group = s"batch-spec-${System.nanoTime}"
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          tasks.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (r, tasks.asScala.toSeq)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def withProbes[T](s: Int)(f: => T): T = {
    spark.conf.set("spark.ann.shardProbes", s.toString)
    try f finally spark.conf.unset("spark.ann.shardProbes")
  }

  test("pinned 4-shard search: the search stage runs one task per occupied partition") {
    val parts = Vamana.shardPartitions(4)
    val occupied = idx.meta.liveShards.get.map(Vamana.shardPartitionId(_, parts)).distinct.size
    assert(occupied < parts, "fixture must leave pin partitions empty")
    idx.persist()
    try {
      batch() // warm: the first call records the layout
      val (_, tasks) = stageTasks(batch())
      assert(tasks.headOption.contains(occupied),
        s"search stage ran ${tasks.headOption} tasks, $occupied partitions hold a shard")
      val (_, scanTasks) = stageTasks(idx.scan(queries.head, 10).collect())
      assert(scanTasks == Seq(occupied), s"single-query scan stages: $scanTasks")
    } finally idx.unpersist()
  }

  test("pruned pinned search is value-identical to the unpruned path, routed or not") {
    val unpinned = batch()
    val unpinnedRouted = withProbes(2)(batch())
    idx.persist()
    try {
      assert(batch() == unpinned)
      assert(withProbes(2)(batch()) == unpinnedRouted)
      // and repeat calls (the layout fast path) stay identical too
      assert(batch() == unpinned)
    } finally idx.unpersist()
  }
}
