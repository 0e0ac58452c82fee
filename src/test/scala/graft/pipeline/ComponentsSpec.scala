package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.types.{IntegerType, LongType}

/** `Dedup.resolveComponents` beyond the basic chain/island case: null
  * endpoints, id types, long chains and the job count of one round. */
class ComponentsSpec extends SparkSpec {

  private def labels(pairs: Seq[(Option[Long], Option[Long])]): Map[Option[Long], Option[Long]] = {
    import spark.implicits._
    Dedup.resolveComponents(pairs.toDF("a", "b"), "a", "b").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
  }

  test("null endpoints: no edge through null; the null row takes the least adjacent group") {
    // a null endpoint joins no component; its non-null partner is still a
    // node, and one (null, g) row carries the least group among the nodes
    // paired with null (null when only null-null pairs exist)
    val got = labels(Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(5L)), (Some(3L), None),
      (None, Some(4L)), (Some(6L), Some(7L)), (None, None), (Some(9L), None),
      (Some(8L), Some(9L))))
    assert(got == Map(
      Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(5L) -> Some(1L),
      Some(3L) -> Some(3L), Some(4L) -> Some(4L), Some(6L) -> Some(6L),
      Some(7L) -> Some(6L), Some(8L) -> Some(8L), Some(9L) -> Some(8L),
      None -> Some(3L)))
    assert(labels(Seq((None, None))) == Map(None -> None))
    assert(labels(Seq((Some(5L), None), (Some(2L), Some(5L)))) ==
      Map(Some(2L) -> Some(2L), Some(5L) -> Some(2L), None -> Some(2L)))
  }

  test("id types: Int stays Int, Int with Long widens to Long, String ids resolve") {
    import spark.implicits._
    val ints = Dedup.resolveComponents(Seq((1, 2), (2, 3), (5, 4)).toDF("a", "b"), "a", "b")
    assert(ints.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 4))
    val mixed = Dedup.resolveComponents(Seq((1, 2L), (2, 3L)).toDF("a", "b"), "a", "b")
    assert(mixed.schema.map(_.dataType) == Seq(LongType, LongType))
    val strs = Dedup.resolveComponents(Seq(("x", "y"), ("y", "b")).toDF("a", "b"), "a", "b")
    assert(strs.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("b" -> "b", "x" -> "b", "y" -> "b"))
  }

  test("a 10,000-node chain resolves under the default maxIter (sequential and shuffled ids)") {
    import spark.implicits._
    val n = 10000
    val shuffled = new scala.util.Random(11).shuffle((0L until n.toLong).toVector)
    for (ids <- Seq((0L until n.toLong).toVector, shuffled)) {
      val chain = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("a", "b")
      // one job per round; min-label propagation would need n - 1 rounds
      val (labels, jobs) = countingJobs(Dedup.resolveComponents(chain, "a", "b"))
      assert(jobs <= 15)
      val got = labels.collect()
      assert(got.length == n)
      assert(got.forall(_.getLong(1) == 0L))
    }
  }

  test("600 disjoint pairs (already a star forest) resolve in exactly one Spark job") {
    import spark.implicits._
    val pairs = (0L until 600L).map(k => (k, 5400L + k)).toDF("a", "b")
    val (labels, jobs) = countingJobs(Dedup.resolveComponents(pairs, "a", "b"))
    assert(jobs == 1)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 600L).flatMap(k => Seq(k -> k, (5400L + k) -> k)).toMap)
  }
}
