package graft.pipeline

import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** `Dedup.resolveComponents` against a driver-side union-find on random
  * pair graphs with self-pairs, duplicate and reversed pairs, negative
  * ids, and both Int and Long id columns. */
object ComponentsProps extends Properties("graft.components") {

  private lazy val spark = graft.SparkSpec.session

  // each case runs a few Spark jobs per id type
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val graphs: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    pool <- Gen.listOfN(n, Gen.chooseNum(-50L, 5000L))
    m <- Gen.chooseNum(1, 60)
    edges <- Gen.listOfN(m, Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool)))
    dups <- Gen.someOf(edges)
    reversed <- Gen.someOf(edges)
  } yield edges ++ dups ++ reversed.map(_.swap)

  /** Least id of each node's component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  property("labels equal union-find min labels (Int and Long ids)") =
    forAll(graphs) { pairs =>
      val s = spark
      import s.implicits._
      val want = unionFind(pairs)
      val longs = Dedup.resolveComponents(pairs.toDF("a", "b"), "a", "b")
      val ints = Dedup.resolveComponents(
        pairs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b"), "a", "b")
      longs.schema.map(_.dataType) == Seq(LongType, LongType) &&
        ints.schema.map(_.dataType) == Seq(IntegerType, IntegerType) &&
        longs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want &&
        ints.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap == want
    }
}
