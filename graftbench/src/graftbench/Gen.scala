package graftbench

/** Seeded input generation. Every value is a pure function of
  * (seed, stream, index), so the inputs never depend on the Spark master,
  * the partition a row lands in, or the order rows are produced. */
object Gen {
  // input streams: one per kind of generated value
  val BaseVec = 1L
  val QueryVec = 2L
  val BatchVec = 3L
  val Text = 4L
  val Corpus = 6L
  val Kernel = 8L

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed * 1000003L + stream) ^ i))

  /** Uniform [0,1)^dim vector — the reference's seeded random-vector shape. */
  def vec(seed: Long, stream: Long, i: Long, dim: Int): Array[Float] = {
    val r = rng(seed, stream, i)
    Array.fill(dim)(r.nextDouble().toFloat)
  }

  /** Spark UDF id -> [[vec]]; built here so the closure holds only its arguments. */
  def vecUdf(seed: Long, stream: Long, dim: Int) =
    org.apache.spark.sql.functions.udf((id: Long) => vec(seed, stream, id, dim))

  /** Pseudo-word for vocabulary rank `i`: 3..8 lowercase letters, fixed
    * across seeds so the vocabulary is the same for every workload. */
  def word(i: Int): String = {
    val r = new java.util.SplittableRandom(mix(i.toLong + 0x5eedL))
    val len = 3 + r.nextInt(6)
    val sb = new StringBuilder(len)
    var j = 0
    while (j < len) { sb.append(('a' + r.nextInt(26)).toChar); j += 1 }
    sb.toString
  }

  /** Zipf-like (log-uniform) vocabulary rank in [0, vocab). */
  def rank(r: java.util.SplittableRandom, vocab: Int): Int =
    math.min(vocab - 1, (math.exp(r.nextDouble() * math.log(vocab.toDouble)) - 1).toInt)

  def words(r: java.util.SplittableRandom, n: Int, vocab: Int): Array[String] =
    Array.fill(n)(word(rank(r, vocab)))

  def text(seed: Long, stream: Long, i: Long, minWords: Int, maxWords: Int, vocab: Int): String = {
    val r = rng(seed, stream, i)
    words(r, minWords + r.nextInt(maxWords - minWords + 1), vocab).mkString(" ")
  }

  def textUdf(seed: Long, stream: Long, minWords: Int, maxWords: Int, vocab: Int) =
    org.apache.spark.sql.functions.udf((id: Long) => text(seed, stream, id, minWords, maxWords, vocab))

  /** Squared L2 distance, written here so that the recall oracle does not
    * share code with the kernel it checks. */
  def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact squared-L2 top-k ids over `base` (ties by id), for recall. */
  def exactTopK(base: Array[Array[Float]], ids: Array[Long], q: Array[Float], k: Int): Set[Long] = {
    val bestD = Array.fill(k)(Double.MaxValue)
    val bestId = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < base.length) {
      val d = l2Sq(q, base(i))
      val id = ids(i)
      if (d < bestD(k - 1) || (d == bestD(k - 1) && id < bestId(k - 1))) {
        var j = k - 1 // insertion into the sorted top-k
        while (j > 0 && (d < bestD(j - 1) || (d == bestD(j - 1) && id < bestId(j - 1)))) {
          bestD(j) = bestD(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestD(j) = d; bestId(j) = id
      }
      i += 1
    }
    bestId.filter(_ != Long.MaxValue).toSet
  }
}
