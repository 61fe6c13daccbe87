package graft.perfbench

/** Nearest-rank percentiles over raw samples. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Samples strictly above the p-th percentile: the report requires at
    * least ten beyond every percentile it prints.
    */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = pct(xs, p)
    xs.count(_ > v)
  }
}

/** Seeded random source shared by every generator: the same seed gives
  * the same inputs.
  */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def logUniform(lo: Int, hi: Int): Int =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo))).toInt
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  def split(): Rng = new Rng(r.nextLong())

  /** `n` items in blocks of `mix.values.sum`: each block holds exactly
    * the mix's count of every kind, shuffled, so every run sees the
    * same proportions.
    */
  def blocks[K: scala.reflect.ClassTag](mix: Seq[(K, Int)], n: Int): IndexedSeq[K] = {
    val block = mix.flatMap { case (k, c) => Seq.fill(c)(k) }.toArray
    (0 until (n + block.length - 1) / block.length).flatMap { _ =>
      for (i <- block.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = block(i); block(i) = block(j); block(j) = t
      }
      block.toVector
    }.take(n)
  }
}

/** Zipf(s = 1) over ranks 0 until n. */
final class Zipf(n: Int) {
  private val cdf = {
    val w = (1 to n).map(1.0 / _)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def draw(rng: Rng): Int = {
    val u = rng.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
