package perfbench

/** The benchmark's arithmetic: percentiles, the tail rule, and the
  * closed-books identity. Kept free of Spark so the self-tests cover it
  * directly.
  */
object Stats {

  /** Nearest-rank percentile of an unsorted sample; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(rankIndex(s.size, p))
    }

  /** 0-based index of the nearest-rank `p`-th percentile of `n` samples. */
  def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.99, 99.9, 99.5, 99, 98, 95, 90, 75, 50)

  /** A tail figure: which percentile, its value, and the sample count. */
  final case class Tail(pct: Double, value: Double, n: Int)

  /** The highest percentile of [[TailLadder]] that still has at least
    * `beyond` samples strictly above its rank. With too few samples for
    * any of them, the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val s = xs.sorted
    val n = s.size
    val pct = TailLadder.find(p => n - 1 - rankIndex(n, p) >= beyond).getOrElse(50.0)
    Tail(pct, if (n == 0) Double.NaN else s(rankIndex(n, pct)), n)
  }

  /** Routing counts of one drain, as the runner reports them. */
  final case class Books(input: Long, delivered: Long, filteredOut: Long,
      toRetry: Long, toDlq: Long, undeliverable: Long) {
    def routed: Long = delivered + filteredOut + toRetry + toDlq + undeliverable
    /** Every input row is accounted for exactly once. */
    def closed: Boolean = routed == input
  }
}
