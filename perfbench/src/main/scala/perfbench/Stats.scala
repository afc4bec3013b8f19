package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** A percentile is reported only when at least this many samples rank
    * above it.
    */
  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** Samples ranked above the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = if (n == 0) 0 else n - rank(n, p)

  def reportable(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond

  /** Smallest sample count at which the `p` percentile is reportable. */
  def samplesFor(p: Double): Int = Iterator.from(1).find(reportable(_, p)).get

  /** Plain median: the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Half-open time intervals `[start, end)` in milliseconds. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Seq[Iv]): Vector[Iv] =
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(Vector.empty[Iv]) {
      case (acc :+ ((s0, e0)), (s, e)) if s <= e0 => acc :+ ((s0, math.max(e0, e)))
      case (acc, iv) => acc :+ iv
    }

  def length(xs: Seq[Iv]): Double = union(xs).map { case (s, e) => e - s }.sum

  /** Time inside `spans` during which no interval of `busy` is open. */
  def gap(spans: Seq[Iv], busy: Seq[Iv]): Double = {
    val b = union(busy)
    union(spans).map { case (s, e) =>
      val covered = b.map { case (bs, be) => math.max(0.0, math.min(e, be) - math.max(s, bs)) }.sum
      (e - s) - covered
    }.sum
  }
}
