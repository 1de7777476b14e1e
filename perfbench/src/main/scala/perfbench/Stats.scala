package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * on its own: percentiles, interval unions and span self time. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: `pct` is the percentile, `value` its sample and
    * `beyond` how many samples lie strictly above its rank. */
  final case class Tail(pct: Int, value: Double, beyond: Int)

  /** The highest whole percentile (nearest-rank) that still has at least
    * `minBeyond` samples beyond it. With `minBeyond` or fewer samples no
    * percentile qualifies, and the tail is the worst sample (p100). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= minBeyond) Tail(100, s.last, 0)
    else {
      val pct = (100L * (n - minBeyond) / n).toInt
      val rank = math.max(1, math.ceil(pct * n / 100.0).toInt)
      Tail(pct, s(rank - 1), n - rank)
    }
  }

  /** Total length covered by half-open intervals `[start, end)`, each
    * clipped to `[lo, hi)`; overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue,
                  hi: Long = Long.MaxValue): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  /** One traced call: `parent` is the enclosing span's id (-1 at the root)
    * and `op` the timed operation it belongs to. Times are nanoseconds. */
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
    def layer: String = name.takeWhile(_ != '.')
  }

  /** Each span's self time: its duration minus the part of it that its
    * direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - unionLength(kids, s.start, s.end))
    }.toMap
  }

  /** Failed operations over attempted ones; an empty run has failed. */
  def failRatio(attempted: Int, failed: Int): Double = {
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    if (attempted == 0) 1.0 else failed.toDouble / attempted
  }
}
