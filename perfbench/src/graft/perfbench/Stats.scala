package graft.perfbench

/** Summary statistics of the benchmark. Every timing is reported as a median
  * plus a tail: the highest percentile that still has at least ten samples
  * beyond it, reported with that percentile and the sample count. */
object Stats {
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `value` at percentile `pct` of `n` samples. */
  case class Tail(value: Double, pct: Double, n: Int)

  /** The sample with exactly [[TailBeyond]] samples above it (the
    * (n-10)-th smallest), i.e. the percentile 100·(n-10)/n. With too few
    * samples for that the tail is the median, so a tail is never read off
    * fewer samples than it claims. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * TailBeyond) Tail(median(s), 50.0, n)
    else Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n)
  }

  /** Tracing overhead as a share of the untraced figure: positive means the
    * traced runs were slower. `lowerIsBetter` says which way "slower" reads
    * for the metric (times: up; rates: down). */
  def overhead(traced: Double, untraced: Double, lowerIsBetter: Boolean): Double =
    if (lowerIsBetter) (traced - untraced) / untraced else (untraced - traced) / untraced

  /** Open-loop schedule: when the `i`-th item of a stream offered at
    * `perSecond` items per second, starting at `start`, falls due. Requests
    * and events are timed from this due time, not from when they were sent. */
  def dueNanos(start: Long, i: Long, perSecond: Double): Long =
    start + math.round(i * 1e9 / perSecond)
}
