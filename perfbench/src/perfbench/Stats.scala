package perfbench

/** The benchmark's reporting rules, kept free of Spark so the self-test
 * can exercise them directly. */
object Stats {

  /** Nearest-rank percentile of an ascending array, `p` in (0, 100]. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 50)

  /** The tail rule: the highest percentile that still has at least
   * `minBeyond` samples above it. Of n ascending samples that is the one
   * at rank n - minBeyond (1-based), i.e. percentile 100 * (n - minBeyond) / n.
   * None below 2 * minBeyond samples, where that would fall under the median. */
  def tailRank(n: Int, minBeyond: Int = 10): Option[Int] =
    if (n < 2 * minBeyond) None else Some(n - minBeyond)

  /** (p50, tail percentile, tail value, n) of raw samples. */
  final case class Summary(p50: Double, tailPct: Double, tail: Double, n: Int)

  def summarize(samples: Seq[Double], minBeyond: Int = 10): Option[Summary] =
    tailRank(samples.length, minBeyond).map { r =>
      val s = samples.sorted.toArray
      Summary(percentile(s, 50), 100.0 * r / s.length, s(r - 1), s.length)
    }

  /** One step of the open-loop rate ladder, as measured. */
  final case class Step(rate: Double, seconds: Double, backlogStart: Long,
      backlogEnd: Long, tailMs: Double)

  /** The sustained-rate rule: walk the ladder upwards and keep the last
   * step whose backlog grew by at most `slackRows` and whose tail latency
   * met `limitMs`; the first step that misses either ends the walk. 0 when
   * the lowest step already fails. */
  def sustainedRate(steps: Seq[Step], limitMs: Double, slackRows: Long): Double = {
    val ok = steps.sortBy(_.rate).takeWhile { s =>
      s.backlogEnd - s.backlogStart <= slackRows && s.tailMs <= limitMs
    }
    ok.lastOption.map(_.rate).getOrElse(0.0)
  }

  /** Open-loop schedule: event `i` of a step that starts at `t0Ns` and
   * offers `rate` events per second is due at t0 + i / rate. Every
   * latency is taken from the due time, so a stall of the generator or
   * of the system is charged to every event it delayed. */
  final case class Schedule(t0Ns: Long, rate: Double) {
    def dueNs(i: Long): Long = t0Ns + (i * 1e9 / rate).toLong
    /** Events due at or before `nowNs` (the count, not an index). */
    def dueBy(nowNs: Long): Long =
      if (nowNs < t0Ns) 0L else ((nowNs - t0Ns) * rate / 1e9).toLong + 1
  }

  /** How late the generator handed events over, against their due times. */
  final class Lateness {
    private var n = 0L
    private var maxNs = 0L
    def record(dueNs: Long, emittedNs: Long): Unit = synchronized {
      val late = math.max(0L, emittedNs - dueNs)
      n += 1
      if (late > maxNs) maxNs = late
    }
    def count: Long = synchronized(n)
    def maxMs: Double = synchronized(maxNs / 1e6)
  }

  /** Latency of one operation, from when it was due until its answer was
   * seen — never from when it happened to be sent. */
  def latencyMs(dueNs: Long, seenNs: Long): Double = (seenNs - dueNs) / 1e6
}
