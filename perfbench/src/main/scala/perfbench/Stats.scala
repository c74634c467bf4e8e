package perfbench

/** The benchmark's own statistics. Pure functions, unit tested in
  * `StatsSpec`: every figure the benchmark prints goes through here. */
object Stats {

  /** One timed operation: its latency, or a failure. A failure enters
    * every percentile as infinitely slow, so a run that fails more
    * can never read faster. */
  final case class Sample(ms: Double, ok: Boolean)

  /** A percentile with the sample count it came from. `value` is
    * +Inf when the rank lands on a failure. */
  final case class Pctl(value: Double, n: Int, beyond: Int)

  /** Tail samples a percentile above the median must leave beyond its
    * rank before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile (q in (0, 1]) over successes and failures;
    * None when there are no samples, or when a percentile above the
    * median has fewer than [[MinBeyond]] samples beyond its rank. */
  def percentile(samples: Seq[Sample], q: Double): Option[Pctl] = {
    require(q > 0 && q <= 1, s"percentile $q outside (0, 1]")
    val n = samples.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(q * n).toInt)
      val beyond = n - rank
      if (q > 0.5 && beyond < MinBeyond) None
      else {
        val sorted = samples.map(s => if (s.ok) s.ms else Double.PositiveInfinity).sorted
        Some(Pctl(sorted(rank - 1), n, beyond))
      }
    }
  }

  /** Median of plain measurements (the lower middle for even counts). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** Closed-loop throughput: operations that completed successfully
    * within the measurement window ÷ the window's length. Operations
    * still in flight when the window closes finish (their latencies
    * count) but not here, so one slow operation straddling the end
    * cannot stretch the window; failed operations never count. */
  def closedLoopRate(opEndNanos: Seq[(Long, Boolean)], startNanos: Long,
                     deadlineNanos: Long): Double = {
    require(deadlineNanos > startNanos, "empty measurement window")
    opEndNanos.count { case (end, ok) => ok && end <= deadlineNanos } /
      ((deadlineNanos - startNanos) / 1e9)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * its children cover (children clipped to the parent, overlaps
    * between concurrent children counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
