package perfbench

/** Pure measurement rules shared by the workloads; unit-tested in StatsSpec. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. Always returns an observed value, so a
    * p99 over n samples is backed by n/100 samples at or above it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Median with the midpoint rule for even counts (a run-level summary of
    * a few timed passes, not a latency percentile). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A committed micro-batch: everything at offsets <= `logPos` is in the
    * sink once the batch commits at `commitMs`. */
  final case class Commit(logPos: Long, commitMs: Long)

  /** Per-event lag: commit time of the FIRST batch (in commit order) whose
    * end offset covers the event, minus the event's due time. Returns
    * None for an event no batch covers (never committed). Commits must be
    * in batch order; a batch whose logPos went backwards is impossible for
    * this source and is rejected. */
  def attributeLag(offsets: Array[Long], dueMs: Array[Long],
      commits: Seq[Commit]): Array[Option[Long]] = {
    require(offsets.length == dueMs.length)
    commits.sliding(2).foreach {
      case Seq(a, b) => require(b.logPos >= a.logPos,
        s"batch end offsets went backwards: ${a.logPos} -> ${b.logPos}")
      case _ => ()
    }
    val pos = commits.map(_.logPos).toArray
    offsets.indices.map { i =>
      // first commit with logPos >= offset (binary search over ascending logPos)
      var lo = 0; var hi = pos.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (pos(m) >= offsets(i)) hi = m else lo = m + 1 }
      if (lo == pos.length) None else Some(commits(lo).commitMs - dueMs(i))
    }.toArray
  }

  /** Total length covered by a set of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of it that the child
    * intervals cover (children are clipped to the span first). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    (e - s) - unionLength(clipped)
  }

  /** Backlog (generated minus committed offsets) sampled as (timeMs,
    * backlog). The backlog grows when the least-squares slope over the
    * second half of the run exceeds `slackPerS` events per second — the
    * sawtooth a micro-batch stream draws at a sustainable rate has slope
    * ~0 over whole batch periods, while an unsustainable rate climbs for
    * as long as the run lasts. Returns (slope per second, grows). */
  def backlogGrowth(samples: Seq[(Long, Long)], slackPerS: Double): (Double, Boolean) = {
    require(samples.size >= 2, "need at least two backlog samples")
    val t0 = samples.head._1
    val tEnd = samples.last._1
    val half = samples.filter(_._1 >= t0 + (tEnd - t0) / 2)
    val pts = if (half.size >= 2) half else samples.takeRight(2)
    val xs = pts.map(p => (p._1 - t0) / 1000.0)
    val ys = pts.map(_._2.toDouble)
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val slope = if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (slope, slope > slackPerS)
  }

  /** Order-independent digest of a table: (row count, sum of a 64-bit hash
    * per row). Rows are rendered by the caller in one canonical form. */
  def digest(rows: Iterator[String]): (Long, Long) = {
    var n = 0L; var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += scala.util.hashing.MurmurHash3.stringHash(r).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(r.reverse)
    }
    (n, sum)
  }
}
