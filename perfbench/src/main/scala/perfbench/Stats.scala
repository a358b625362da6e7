package perfbench

/** Pure arithmetic behind every reported number. No Spark here, so the
  * rules are unit-tested in isolation (see StatsSpec). */
object Stats {

  /** Median; the mean of the two middle values on even sizes. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail value and the percentile it was taken at. */
  final case class Tail(percentile: Double, value: Double, samples: Int) {
    def label: String =
      if (percentile.isNaN) s"max of $samples (too few for a tail)"
      else f"p$percentile%.1f of $samples"
  }

  val TailMinBeyond = 10

  /** The highest percentile with at least `minBeyond` samples above it:
    * the value at nearest rank `n - minBeyond`. A sample of `minBeyond`
    * or fewer has no such percentile and reports its maximum. */
  def tail(xs: Seq[Double], minBeyond: Int = TailMinBeyond): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    val rank = n - minBeyond
    if (rank < 1) Tail(Double.NaN, s.last, n)
    else Tail(100.0 * rank / n, s(rank - 1), n)
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[start, end)` covered by `intervals`, each clipped to it. */
  def coveredWithin(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    covered(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** A span's self time: its duration minus the part of it that its
    * children cover. Overlapping children count once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(start, end, children)

  /** Bytes a compaction wrote per byte that needed maintenance. */
  def writeAmp(bytesWritten: Long, bytesNeedingMaintenance: Long): Double = {
    require(bytesNeedingMaintenance > 0, "write amplification needs a positive divisor")
    bytesWritten.toDouble / bytesNeedingMaintenance
  }

  /** Share of the available core time that tasks spent running. */
  def coreUtil(taskSeconds: Double, wallSeconds: Double, cores: Int): Double = {
    require(wallSeconds > 0 && cores > 0, "core utilisation needs wall time and cores")
    taskSeconds / (wallSeconds * cores)
  }

  /** max / median of positive durations; 1.0 for a single value. */
  def skew(durations: Seq[Double]): Double = {
    val pos = durations.filter(_ > 0)
    if (pos.isEmpty) 1.0 else pos.max / median(pos)
  }
}
