package perfbench

/** Order statistics and span arithmetic shared by every workload. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between the two
    * closest ranks (the numpy default). Empty input has no percentile.
    */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = values.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** A timed region around one public call. `key` is the request or
    * segment id shared by all spans of one unit of work.
    */
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Option[Int], key: String) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of every span: its duration minus the time covered by
    * its direct children (children that overlap each other count once).
    */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - unionLength(kids))
    }.toMap
  }
}
