package perfbench

/** The benchmark's arithmetic, kept pure so it is unit-tested
  * (`StatsSpec`). */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it (rank `ceil(p/100 * n)`, 1-based). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 100.0, s"percentile must be in (0, 100], got $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** How many samples lie strictly beyond the nearest-rank `p`
    * percentile's rank. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt

  /** The median (mean of the middle pair for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Self time of a span `[start, end)`: its length minus the part of
    * it that its children cover. Children may overlap each other
    * (concurrent calls) or stick out of the parent; only their union
    * inside the parent counts. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** Hits of one query: how many of the oracle's ids the answer holds. */
  def hits(found: Seq[Long], truth: Seq[Long]): Int = {
    val t = truth.toSet
    found.distinct.count(t.contains)
  }

  /** Recall of a set of queries: total hits over total oracle ids (a
    * query whose filter keeps fewer than k rows has fewer oracle ids).
    * 1.0 when the oracle holds nothing to find. */
  def recall(perQuery: Seq[(Int, Int)]): Double = {
    val (h, t) = perQuery.foldLeft((0L, 0L)) { case ((a, b), (x, y)) =>
      (a + x, b + y) }
    if (t == 0L) 1.0 else h.toDouble / t
  }
}
