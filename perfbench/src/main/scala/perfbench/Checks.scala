package perfbench

/** Output checks. Each checks one call's output and returns an
  * `Tally` of one item, failed if any check fails, with the first few
  * failure messages; outcomes add up to the run's attempted/failed. */
object Checks {
  final case class Tally(items: Int, failed: Int, messages: Seq[String]) {
    def +(o: Tally): Tally =
      Tally(items + o.items, failed + o.failed, (messages ++ o.messages).take(5))
  }
  val Empty: Tally = Tally(0, 0, Nil)

  type Row = (Long, Long, Long, Double) // (qid, rank, neighbor_id, dist)

  /** Filtered top-k rows of one batch, one query per `qids` slot:
    * every neighbour passes `keep`; ranks run 1..n with no duplicate
    * neighbour and non-decreasing distance; each query gets
    * min(k, survivors(qid)) rows, `survivors` being the rows that pass
    * the filter among those the serving branch searches (all of them
    * for an exact or a graph branch, the probed cells' for an IVF
    * pre-filter). Rows must arrive grouped per query in
    * `qids` order (the local serving contract); `grouped = false`
    * groups them by qid first (DataFrame results, distinct qids). */
  def ranked(rows: Seq[Row], qids: Seq[Long], k: Int, survivors: Long => Long,
      keep: Long => Boolean, grouped: Boolean = true): Tally = {
    val all = rows.toIndexedSeq
    val groups: Seq[(Long, IndexedSeq[Row])] =
      if (grouped) {
        val out = Seq.newBuilder[(Long, IndexedSeq[Row])]
        var i = 0
        while (i < all.length) {
          var j = i + 1
          while (j < all.length && all(j)._2 != 1L) j += 1
          out += all(i)._1 -> all.slice(i, j)
          i = j
        }
        out.result()
      } else {
        val by = all.groupBy(_._1)
        qids.map(q => q -> by.getOrElse(q, IndexedSeq.empty).sortBy(_._2))
      }
    def want(q: Long) = math.min(k.toLong, survivors(q)).toInt
    val found = groups.map(_._1)
    val slotErr =
      if (grouped && found != qids.filter(want(_) > 0))
        Seq(s"result groups ${found.take(3)}... do not match the batch's qids")
      else Nil
    val errs = groups.flatMap { case (q, g) => problem(q, g, want(q), keep) }
    val msgs = slotErr ++ errs
    Tally(1, if (msgs.isEmpty) 0 else 1, msgs.take(5))
  }

  /** The first broken property of one query's rows, if any. One pass
    * with no per-row allocation: it runs after every served batch. */
  private def problem(q: Long, g: IndexedSeq[Row], want: Int,
      keep: Long => Boolean): Option[String] = {
    val n = g.length
    var ranks, dup, falls, filtered = false
    var i = 0
    while (i < n) {
      val r = g(i)
      if (r._2 != i + 1L) ranks = true
      if (i > 0 && r._4 < g(i - 1)._4) falls = true
      if (!keep(r._3)) filtered = true
      var j = 0
      while (j < i) { if (g(j)._3 == r._3) dup = true; j += 1 }
      i += 1
    }
    if (ranks) Some(s"qid $q: ranks ${g.map(_._2).take(12)} are not 1..$n")
    else if (dup) Some(s"qid $q: duplicate neighbours")
    else if (falls) Some(s"qid $q: distances decrease")
    else if (filtered) Some(s"qid $q: a neighbour fails the filter")
    else if (n != want) Some(s"qid $q: $n rows, expected $want")
    else None
  }

  /** The exact branch must equal the oracle row for row. */
  def sameRows(name: String, got: Seq[Row], want: Seq[Row]): Tally = {
    val key = (r: Row) => (r._1, r._2)
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    val bad = g.length != w.length || g.zip(w).exists { case (a, b) =>
      a._1 != b._1 || a._2 != b._2 || a._3 != b._3 ||
        math.abs(a._4 - b._4) > 1e-9 * math.max(1.0, math.abs(b._4))
    }
    Tally(1, if (bad) 1 else 0,
      if (bad) Seq(s"$name: ${g.length} rows differ from the exact oracle's ${w.length}")
      else Nil)
  }

  /** A metric must not decrease (by more than `slack`) as `nprobe`
    * grows. */
  def nonDecreasing(name: String, byProbe: Seq[(Int, Double)],
      slack: Double = 0.0): Tally = {
    val s = byProbe.sortBy(_._1)
    val bad = s.zip(s.drop(1)).find { case (a, b) => b._2 < a._2 - slack }
    Tally(1, if (bad.isDefined) 1 else 0,
      bad.map { case (a, b) =>
        s"$name falls from ${a._2} at nprobe ${a._1} to ${b._2} at nprobe ${b._1}"
      }.toSeq)
  }
}
