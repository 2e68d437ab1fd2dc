package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val even = (id: Long) => id % 2 == 0
  private def q(qid: Long, ids: Long*) =
    ids.zipWithIndex.map { case (id, i) => (qid, i + 1L, id, i.toDouble) }

  test("a well-formed batch passes") {
    val rows = q(1, 2, 4) ++ q(2, 6, 8)
    assert(Checks.ranked(rows, Seq(1L, 2L), 2, _ => 100, even).failed == 0)
    assert(Checks.ranked(rows.reverse, Seq(1L, 2L), 2, _ => 100, even,
      grouped = false).failed == 0)
  }

  test("each broken property fails the call") {
    def bad(rows: Seq[Checks.Row], survivors: Long = 100) =
      Checks.ranked(rows, Seq(1L), 2, _ => survivors, even).failed
    assert(bad(q(1, 2, 3)) == 1)                          // fails the filter
    assert(bad(q(1, 2, 2)) == 1)                          // duplicate neighbour
    assert(bad(q(1, 2)) == 1)                             // fewer than k
    assert(bad(Seq((1L, 1L, 2L, 1.0), (1L, 2L, 4L, 0.5))) == 1) // distance falls
    assert(bad(Seq((1L, 1L, 2L, 1.0), (1L, 3L, 4L, 2.0))) == 1) // rank gap
    assert(bad(q(1, 2), survivors = 1) == 0)              // min(k, survivors)
    // survivors are per query: an IVF query whose probed cells hold one
    assert(Checks.ranked(q(1, 2) ++ q(2, 4, 6), Seq(1L, 2L), 2,
      qid => if (qid == 1) 1 else 100, even).failed == 0)
  }

  test("exact rows and monotone sweeps") {
    val a = q(1, 2, 4)
    assert(Checks.sameRows("x", a, a.reverse).failed == 0)
    assert(Checks.sameRows("x", a, q(1, 2, 6)).failed == 1)
    assert(Checks.nonDecreasing("r", Seq(1 -> 0.5, 4 -> 0.9, 2 -> 0.7)).failed == 0)
    assert(Checks.nonDecreasing("r", Seq(1 -> 0.5, 2 -> 0.4)).failed == 1)
  }

  test("the pre-filter's probed cells are the nearest centroids by squared L2") {
    val centroids = Array(Array(0f, 0f), Array(3f, 0f), Array(1f, 1f), Array(-2f, 0f))
    assert(ServeLocal.nearestCells(centroids, Array(0.9f, 0.9f), 2).toSeq == Seq(2, 0))
    assert(ServeLocal.nearestCells(centroids, Array(2.5f, 0f), 3).toSeq == Seq(1, 2, 0))
    // equal distances: the lower cell id first
    assert(ServeLocal.nearestCells(centroids, Array(-1f, 0f), 2).toSeq == Seq(0, 3))
  }
}
