package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile picks the ceil(p*n)-th sample") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    // rank ceil(0.99 * 10) = 10: with ten samples p99 is the maximum
    assert(Stats.percentile((1 to 10).map(_.toDouble), 99) == 10.0)
    assert(Stats.percentile(Seq(7.0), 1) == 7.0)
  }

  test("samples beyond the percentile") {
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(999, 99) == 9)
    assert(Stats.beyond(100, 50) == 50)
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("self time subtracts the union of children inside the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 60L))) == 50)
    // a child sticking out of the parent only counts inside it
    assert(Stats.selfTime(50, 100, Seq((40L, 60L), (90L, 120L))) == 30)
    // nested and identical intervals
    assert(Stats.selfTime(0, 10, Seq((0L, 10L), (2L, 3L))) == 0)
  }

  test("recall is total hits over total oracle ids") {
    assert(Stats.hits(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) == 2)
    // a duplicated neighbour is one hit
    assert(Stats.hits(Seq(2L, 2L), Seq(2L, 5L)) == 1)
    // a query with 2 oracle ids weighs 2, one with 10 weighs 10
    assert(Stats.recall(Seq((2, 2), (5, 10))) == 7.0 / 12)
    assert(Stats.recall(Seq((0, 0))) == 1.0)
    assert(Stats.recall(Nil) == 1.0)
  }

  test("pack row recall is a multiset overlap") {
    assert(PipelinePack.rowRecall(Seq("a", "b"), Seq("a", "b")) == 1.0)
    assert(PipelinePack.rowRecall(Seq("a"), Seq("a", "a")) == 0.5)
    assert(PipelinePack.rowRecall(Seq("a", "a", "c"), Seq("a", "b")) == 0.5)
    assert(PipelinePack.rowRecall(Nil, Nil) == 1.0)
  }

  test("doubles render rounded to 6 places, half-even on the binary value") {
    assert(PipelinePack.render(0.1234565) == "0.123456") // binary value is below the tie
    assert(PipelinePack.render(2.5e-7) == "0")
    assert(PipelinePack.render(1.0) == "1")
    assert(PipelinePack.render(Double.NaN) == "nan")
  }
}
