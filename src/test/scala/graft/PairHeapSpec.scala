package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NswGraph

/** Property tests for the primitive pair heap under the NSW kernel:
  * lexicographic (dist, idx) order with both directions, growth past
  * the initial capacity, duplicate distances (the tie-break path), and
  * the bounded-top-k usage pattern beamSearch relies on, and random
  * interleaved push/pop traces against a reference comparator. */
class PairHeapSpec extends AnyFunSuite {

  private def randomPairs(seed: Int, n: Int): Seq[(Double, Int)] = {
    val rnd = new scala.util.Random(seed)
    // coarse distances force plenty of exact ties so the idx
    // tie-break actually decides
    Seq.fill(n)((rnd.nextInt(8).toDouble, rnd.nextInt(1000)))
  }

  test("max-heap drainSortedAsc equals full (dist, idx) sort") {
    (1 to 20).foreach { seed =>
      val pairs = randomPairs(seed, 200)
      val h = new NswGraph.PairHeap(4, max = true) // forces growth
      pairs.foreach { case (d, i) => h.push(d, i) }
      assert(h.drainSortedAsc().toSeq == pairs.sorted)
    }
  }

  test("bounded top-k: popping the max past k keeps the k smallest") {
    val k = 16
    (1 to 20).foreach { seed =>
      val pairs = randomPairs(seed + 100, 300)
      val h = new NswGraph.PairHeap(k + 1, max = true)
      pairs.foreach { case (d, i) =>
        h.push(d, i)
        if (h.size > k) h.pop()
      }
      assert(h.drainSortedAsc().toSeq == pairs.sorted.take(k))
    }
  }

  test("min-heap pops in ascending (dist, idx) order") {
    (1 to 20).foreach { seed =>
      val pairs = randomPairs(seed + 200, 150)
      val h = new NswGraph.PairHeap(8, max = false)
      pairs.foreach { case (d, i) => h.push(d, i) }
      val out = Seq.newBuilder[(Double, Int)]
      while (h.size > 0) { out += ((h.headDist, h.headIdx)); h.pop() }
      assert(out.result() == pairs.sorted)
    }
  }

  test("randomized push/pop traces with heavy duplicates match a " +
      "reference (dist, idx) comparator, both polarities") {
    val byPair = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    for (max <- Seq(true, false); seed <- 1 to 30) {
      val rnd = new scala.util.Random(seed * 7 + (if (max) 1 else 0))
      val h = new NswGraph.PairHeap(2, max = max) // forces growth
      val ref = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
      def refHead = if (max) ref.max(byPair) else ref.min(byPair)
      (0 until 600).foreach { step =>
        // three distances and few ids: equal pairs and equal-distance
        // ties on both sides of the idx tie-break in every trace
        if (ref.isEmpty || rnd.nextInt(5) < 3) {
          val p = (rnd.nextInt(3).toDouble, rnd.nextInt(12))
          h.push(p._1, p._2); ref += p
        } else {
          ref -= refHead; h.pop()
        }
        val ctx = s"max=$max seed=$seed step=$step"
        assert(h.size == ref.size, ctx)
        if (ref.nonEmpty)
          assert((h.headDist, h.headIdx) == refHead, ctx)
      }
    }
  }
}
