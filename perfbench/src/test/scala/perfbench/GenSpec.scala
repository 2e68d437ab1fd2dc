package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(seed: Long, parts: Int) = {
    import spark.implicits._
    Gen.corpus(spark, 3000, seed, parts).as[(Long, Array[Float], Double)]
      .collect().map { case (id, v, r) => (id, v.toSeq, r) }.sortBy(_._1).toSeq
  }

  test("the same seed gives the same rows at any partition count") {
    val one = rows(7, 1)
    Seq(3, 4, 7).foreach(p => assert(rows(7, p) == one, s"$p partitions"))
    assert(one.map(_._1) == (0L until 3000L))
    assert(rows(8, 4) != one)
  }

  test("rows spread evenly over the partitions") {
    val sizes = Gen.corpus(spark, 10000, 1, 4).rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.toSeq == Seq(2500, 2500, 2500, 2500))
  }

  test("ratings follow the reference's range frequencies") {
    val n = 200000
    val r = (0 until n).map(i => Gen.rating(i, 3))
    def frac(p: Double => Boolean) = r.count(p).toDouble / n
    Gen.Buckets.foreach { b =>
      assert(math.abs(frac(b.attr) - b.selectivity) < 0.003, b.name)
    }
    assert(math.abs(frac(_ == 5.0) - 0.0347) < 0.002)
    assert(r.forall(x => x >= 0.0 && x <= 5.0))
  }

  test("queries are seeded, 64-dim and disjoint from the corpus") {
    val q = Gen.queries(3000, 0, 50, 7)
    assert(q.map(_._1).toSeq == (3000L until 3050L))
    assert(q.forall(_._2.length == Gen.Dim))
    assert(q.map(_._2.toSeq).toSeq == Gen.queries(3000, 0, 50, 7).map(_._2.toSeq).toSeq)
    assert(Gen.permutation(10, 5).sorted.toSeq == (0 until 10))
    assert(Gen.permutation(10, 5).toSeq == Gen.permutation(10, 5).toSeq)
  }
}
