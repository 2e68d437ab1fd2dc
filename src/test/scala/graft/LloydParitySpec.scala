package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Pq}

/** The k-means trainers' Lloyd step (`AnnIvf.lloydStep`, one dense
  * partition pass) against the plan it replaced: one sum() column per
  * dimension plus a count, grouped by cell. The old plan lives here as
  * the reference; every trained table must equal it bit for bit. Also
  * the trainers' job budget and their loud input checks. */
class LloydParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 16

  /** `n` clustered rows (vec_id, embedding) over `parts` partitions,
    * cached and materialized, so both plans read the same partitions. */
  private def rows(n: Int, parts: Int, seed: Int = 7): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(24)(Array.fill(Dim)(rnd.nextFloat() * 4 - 2))
    val df = (0 until n).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding").repartition(parts).cache()
    df.count()
    df
  }

  private def seeds(data: DataFrame, n: Int, idCol: String,
      vecCol: String): Array[Array[Float]] =
    data.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_h", xxhash64(col("_id"), lit(42)))
      .orderBy(col("_h"), col("_id"))
      .limit(n)
      .select(col("_v")).as[Array[Float]].collect()

  /** The replaced AnnIvf.train Lloyd loop, verbatim. */
  private def aggTrain(data: DataFrame, numCentroids: Int, iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Float]] = {
    var centroids = seeds(data, numCentroids, idCol, vecCol)
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    var it = 0
    while (it < iterations) {
      val dimSums = (0 until dim).map(i =>
        sum(element_at(col("_v"), i + 1).cast("double")).as(s"_s$i"))
      val means = data
        .select(GraftFunctions.nearestCentroid(col(vecCol), centroids).as("cid"),
          col(vecCol).as("_v"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .select(col("cid"),
          array((0 until dim).map(i =>
            (col(s"_s$i") / col("n")).cast("float")): _*).as("centroid"))
        .as[(Int, Array[Float])].collect()
      val next = centroids.clone()
      means.foreach { case (cid, cen) => next(cid) = cen }
      centroids = next
      it += 1
    }
    centroids
  }

  /** The replaced Pq.train Lloyd loop, verbatim. */
  private def aggPq(data: DataFrame, m: Int, ksub: Int,
      iterations: Int): Array[Array[Array[Float]]] = {
    val vecCol = "embedding"
    val sd = seeds(data, ksub, "vec_id", vecCol)
    val dsub = sd(0).length / m
    var books = Array.tabulate(m)(s =>
      sd.map(_.slice(s * dsub, (s + 1) * dsub)))
    var it = 0
    while (it < iterations) {
      val subCols = (0 until m).map { s =>
        val sv = slice(col(vecCol), s * dsub + 1, dsub)
        struct(lit(s).as("sub"),
          GraftFunctions.nearestCentroid(sv, books(s)).as("cid"),
          sv.as("sv"))
      }
      val dimSums = (0 until dsub).map(i =>
        sum(element_at(col("sv"), i + 1).cast("double")).as(s"_s$i"))
      val means = data
        .select(explode(array(subCols: _*)).as("_e"))
        .select(col("_e.sub").as("sub"), col("_e.cid").as("cid"),
          col("_e.sv").as("sv"))
        .groupBy(col("sub"), col("cid"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .select(col("sub"), col("cid"),
          array((0 until dsub).map(i =>
            (col(s"_s$i") / col("n")).cast("float")): _*).as("c"))
        .as[(Int, Int, Array[Float])].collect()
      val next = books.map(_.clone())
      means.foreach { case (s, c, v) => next(s)(c) = v }
      books = next
      it += 1
    }
    books
  }

  private def bits(m: Array[Array[Float]]): Seq[Seq[Int]] =
    m.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  test("AnnIvf.train equals the per-dimension sum() plan bit for bit " +
      "over partitions {1,3,4,8}, C {1,7,256,>rows}, iterations {1,2,4}") {
    // (partitions, rows, C, iterations); 600 seeds >= 512 also runs
    // NearestCentroid's grouped-pruning kernel
    val cases = Seq((1, 3000, 7, 2), (3, 3000, 256, 1), (4, 3000, 1, 4),
      (8, 600, 700, 2))
    cases.foreach { case (parts, n, c, iters) =>
      val data = rows(n, parts)
      try {
        val want = aggTrain(data, c, iters)
        val got = AnnIvf.collectCentroids(
          AnnIvf.train(data, c, iterations = iters))
        assert(got.length == math.min(c, n))
        assert(bits(got) == bits(want), s"parts=$parts C=$c it=$iters")
      } finally data.unpersist()
    }
  }

  test("trainSupers equals the sum() plan over the centroid table") {
    val data = rows(3000, 4)
    try {
      val cents = AnnIvf.train(data, 256)
      val want = aggTrain(cents, 16, 4, idCol = "cid", vecCol = "centroid")
      val got = AnnIvf.collectMatrix(AnnIvf.trainSupers(cents), "sid",
        "centroid")
      assert(bits(got) == bits(want))
    } finally data.unpersist()
  }

  test("trainSupers on a cached centroid table equals the Spark Lloyd " +
      "path and the sum() plan bit for bit, in at most 1 job") {
    Seq(1, 2, 31).foreach { seed =>
      val data = rows(3000, 4, seed)
      val cents = AnnIvf.train(data, 256).cache()
      val collector = new Profile.Collector
      try {
        cents.count()
        val want = aggTrain(cents, 16, 4, idCol = "cid", vecCol = "centroid")
        val viaSpark = AnnIvf.collectCentroids(AnnIvf.train(cents, 16, 4,
          idCol = "cid", vecCol = "centroid"))
        spark.sparkContext.addSparkListener(collector)
        collector.drained(spark); collector.reset()
        val supers = AnnIvf.trainSupers(cents)
        val jobs = collector.drained(spark)
        assert(jobs.size <= 1, s"trainSupers: $jobs")
        val got = AnnIvf.collectMatrix(supers, "sid", "centroid")
        assert(bits(got) == bits(want) && bits(got) == bits(viaSpark),
          s"seed $seed")
      } finally {
        spark.sparkContext.removeSparkListener(collector)
        cents.unpersist(); data.unpersist()
      }
    }
  }

  test("Pq.train equals the exploded sum() plan bit for bit, ksub " +
      "{16,256}") {
    Seq((4, 8, 16, 2), (3, 4, 256, 1)).foreach { case (parts, m, ksub, it) =>
      val data = rows(3000, parts)
      try {
        val want = aggPq(data, m, ksub, it)
        val got = Pq.train(data, m = m, ksub = ksub, iterations = it)
        assert(got.m == m && got.dsub == Dim / m)
        (0 until m).foreach(s => assert(bits(got.codebooks(s)) ==
          bits(want(s)), s"parts=$parts m=$m ksub=$ksub sub=$s"))
      } finally data.unpersist()
    }
  }

  test("each trainer submits at most 1 + iterations Spark jobs") {
    val data = rows(2000, 4)
    val collector = new Profile.Collector
    spark.sparkContext.addSparkListener(collector)
    try {
      Seq(1, 3).foreach { it =>
        collector.drained(spark); collector.reset()
        AnnIvf.train(data, 7, iterations = it)
        val ivf = collector.drained(spark)
        assert(ivf.size <= 1 + it, s"AnnIvf.train(iterations = $it): $ivf")
        collector.reset()
        Pq.train(data, m = 4, ksub = 16, iterations = it)
        val pq = collector.drained(spark)
        assert(pq.size <= 1 + it, s"Pq.train(iterations = $it): $pq")
      }
    } finally {
      spark.sparkContext.removeSparkListener(collector)
      data.unpersist()
    }
  }

  test("trainers reject a cell count below 1, a null embedding and a " +
      "ragged row with an IllegalArgumentException that names it") {
    def fails(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    val ok = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(Dim)(j => (i * j % 7).toFloat)))
    val data = ok.toDF("vec_id", "embedding")
    fails("numCentroids must be >= 1")(AnnIvf.train(data, 0))
    fails("ksub must be >= 1")(Pq.train(data, m = 4, ksub = 0))
    // the one seed row at C = 1, so a bad row can sit outside the seeds
    val seedId = data.orderBy(xxhash64(col("vec_id"), lit(42)),
      col("vec_id")).select("vec_id").as[Long].head()
    val other = (seedId + 1) % ok.length
    def withRow(v: Array[Float]): DataFrame =
      ok.map { case (id, e) => (id, if (id == other) v else e) }
        .toDF("vec_id", "embedding")
    val withNull = withRow(null)
    val ragged = withRow(new Array[Float](Dim / 2))
    Seq(1, ok.length).foreach { c => // outside the seeds, then a seed
      fails("null embedding")(AnnIvf.train(withNull, c))
      fails("null embedding")(Pq.train(withNull, m = 4, ksub = c))
      fails("length")(AnnIvf.train(ragged, c))
      fails("length")(Pq.train(ragged, m = 4, ksub = c))
    }
  }
}
