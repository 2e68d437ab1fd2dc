package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, GridSearch}
import graft.operators.GridSearch.Combo

/** `GridSearch.run` (one partition pass over the index, levels merged
  * on the driver) against the plan it replaced: probe-rank broadcast
  * join, fan-out to the nprobe levels, a (np, qid) top-k + count
  * aggregate, left join to the truth sets and a per-level reduce. The
  * old plan lives here as the reference; every deterministic result
  * column must equal it. Also the grid's job budget and that neither
  * sweep drops the caller's query cache. */
class GridParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 16

  /** 3000 clustered rows (vec_id, label, embedding) over 4 partitions
    * and 40 queries (qid, q_embedding) near the same clusters, both
    * cached and materialized. */
  private lazy val (data, queries) = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(Dim)(rnd.nextFloat() * 4 - 2))
    def near() = {
      val c = centers(rnd.nextInt(centers.length))
      c.map(x => x + rnd.nextFloat() * 0.4f)
    }
    val d = (0 until 3000).map(i => (i.toLong, i % 7, near()))
      .toDF("vec_id", "label", "embedding").repartition(4).cache()
    val q = (0 until 40).map(i => (100000L + i, near()))
      .toDF("qid", "q_embedding").repartition(2).cache()
    d.count(); q.count()
    (d, q)
  }
  private val filter: Column = col("label") =!= 3

  /** The replaced GridSearch.run plan (filter `filter`, totalBase
    * 5000), groups run in sorted order. */
  private def reference(queries: DataFrame, grid: Seq[Combo], k: Int,
      truthSets: DataFrame, shared: Map[Int, (DataFrame, DataFrame, Double)])
      : Seq[GridSearch.ResultRow] = {
    val filtered = data.filter(filter)
    val nVec = filtered.count()
    val nQ = queries.count()
    val keptPct = 100.0 * nVec / 5000L
    grid.groupBy(_.npartitions).toSeq.sortBy(_._1).flatMap {
      case (npart, combos) =>
        scala.util.Try {
          val (centroids, indexed, buildSec) = shared.getOrElse(npart,
            GridSearch.trainQuantizers(filtered, Seq(npart))(npart))
          val nprobes = combos.map(_.nprobe).distinct.sorted
          val probes = AnnIvf.probeRanks(centroids, queries, nprobes.max)
            .withColumnRenamed("cid", "pcid")
            .join(queries, "qid")
          val cand = indexed.join(broadcast(probes),
            indexed("cid") === probes("pcid"))
          val levels = nprobes.toDF("np")
          val recallByNp = cand
            .join(broadcast(levels), col("r") <= col("np"))
            .select(col("np"), col("qid"), col("vec_id").cast("long").as("_nnid"),
              GraftFunctions.sqDist(col("embedding"), col("q_embedding")).as("_dist"))
            .groupBy(col("np"), col("qid"))
            .agg(GraftFunctions.topK(k, col("_dist"), col("_nnid")).as("topk"),
              count(lit(1)).as("qcand"))
            .select(col("np"), col("qid"), col("topk.id").as("found_ids"),
              col("qcand"))
            .join(broadcast(truthSets), Seq("qid"), "left")
            .withColumn("gt_ids",
              coalesce(col("gt_ids"), array().cast("array<bigint>")))
            .groupBy(col("np"))
            .agg(
              coalesce(
                sum(size(array_intersect(col("found_ids"), col("gt_ids"))))
                  / sum(size(col("gt_ids"))), lit(0.0)).as("recall"),
              sum(col("qcand")).as("n_cand"))
            .select("np", "recall", "n_cand").collect()
            .map(r => r.getInt(0) ->
              (r.getDouble(1), r.getLong(2))).toMap
          combos.sortBy(_.nprobe).map { c =>
            val (rec, nCand) = recallByNp(c.nprobe)
            GridSearch.ResultRow("ivf", npart, c.nprobe, k, "f", nVec, nQ,
              keptPct, buildSec, 0.0, 0.0, math.rint(rec * 1e6) / 1e6, nCand)
          }
        }.recover { case e =>
          combos.sortBy(_.nprobe).map(c =>
            GridSearch.ResultRow("ivf", npart, c.nprobe, k, "f", nVec, nQ,
              keptPct, -1.0, -1.0, -1.0, -1.0, -1L,
              Some(e.toString.take(200))))
        }.get
    }
  }

  /** The deterministic columns of a result row. */
  private def key(r: GridSearch.ResultRow) = (r.algo, r.npartitions,
    r.nprobe, r.k, r.filter_name, r.total_vectors, r.total_queries,
    r.filtering_percentage, r.recall, r.n_candidates, r.error)
  private def keys(df: DataFrame) =
    df.as[GridSearch.ResultRow].collect().toSeq.map(key)

  private def truthOf(filterCol: Column, k: Int): DataFrame = {
    val t = GridSearch.truthSetsOf(data, queries, filterCol, k).cache()
    t.count()
    t
  }

  /** Run both plans on the same inputs and compare. */
  private def same(grid: Seq[Combo], truth: DataFrame,
      shared: Map[Int, (DataFrame, DataFrame, Double)], k: Int = 10,
      q: DataFrame = queries): Seq[GridSearch.ResultRow] = {
    val want = reference(q, grid, k, truth, shared)
    val got = GridSearch.run(spark, data, q, "f", filter, 5000L,
      grid = grid, k = k, precomputedTruth = Some(truth),
      sharedQuantizers = shared)
    assert(keys(got) == want.map(key))
    want
  }

  private def release(q: Map[Int, (DataFrame, DataFrame, Double)]): Unit =
    q.values.foreach(_._2.unpersist())

  test("levels {1,2,4,8,16} over two npartitions groups equal the old " +
      "plan, also with some queries' truth sets empty") {
    val quant = GridSearch.trainQuantizers(data.filter(filter), Seq(8, 16))
    val truth = truthOf(filter, 10)
    try {
      val grid = for (np <- Seq(8, 16); p <- Seq(1, 2, 4, 8, 16)) yield Combo(np, p)
      val full = same(grid, truth, quant)
      assert(full.forall(r => r.error.isEmpty && r.n_candidates > 0))
      assert(full.exists(_.recall < 1.0) && full.exists(_.recall == 1.0))
      // a third of the queries lose their truth set: they still count
      // their candidates, and add nothing to either recall term
      val partial = truth.filter(col("qid") % 3 =!= 0)
      val part = same(grid, partial, quant)
      assert(part.map(_.n_candidates) == full.map(_.n_candidates))
      // with no truth set at all every level scores 0 and still
      // reports its candidates (the old plan's 0/0 raised ANSI
      // DIVIDE_BY_ZERO here and turned the groups into error rows)
      val none = GridSearch.run(spark, data, queries, "f", filter, 5000L,
        grid = grid, precomputedTruth = Some(truth.limit(0)),
        sharedQuantizers = quant).as[GridSearch.ResultRow].collect()
      assert(none.map(_.recall).toSet == Set(0.0))
      assert(none.map(_.n_candidates).toSeq == full.map(_.n_candidates))
    } finally { release(quant); truth.unpersist() }
  }

  test("a level no query has a candidate at is the same error row, and " +
      "so is the poisoned Combo(0, 1)") {
    // cell 0 sits far from every data row and nearest to every query,
    // so each query's rank-1 cell is empty: level 1 has no candidate
    val far = Array.fill(Dim)(50f)
    val q2 = queries.select(col("qid"), lit(far).as("q_embedding"))
    val cents = AnnIvf.collectCentroids(AnnIvf.train(data, 4))
    val centroids = (far +: cents).toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cid", "centroid")
    val indexed = AnnIvf.index(data.filter(filter), centroids).cache()
    val truth = truthOf(filter, 10)
    try {
      val grid = Seq(Combo(5, 1), Combo(5, 2), Combo(5, 4))
      val shared = Map(5 -> ((centroids, indexed, 0.0)))
      val want = same(grid, truth, shared, q = q2)
      assert(want.forall(_.error.exists(_.contains("key not found: 1"))))
      // a poisoned build next to a healthy one trained in the call
      same(Seq(Combo(4, 1), Combo(4, 2), Combo(0, 1)), truth, Map.empty)
        .filter(_.npartitions == 0).foreach(r =>
          assert(r.error.exists(_.contains("numCentroids must be >= 1"))))
    } finally { indexed.unpersist(); truth.unpersist() }
  }

  test("a grid call with shared quantizers and precomputed truth " +
      "submits at most 5 Spark jobs") {
    val quant = GridSearch.trainQuantizers(data.filter(filter), Seq(16))
    val truth = truthOf(filter, 10)
    val collector = new Profile.Collector
    spark.sparkContext.addSparkListener(collector)
    try {
      collector.drained(spark); collector.reset()
      val rows = GridSearch.run(spark, data, queries, "f", filter, 5000L,
        grid = Seq(1, 2, 4, 8, 16).map(Combo(16, _)),
        precomputedTruth = Some(truth), sharedQuantizers = quant).collect()
      val jobs = collector.drained(spark)
      assert(rows.length == 5)
      assert(jobs.size <= 5, s"${jobs.size} jobs:\n" +
        jobs.map(_.site).mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(collector)
      release(quant); truth.unpersist()
    }
  }

  test("run and runNsw leave the caller's cached queries cached") {
    queries.cache() // a no-op unless an earlier call dropped it
    val before = queries.storageLevel
    assert(before != StorageLevel.NONE)
    GridSearch.run(spark, data, queries, "f", lit(false), 1L,
      grid = Seq(Combo(4, 1)))
    assert(queries.storageLevel == before)
    GridSearch.runNsw(spark, data, queries, "f", lit(false), 1L,
      grid = Seq(GridSearch.NswCombo(4, 8, 16)))
    assert(queries.storageLevel == before)
  }
}
