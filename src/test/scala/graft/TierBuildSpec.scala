package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, NswGraph, Resident, Serving}

/** How the serving tiers are built: the resident tiers are sized in
  * the pass that materializes them, the replicas arrive in
  * byte-budgeted partition batches, and each build stays within its
  * Spark job budget. Also the dispatchers' fault paths, local and
  * Spark-side: a filter that keeps nothing, k above the survivors and
  * an empty tier return short or empty results, never an exception. */
class TierBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 16
  private val Cells = 8

  /** `n` clustered rows (vec_id, embedding, rating) over 4 cached
    * partitions; rating = vec_id / n * 5, so a bracket keeps a known
    * number of rows. */
  private def rows(n: Int): DataFrame = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(12)(Array.fill(Dim)(rnd.nextFloat() * 4 - 2))
    val df = (0 until n).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.3f), i * 5.0 / n)
    }.toDF("vec_id", "embedding", "rating").repartition(4).cache()
    df.count()
    df
  }

  private lazy val data = rows(400)
  private lazy val centroids = {
    val c = AnnIvf.train(data, Cells).cache(); c.count(); c
  }
  private lazy val indexed = {
    val i = AnnIvf.index(data, centroids).cache(); i.count(); i
  }

  /** Jobs `body` submits, counted after the listener bus drains. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val collector = new Profile.Collector
    spark.sparkContext.addSparkListener(collector)
    try {
      collector.drained(spark); collector.reset()
      val out = body
      (out, collector.drained(spark).size)
    } finally spark.sparkContext.removeSparkListener(collector)
  }

  /** `body` with AQE's partition coalescing off, so a small build
    * keeps every shuffle partition (4) and a per-partition collect
    * shows up as jobs. */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  test("planBatches keeps partition order, sends an oversized partition " +
      "alone and makes one batch for an unlimited maxResultSize") {
    assert(Resident.planBatches(Array(3L, 3L, 3L, 3L), 7L) ==
      Seq(Seq(0, 1), Seq(2, 3)))
    assert(Resident.planBatches(Array(2L, 9L, 2L, 2L, 1L), 5L) ==
      Seq(Seq(0), Seq(1), Seq(2, 3, 4)))
    assert(Resident.planBatches(Array(9L, 1L), 5L) == Seq(Seq(0), Seq(1)))
    assert(Resident.planBatches(Array(5L, 5L, 5L), 0L) == Seq(Seq(0, 1, 2)))
    assert(Resident.planBatches(Array.emptyLongArray, 5L).isEmpty)
    assert(Resident.planBatches(Array.emptyLongArray, 0L).isEmpty)
    // zero-byte (empty) partitions ride along with their neighbours
    assert(Resident.planBatches(Array(0L, 4L, 0L, 4L), 4L) ==
      Seq(Seq(0, 1, 2), Seq(3)))
  }

  test("servableIndex(buildIndex(x)) plus count runs at most 3 jobs and " +
      "keeps the built tier MEMORY_ONLY") {
    indexed // built before counting
    val (idx, jobs) = jobsOf {
      val s = NswGraph.servableIndex(NswGraph.buildIndex(indexed,
        m = 8, efConstruction = 32))
      s.count()
      s
    }
    try {
      assert(jobs <= 3, s"$jobs jobs")
      assert(idx.getStorageLevel == StorageLevel.MEMORY_ONLY)
      val (_, _, cached, total) = Resident.cachedBytes(idx)
      assert(cached == total)
    } finally idx.unpersist()
  }

  test("servableCells is built by the pass that sizes it: cached " +
      "before any action, and an explicit level stays lazy") {
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("rating"))
    try {
      val (_, _, cached, total) = Resident.cachedBytes(cells)
      assert(cells.getStorageLevel == StorageLevel.MEMORY_ONLY)
      assert(cached == total && total > 0)
      assert(jobsOf(cells.count())._2 == 1)
    } finally cells.unpersist()
    val (lazyCells, jobs) = jobsOf(AnnIvf.servableCells(indexed,
      storage = Some(StorageLevel.MEMORY_AND_DISK)))
    try {
      assert(jobs == 0)
      assert(lazyCells.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally lazyCells.unpersist()
  }

  test("an estimate over the storage budget re-persists MEMORY_AND_DISK " +
      "with the warning, and the rows are unchanged") {
    val decoded = indexed.select($"vec_id").as[Long].rdd
    val statsOf: Long => Resident.TierStats =
      _ => Resident.TierStats(1L, 16, 0L, 1L, 0L, attrs = false)
    val out = new java.io.ByteArrayOutputStream
    val tier = Console.withOut(out) {
      Resident.persistWithin(decoded, 1000L, "TierBuildSpec")(statsOf)(t =>
        Resident.estimateFlatBytes(t.rows, t.dim, t.attrs))
    }
    try {
      assert(tier.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(out.toString.contains("TierBuildSpec: decoded tier estimate"))
      assert(out.toString.contains("persisting MEMORY_AND_DISK"))
      assert(tier.collect().sorted.toSeq == (0L until 400L))
    } finally tier.unpersist()
    val fits = Resident.persistWithin(decoded, 1L << 40, "TierBuildSpec")(
      statsOf)(t => Resident.estimateFlatBytes(t.rows, t.dim, t.attrs))
    try assert(fits.getStorageLevel == StorageLevel.MEMORY_ONLY)
    finally fits.unpersist()
  }

  test("localReplica and localCellReplica collect in at most 3 jobs, in " +
      "partition order, and the heap guard refuses before any collect") {
    uncoalesced {
      val idx = NswGraph.servableIndex(NswGraph.buildIndex(indexed,
        m = 8, efConstruction = 32))
      val cells = AnnIvf.servableCells(indexed, attrCol = Some("rating"))
      try {
        assert(idx.getNumPartitions == 4 && cells.getNumPartitions == 4)
        val (rep, graphJobs) = jobsOf(NswGraph.localReplica(idx, centroids))
        assert(graphJobs <= 3, s"localReplica: $graphJobs jobs")
        val whole = idx.collect()
        assert(rep.cells.map(_.cid).toSeq == whole.map(_.cid).toSeq)
        assert(rep.cells.map(_.ids.toSeq).toSeq ==
          whole.map(_.ids.toSeq).toSeq)
        val (flat, cellJobs) =
          jobsOf(AnnIvf.localCellReplica(cells, centroids))
        assert(cellJobs <= 3, s"localCellReplica: $cellJobs jobs")
        assert(flat.size == 400 &&
          flat.ids.sorted.toSeq == (0L until 400L))
        // refused after the one sizing pass, before any fetch job
        val (e, refusedJobs) = jobsOf(intercept[IllegalArgumentException](
          NswGraph.localReplica(idx, centroids, maxHeapFraction = 0.0)))
        assert(e.getMessage.contains("free driver heap"))
        assert(refusedJobs == 1, s"$refusedJobs jobs before refusing")
        val (e2, refusedCellJobs) = jobsOf(
          intercept[IllegalArgumentException](AnnIvf.localCellReplica(
            cells, centroids, maxHeapFraction = 0.0)))
        assert(e2.getMessage.contains("free driver heap"))
        assert(refusedCellJobs == 1)
      } finally { idx.unpersist(); cells.unpersist() }
    }
  }

  test("local dispatcher: a filter that keeps nothing and k above the " +
      "survivors give min(k, survivors) rows per query on every branch") {
    val idx = NswGraph.servableIndex(NswGraph.buildIndex(indexed,
      m = 8, efConstruction = 32))
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("rating"))
    try {
      val graph = NswGraph.localReplica(idx, centroids)
      val flat = AnnIvf.localCellReplica(cells, centroids)
      val queries = data.orderBy($"vec_id").limit(6)
        .select($"vec_id" + 1000L, $"embedding")
        .as[(Long, Array[Float])].collect()
      // rating < 0.05 keeps vec_id 0..3
      val few: Double => Boolean = _ < 0.05
      val none: Double => Boolean = _ < 0.0
      // each branch forced by its hint; every cell probed and an
      // over-fetch past the corpus, so each branch can see every
      // survivor
      val hints = Seq(None -> None, Some(0.0) -> Some(Serving.ExactScan),
        Some(0.2) -> Some(Serving.IvfPrefilterResident),
        Some(0.9) -> Some(Serving.GraphOverfetch))
      for ((pred, survivors) <- Seq(few -> 4, none -> 0);
           k <- Seq(1, 10); (hint, branch) <- hints) {
        val (s, out) = Serving.serveFilteredLocalExplained(flat,
          Some(graph), queries, k, pred, nprobe = Cells, extreme = 0.1,
          overFetchMult = 200, selectivity = hint)
        branch.foreach(b => assert(s == b, s"hint $hint ran $s"))
        val perQuery = out.groupBy(_._1).map { case (q, r) => q -> r.length }
        val want = math.min(k, survivors)
        assert(queries.forall(q => perQuery.getOrElse(q._1, 0) == want),
          s"$s k=$k survivors=$survivors: $perQuery")
        assert(out.forall(r => r._3 < 4L))
      }
    } finally { idx.unpersist(); cells.unpersist() }
  }

  test("Spark dispatcher: a filter that keeps nothing and k above the " +
      "survivors give min(k, survivors) rows per query on every branch") {
    val idx = NswGraph.servableIndex(NswGraph.buildIndex(indexed,
      m = 8, efConstruction = 32))
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("rating"))
    try {
      val art = Serving.Artifacts(indexed, centroids, graph = Some(idx),
        flat = Some(cells))
      val queries = data.orderBy($"vec_id").limit(6)
        .select(($"vec_id" + 1000L).as("qid"),
          $"embedding".as("q_embedding")).cache()
      val qids = queries.select($"qid").as[Long].collect()
      // rating < 0.05 keeps vec_id 0..3; the attr twins match
      val few = ($"rating" < 0.05, (r: Double) => r < 0.05, 4)
      val none = ($"rating" < 0.0, (r: Double) => r < 0.0, 0)
      // each branch forced by its hint; every cell probed and an
      // over-fetch past the corpus, so each branch can see every
      // survivor. The strong hint runs the resident branch with the
      // attr twin and the relational pre-filter without it.
      val hints = Seq((None, true, None),
        (Some(0.0), true, Some(Serving.ExactScan)),
        (Some(0.2), true, Some(Serving.IvfPrefilterResident)),
        (Some(0.2), false, Some(Serving.IvfPrefilter)),
        (Some(0.9), true, Some(Serving.GraphOverfetch)))
      for ((pred, twin, survivors) <- Seq(few, none); k <- Seq(1, 10);
           (hint, withTwin, branch) <- hints) {
        val (s, out) = Serving.serveFilteredExplained(art, queries, k,
          pred, nprobe = Cells, extreme = 0.1, overFetchMult = 200,
          selectivity = hint,
          attrPred = if (withTwin) Some(twin) else None)
        branch.foreach(b => assert(s == b, s"hint $hint ran $s"))
        val rows = out.select($"qid", $"neighbor_id")
          .as[(Long, Long)].collect()
        val perQuery = rows.groupBy(_._1).map { case (q, r) => q -> r.length }
        val want = math.min(k, survivors)
        assert(qids.forall(q => perQuery.getOrElse(q, 0) == want),
          s"$s k=$k survivors=$survivors: $perQuery")
        assert(rows.forall(_._2 < 4L))
      }
      queries.unpersist()
    } finally { idx.unpersist(); cells.unpersist() }
  }

  test("replicas of an empty tier build through the batched collect " +
      "and serve every branch with no rows") {
    val empty = indexed.filter(lit(false))
    val idx = NswGraph.servableIndex(NswGraph.buildIndex(empty,
      m = 8, efConstruction = 32))
    val cells = AnnIvf.servableCells(empty, attrCol = Some("rating"))
    try {
      val graph = NswGraph.localReplica(idx, centroids)
      val flat = AnnIvf.localCellReplica(cells, centroids)
      assert(graph.cells.isEmpty && flat.size == 0)
      val queries = Array((1L, Array.fill(Dim)(0.5f)))
      Seq(None, Some(0.0), Some(0.2), Some(0.9)).foreach { hint =>
        val (s, out) = Serving.serveFilteredLocalExplained(flat,
          Some(graph), queries, 5, (_: Double) => true,
          selectivity = hint)
        assert(out.isEmpty, s"hint $hint ran $s")
      }
    } finally { idx.unpersist(); cells.unpersist() }
  }
}
