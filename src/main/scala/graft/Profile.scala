package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.storage.StorageLevel

import graft.operators.{AnnIvf, Knn, NswGraph, Recall, Serving}

/** Profiling harness, one fresh session per invocation. Three modes:
  *
  *  - `solo [sfDir] [query ...]` — one COLD single-shot pass per query
  *    (the pack's convention), one parseable
  *    `[solo] {"query":…,"sec":…,"rows":…}` line each. This is the
  *    regression gate for bench-excluded work: the default query is
  *    the full-batch `corpus_classifier`, which Bench excludes so the
  *    pack total cannot see it regress.
  *  - `triage [sfDir] query ...` — pass 0 cold (codegen compile, JIT),
  *    passes 1-2 warm, pack state reset after each. Every pass prints
  *    a totals line (jobs / stages / tasks / summed executor task time
  *    / GC) and then one line per job (wall, tasks, task time, call
  *    site), so a wall made of many small sequential jobs (driver and
  *    scheduling latency) can be told apart from a few heavy stages
  *    (cluster work), and the heavy job matched to its operator. The
  *    cold/warm split is pass 0 against pass 1.
  *  - `local-filtered [n] [nQ] [nCells]` — the closed-loop FILTERED
  *    serving point (`localFiltered`), one parseable
  *    `[local-filtered] {json}` line per record.
  *
  * For solo/triage an argument containing '/' is the sf dir (default:
  * SPARK_GRAFT_SF_DIR, as for Bench); the rest are query names. Cores:
  * SPARK_GRAFT_CPUS (default 32).
  *
  * usage: runMain graft.Profile solo|triage [sfDir] [query ...]
  *        runMain graft.Profile local-filtered [n] [nQ] [nCells]
  */
object Profile {

  /** One job's counters as the listener recorded them. `stageTasks`
    * sums `numTasks` over the job's completed stages; `tasksEnded`
    * counts the task-end events attributed to it — equal once the
    * listener bus is drained. */
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long,
      stages: Int, stageTasks: Int, tasksEnded: Int, taskTimeMs: Long,
      gcTimeMs: Long) {
    /** NaN when the job's end event never arrived (job still running
      * or the bus not drained) — flagged instead of a huge negative. */
    def wallSec: Double =
      if (endMs == 0L) Double.NaN else (endMs - startMs) / 1e3
  }

  /** Listener that attributes stages and tasks to jobs. Read it only
    * through `drained`, which waits for the listener bus to empty, so
    * no late event is missed and no sleep is needed. */
  final class Collector extends SparkListener {
    private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]

    private def update(stageId: Int)(f: Job => Job): Unit =
      stageToJob.get(stageId).flatMap(jobs.get)
        .foreach(j => jobs(j.id) = f(j))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, site, e.time, 0L, 0, 0, 0, 0L, 0L)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1,
          stageTasks = j.stageTasks + e.stageInfo.numTasks))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = Option(e.taskMetrics)
      update(e.stageId)(j => j.copy(tasksEnded = j.tasksEnded + 1,
        taskTimeMs = j.taskTimeMs + m.map(_.executorRunTime).getOrElse(0L),
        gcTimeMs = j.gcTimeMs + m.map(_.jvmGCTime).getOrElse(0L)))
    }

    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }

    /** The jobs seen since the last reset, in start order, after every
      * event posted so far has been delivered. */
    def drained(spark: SparkSession): Seq[Job] = {
      Shim.drainListenerBus(spark)
      synchronized(jobs.values.toVector)
    }
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def solo(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[solo] $name: unknown query")
        case Some(q) =>
          val (rows, sec) = time(q(spark, sfDir).count())
          println(f"""[solo] {"query":"$name","sec":$sec%.2f,"rows":$rows}""")
      }
    }

  private def triage(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query: $n")
        case Some(fn) =>
          (0 to 2).foreach { pass =>
            collector.reset()
            val (rows, wall) = time(fn(spark, sfDir).count())
            val jobs = collector.drained(spark)
            println(f"$n%-28s pass=$pass wall=$wall%7.2fs " +
              f"jobs=${jobs.size}%3d stages=${jobs.map(_.stages).sum}%4d " +
              f"tasks=${jobs.map(_.stageTasks).sum}%5d " +
              f"taskTime=${jobs.map(_.taskTimeMs).sum / 1e3}%8.2fs " +
              f"gc=${jobs.map(_.gcTimeMs).sum / 1e3}%6.2fs rows=$rows")
            jobs.foreach { j =>
              println(f"  job=${j.id}%4d wall=${j.wallSec}%6.2fs " +
                f"tasks=${j.stageTasks}%5d " +
                f"taskTime=${j.taskTimeMs / 1e3}%8.2fs  ${j.site.take(90)}")
            }
            SparkEntry.resetPackState(spark)
          }
      }
    }
    spark.sparkContext.removeSparkListener(collector)
  }

  /** One `local-filtered` measurement. `section` is `build` (`bucket`
    * names the tier, `graph` or `flat`, and `seconds` is its build +
    * replica wall), `bucket` (the dispatch at the default dial) or
    * `low-sweep` (one matched-recall `dial`). Serving records carry
    * the dispatched strategy, recall@10 on the 200-query sample and
    * the closed loop's qps and avg/p99 ms per `batch`-query call. */
  final case class ServeRecord(section: String, bucket: String,
      strategy: String = "", dial: String = "", batch: Int = 0,
      qps: Double = 0.0, recall: Double = 0.0, avgMs: Double = 0.0,
      p99Ms: Double = 0.0, seconds: Double = 0.0) {
    def json: String =
      f"""{"section":"$section","bucket":"$bucket",""" +
        f""""strategy":"$strategy","dial":"$dial","batch":$batch,""" +
        f""""qps":$qps%.1f,"recall":$recall%.4f,"avg_ms":$avgMs%.3f,""" +
        f""""p99_ms":$p99Ms%.3f,"seconds":$seconds%.2f}"""
  }

  /** The reference's rating buckets as (name, rating_m threshold,
    * share kept): filter_config.yaml's low/high/mid selectivities. */
  val Buckets: Seq[(String, Double, Double)] = Seq(("low", 8.363, 0.8363),
    ("high", 1.561, 0.1561), ("mid", 0.077, 0.0077))

  /** The low-bucket matched-recall sweep as (nprobe, overFetchMult,
    * efSearch): the over-fetch narrowed to mult=1 (k' = ceil(k/sel) =
    * 12) and efSearch swept toward the reference's CPU-HNSW low-bucket
    * point (21,890 qps @ recall 0.914 at batch=100, BASELINE.md), at
    * the dispatch default np4 and the unfiltered tier's np2. */
  val LowDials: Seq[(Int, Int, Int)] = Seq((4, 1, 12), (4, 1, 16),
    (4, 1, 20), (4, 1, 24), (4, 2, 24), (4, 3, 32), (2, 1, 24),
    (2, 2, 24), (2, 2, 32), (2, 3, 32))

  /** FILTERED small-batch serving at the reference's product shape
    * (filter buckets × 100-query closed-loop batches,
    * params_config.yaml:23), every branch of
    * `Serving.serveFilteredLocalExplained`'s dispatch in-process.
    * Fixture: `n` 64-dim mixture vectors with `rating_m` on the
    * {0, 0.001, …, 9.999} grid (the reference's exact selectivities),
    * `nCells` cells with two-level assignment, m=16/efC=64 graphs,
    * k=10, `nQ` queries; selectivity rides as a hint. Returns the
    * graph and flat build records, then per bucket the dispatch at
    * nprobe=4/efSearch=32 for batch 100 and 1000, then the
    * `LowDials` sweep at batch 100. Past `Serving.TwoLevelMinCells`
    * cells the pre-filter branch may run the cost-based two-level
    * prober. */
  def localFiltered(spark: SparkSession, n: Int, nQ: Int,
      nCells: Int): Seq[ServeRecord] = {
    import spark.implicits._
    val k = 10
    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding")
      .withColumn("rating_m",
        pmod(xxhash64(col("vec_id"), lit(888)), lit(10000))
          .cast("double") / 1000.0)
      .persist(StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding")
      .cache()
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    val centroids = AnnIvf.train(
      data.sample(math.min(1.0, 200000.0 / n), 44), nCells, iterations = 2)
    val indexed = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(centroids),
      centroids, wSuper = 4).persist(StorageLevel.MEMORY_ONLY)
    // each bucket's exact top-k on the sample, shared by its dials
    val truths = Buckets.map { case (nm, thr, _) =>
      nm -> Knn.exact(data.filter(col("rating_m") < thr), qSample, k).cache()
    }.toMap
    try {
      indexed.count()
      val (graphRep, gSec) = time {
        val s = NswGraph.servableIndex(
          NswGraph.buildIndex(indexed, m = 16, efConstruction = 64))
        s.count()
        try NswGraph.localReplica(s, centroids) finally s.unpersist()
      }
      val (flatRep, fSec) = time {
        val c = AnnIvf.servableCells(indexed, attrCol = Some("rating_m"))
        c.count()
        try AnnIvf.localCellReplica(c, centroids) finally c.unpersist()
      }
      def rows(q: DataFrame) = q.select(col("qid").cast("long"),
        col("q_embedding")).as[(Long, Array[Float])].collect()
      val qArr = rows(queries)
      val sampleArr = rows(qSample)
      def serve(batch: Array[(Long, Array[Float])], thr: Double,
          sel: Double, np: Int = 4, efs: Int = 32, mult: Int = 3) =
        Serving.serveFilteredLocalExplained(flatRep, Some(graphRep), batch,
          k, _ < thr, nprobe = np, efSearch = efs, overFetchMult = mult,
          selectivity = Some(sel))
      // recall of one dial on the sample against the bucket's exact
      // truth, then the closed loop at each batch size
      def measure(section: String, bucket: String, dial: String,
          batches: Seq[Int])(
          call: Array[(Long, Array[Float])] => (Serving.Strategy,
            Array[(Long, Long, Long, Double)])): Seq[ServeRecord] = {
        val (strat, sRows) = call(sampleArr)
        val found = spark.createDataset(sRows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
        val r = Recall.ofRanked(found, truths(bucket)).head()
        val recall = r.getDouble(r.fieldIndex("recall"))
        batches.map { bs =>
          val (qps, avgMs, p99Ms) = ProfileStats.closedLoop(qArr, bs)(call(_))
          ServeRecord(section, bucket, strat.name, dial, bs, qps, recall,
            avgMs, p99Ms)
        }
      }

      // warm the kernels and the JIT on the low and high buckets
      Buckets.take(2).foreach { case (_, thr, sel) =>
        serve(qArr.take(5000), thr, sel)
      }
      val build = Seq(ServeRecord("build", "graph", seconds = gSec),
        ServeRecord("build", "flat", seconds = fSec))
      val buckets = Buckets.flatMap { case (nm, thr, sel) =>
        measure("bucket", nm, "np=4 mult=3 efS=32", Seq(100, 1000))(
          serve(_, thr, sel))
      }
      val (low, lowThr, lowSel) = Buckets.head
      val sweep = LowDials.flatMap { case (np, mult, efs) =>
        measure("low-sweep", low, s"np=$np mult=$mult efS=$efs", Seq(100))(
          serve(_, lowThr, lowSel, np, efs, mult))
      }
      build ++ buckets ++ sweep
    } finally (truths.values ++ Seq(indexed, qSample, queries, data))
      .foreach(_.unpersist())
  }

  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.drop(1).toSeq.partition(_.contains('/'))
    val sfDir = dirs.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    (args.headOption, sfDir) match {
      case (Some("local-filtered"), _) =>
        def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
        val spark = session()
        try localFiltered(spark, arg(1, 5000000), arg(2, 100000),
          arg(3, 1024)).foreach(r => println(s"[local-filtered] ${r.json}"))
        finally spark.stop()
      case (Some("solo"), Some(dir)) =>
        val spark = session()
        try solo(spark, dir,
          if (names.nonEmpty) names else Seq("corpus_classifier"))
        finally spark.stop()
      case (Some("triage"), Some(dir)) if names.nonEmpty =>
        val spark = session()
        try triage(spark, dir, names) finally spark.stop()
      case _ =>
        System.err.println(
          "usage: graft.Profile solo [sfDir] [query ...]\n" +
          "       graft.Profile triage [sfDir] query [query ...]\n" +
          "       graft.Profile local-filtered [n] [nQ] [nCells]\n" +
          "sfDir defaults to $SPARK_GRAFT_SF_DIR")
        sys.exit(2)
    }
  }
}
