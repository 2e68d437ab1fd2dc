package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shim

/** Per-query profiling over the `SparkEntry` pack, one fresh session
  * per invocation. Two modes:
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
  *
  * An argument containing '/' is the sf dir (default: SPARK_GRAFT_SF_DIR,
  * as for Bench); the rest are query names. Cores: SPARK_GRAFT_CPUS
  * (default 32).
  *
  * usage: runMain graft.Profile solo|triage [sfDir] [query ...]
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

  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.drop(1).toSeq.partition(_.contains('/'))
    val sfDir = dirs.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    (args.headOption, sfDir) match {
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
          "sfDir defaults to $SPARK_GRAFT_SF_DIR")
        sys.exit(2)
    }
  }
}
