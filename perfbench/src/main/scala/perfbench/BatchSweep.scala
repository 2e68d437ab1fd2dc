package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Analytics, AnnIvf, GridSearch, Serving}

/** `batch_sweep`: the reference's offline harness through Spark
  * DataFrames. One sweep trains the coarse quantizer on the corpus
  * (`GridSearch.trainQuantizers`), and for each rating bucket computes
  * the exact oracle (`GridSearch.truthSetsOf`), runs the nprobe grid
  * over the bucket's rows of that index (`GridSearch.run`), and serves
  * the full query table through the dispatcher
  * (`Serving.serveFilteredExplained` over `Artifacts(indexed,
  * centroids)`); `Analytics` then summarises the result rows. Jobs,
  * shuffles, codegen distance kernels and top-k aggregates, nothing
  * in-process. A set-up step generates and caches the inputs; the
  * timed phase then runs whole sweeps, the first of them in a session
  * that has run no sweep before (so it holds the JIT and codegen
  * warm-up, as the offline harness's single run does). A request is
  * one sweep, what a user of the offline harness waits for. */
object BatchSweep extends Workload {
  val name = "batch_sweep"

  /** Set-up steps a run times: the first is cold, and a step costs
    * under a second warm, so seven. */
  val SetupReps = 7

  val Rows = 15000L
  val Queries = 120
  val Cells = 256
  val NProbes: Seq[Int] = Seq(1, 2, 4, 8, 16)
  val K = 10
  /** Sweeps the timed phase runs at least. A traced run leaves the
    * first untraced and then alternates traced and untraced sweeps:
    * the tracing overhead compares the two kinds of warm sweep. */
  def minSweeps(trace: Boolean): Int = if (trace) 3 else 1
  /** `serveFilteredExplained`'s default nprobe, used by its IVF branch. */
  val DispatchNProbe = 4

  private val bucketNames = Gen.Buckets.map(_.name)
  private val dispatched = Seq("ivf-prefilter", "exact-scan")

  val owns: Seq[String] = Seq("gen_s", "GridSearch.trainQuantizers_s",
    "GridSearch.candidates_per_s", "Analytics_s") ++
    bucketNames.flatMap(b => Seq(s"GridSearch.truthSetsOf_s.$b",
      s"GridSearch.run_s.$b", s"GridSearch.n_candidates.$b",
      s"GridSearch.recall_maxprobe.$b", s"Serving.serveFilteredExplained_s.$b",
      s"GridSearch.run.$b.jobs", s"GridSearch.run.$b.spill_mb",
      s"GridSearch.truthSetsOf.$b.jobs")) ++
    dispatched.map(s => s"Serving.serveFilteredExplained.strategy.$s")

  /** What one sweep produced, for the checks and the metrics. */
  private final case class Sweep(wallS: Double, grid: Map[String, Seq[Row]], served: Map[String, (String, Seq[Checks.Row])],
      truth: Map[String, Map[Long, Seq[Long]]], summaries: Int,
      centroids: DataFrame, indexed: DataFrame) {
    def release(): Unit = { centroids.unpersist(); indexed.unpersist() }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer

    def sweep(data: DataFrame, queries: DataFrame): Sweep = {
      val t0 = System.nanoTime()
      val (centroids, indexed, buildS) = tr.span("GridSearch.trainQuantizers_s") {
        GridSearch.trainQuantizers(data, Seq(Cells))(Cells)
      }
      val art = Serving.Artifacts(indexed, centroids)
      val per = Gen.Buckets.map { bk =>
        val truthDf = tr.span(s"GridSearch.truthSetsOf_s.${bk.name}") {
          val t = GridSearch.truthSetsOf(data, queries, bk.column, K).cache()
          t.count()
          t
        }
        val truth = truthDf.as[(Long, Seq[Long])].collect().toMap
        val grid = tr.span(s"GridSearch.run_s.${bk.name}") {
          GridSearch.run(spark, data, queries, bk.name, bk.column, Rows,
            grid = NProbes.map(GridSearch.Combo(Cells, _)), k = K,
            precomputedTruth = Some(truthDf),
            sharedQuantizers = Map(Cells ->
              ((centroids, indexed.filter(bk.column), buildS))))
            .collect().toSeq
        }
        truthDf.unpersist()
        val served = tr.span(s"Serving.serveFilteredExplained_s.${bk.name}") {
          val (s, df) = Serving.serveFilteredExplained(art, queries, K, bk.column)
          (s.name, df.select("qid", "rank", "neighbor_id", "dist")
            .as[(Long, Long, Long, Double)].collect().toSeq)
        }
        bk.name -> ((grid, served, truth))
      }.toMap
      val summaries = tr.span("Analytics_s") {
        val df = per.values.flatMap(_._1).toSeq.map(r =>
          (r.getAs[String]("filter_name"), r.getAs[Int]("nprobe"),
            r.getAs[Double]("recall"), r.getAs[Long]("n_candidates")))
          .toDF("filter_name", "nprobe", "recall", "n_candidates")
        Analytics.bestBy(df, Seq("filter_name"), "recall", Seq("nprobe")).collect().length +
          Analytics.paretoFrontier(df, Seq("filter_name"), "n_candidates",
            "recall").collect().length +
          Analytics.bracketSummary(df, "filter_name").collect().length
      }
      Sweep(Workload.seconds(t0), per.map { case (b, v) => b -> v._1 },
        per.map { case (b, v) => b -> v._2 }, per.map { case (b, v) => b -> v._3 },
        summaries, centroids, indexed)
    }

    // ---- set-up, repeated: the inputs ----
    val (setupTimes, (data, queries)) = Workload.repeatedSetup(SetupReps) {
      tr.span("gen_s") {
        val d = Gen.corpus(spark, Rows, ctx.seed, ctx.cores).persist(StorageLevel.MEMORY_ONLY)
        val q = Gen.queriesDf(spark, Gen.queries(Rows, 0, Queries, ctx.seed), ctx.cores)
          .persist(StorageLevel.MEMORY_ONLY)
        d.count(); q.count()
        (d, q)
      }
    } { case (d, q) => d.unpersist(); q.unpersist() }
    val heapMb = Workload.heapMb()
    val ratings = Array.tabulate(Rows.toInt)(i => Gen.rating(i, ctx.seed))

    // ---- timed phase: whole sweeps ----
    val sweeps = Seq.newBuilder[(Boolean, Sweep)]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minSweeps(ctx.trace) || Workload.seconds(t0) < ctx.seconds) {
      val traced = ctx.trace && n % 2 == 1
      val s = if (traced) tr.span("sweep")(sweep(data, queries))
        else tr.untraced(sweep(data, queries))
      sweeps += traced -> s
      if (n > 0) s.release() // the first sweep's index serves the checks
      n += 1
    }
    val all = sweeps.result()
    val runs = all.map(_._2)

    // ---- checks ----
    // GridSearch's recall at an nprobe level counts only the queries
    // that got a candidate at that level (the grid oracle pins this),
    // so the monotone quantity is the hit count: recall times the
    // oracle ids of the queries that have a candidate at that level.
    val probes = probed(runs.head, queries)
    runs.head.release()
    var checks = Checks.Empty
    runs.foreach { s =>
      Gen.Buckets.foreach { bk =>
        val g = s.grid(bk.name)
        val errors = g.filter(r => !r.isNullAt(r.fieldIndex("error")))
        checks = checks + Checks.Tally(1, if (errors.isEmpty) 0 else 1,
          errors.map(r => s"${bk.name}: grid error ${r.getAs[String]("error")}"))
        val byProbe = (col: String) => g.map(r =>
          r.getAs[Int]("nprobe") -> r.getAs[Number](col).doubleValue)
        val ids = probes(bk.name).levelIds
        val hits = byProbe("recall").map { case (p, rec) => p -> rec * ids(p) }
        // recall is rounded to 6 places, so hits carry that much slack
        val slack = 1e-6 * ids.values.maxOption.getOrElse(0L)
        checks = checks +
          Checks.nonDecreasing(s"${bk.name} recall hits", hits, slack) +
          Checks.nonDecreasing(s"${bk.name} n_candidates", byProbe("n_candidates"))
        val (strategy, rows) = s.served(bk.name)
        val survivors = ratings.count(bk.attr).toLong
        val inProbed = probes(bk.name).inProbed
        checks = checks + Checks.ranked(rows, Rows until Rows + Queries, K,
          if (strategy == "ivf-prefilter") q => inProbed.getOrElse(q, 0L)
          else _ => survivors,
          id => id >= 0 && id < Rows && bk.attr(ratings(id.toInt)), grouped = false)
        if (strategy == "exact-scan" && recallOf(rows, s.truth(bk.name)) != 1.0)
          checks = checks + Checks.Tally(1, 1,
            Seq(s"${bk.name}: exact-scan rows differ from the exact oracle"))
      }
      checks = checks + Checks.Tally(1, if (s.summaries > 0) 0 else 1,
        if (s.summaries > 0) Nil else Seq("Analytics returned no rows"))
    }

    val last = runs.last
    val recalls = Gen.Buckets.map(b => recallOf(last.served(b.name)._2, last.truth(b.name)))
    // an untraced run times one sweep, so its p50 and p90 are that sweep
    val lat = runs.map(_.wallS * 1e3)
    val wall = Stats.median(runs.map(_.wallS))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("wall_s", wall, "s"),
      Metric("qps", Queries * Gen.Buckets.length / wall, "queries/s"),
      Metric("latency_p50_ms", Stats.percentile(lat, 50), "ms"),
      Metric("latency_p90_ms", Stats.percentile(lat, 90), "ms"),
      Metric("recall_at_10", recalls.sum / recalls.length, "fraction"),
      Metric("recall_at_10_min", recalls.min, "fraction"),
      Metric("heap_mb", heapMb, "MB"))

    val layers = if (!ctx.trace) Nil else {
      val own = tr.ownCounters()
      val spans = tr.all
      val traced = spans.filter(_.name == "sweep")
      val nT = traced.length.toDouble
      def total(name: String) =
        spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
      def mean(name: String) = total(name) / nT
      def counters(name: String) = spans.filter(_.name == name)
        .map(s => tr.inclusive(own, s.id)).foldLeft(new Counters)(_ add _)
      val phase = traced.map(s => tr.inclusive(own, s.id)).foldLeft(new Counters)(_ add _)
      val maxP = NProbes.max
      def atMax(b: String, col: String) = last.grid(b)
        .find(_.getAs[Int]("nprobe") == maxP)
        .map(_.getAs[Number](col).doubleValue).getOrElse(0.0)
      val cand = bucketNames.map(b => atMax(b, "n_candidates")).sum
      val runS = bucketNames.map(b => mean(s"GridSearch.run_s.$b")).sum
      val strategies = last.served.values.map(_._1).toSeq
      val untracedS = all.drop(1).filterNot(_._1).map(_._2.wallS)
      val tracedS = all.filter(_._1).map(_._2.wallS)
      Layers.spark(phase, total("sweep"), ctx.cores, nT) ++ Seq(
        Metric("gen_s", Stats.median(spans.filter(_.name == "gen_s")
          .map(s => (s.endNs - s.startNs) / 1e9)), "s"),
        Metric("GridSearch.trainQuantizers_s", mean("GridSearch.trainQuantizers_s"), "s"),
        Metric("GridSearch.candidates_per_s", if (runS > 0) cand / runS else 0.0, "1/s"),
        Metric("Analytics_s", mean("Analytics_s"), "s"),
        Metric("trace.overhead_ratio",
          Stats.median(tracedS) / Stats.median(untracedS) - 1.0, "ratio")) ++
        bucketNames.flatMap { b =>
          val run = counters(s"GridSearch.run_s.$b")
          Seq(
            Metric(s"GridSearch.truthSetsOf_s.$b", mean(s"GridSearch.truthSetsOf_s.$b"), "s"),
            Metric(s"GridSearch.run_s.$b", mean(s"GridSearch.run_s.$b"), "s"),
            Metric(s"GridSearch.n_candidates.$b", atMax(b, "n_candidates"), "count"),
            Metric(s"GridSearch.recall_maxprobe.$b", atMax(b, "recall"), "fraction"),
            Metric(s"Serving.serveFilteredExplained_s.$b",
              mean(s"Serving.serveFilteredExplained_s.$b"), "s"),
            Metric(s"GridSearch.run.$b.jobs", run.jobs / nT, "count"),
            Metric(s"GridSearch.run.$b.spill_mb", run.spillBytes / 1e6 / nT, "MB"),
            Metric(s"GridSearch.truthSetsOf.$b.jobs",
              counters(s"GridSearch.truthSetsOf_s.$b").jobs / nT, "count"))
        } ++
        dispatched.map(s => Metric(s"Serving.serveFilteredExplained.strategy.$s",
          strategies.count(_ == s).toDouble, "count"))
    }
    data.unpersist(); queries.unpersist()
    Result(checks, e2e, layers, Seq("rows" -> Rows, "queries" -> Queries,
      "cells" -> Cells, "nprobes" -> NProbes, "k" -> K, "sweeps" -> runs.length,
      "dim" -> Gen.Dim, "setup_steps_s" -> setupTimes))
  }

  /** Per bucket, from a sweep's index: `levelIds`, the oracle ids of
    * the queries that get at least one candidate at each nprobe level
    * (their first non-empty probed cell ranks within it), and
    * `inProbed`, each query's filter survivors in the cells the
    * dispatcher's IVF branch probes. */
  private final case class Probed(levelIds: Map[Int, Long], inProbed: Map[Long, Long])

  private def probed(s: Sweep, queries: DataFrame): Map[String, Probed] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val ranks = AnnIvf.probeRanks(s.centroids, queries, NProbes.max).cache()
    val out = Gen.Buckets.map { bk =>
      val hit = ranks.join(s.indexed.filter(bk.column).groupBy("cid").count(), "cid")
      val first = hit.groupBy("qid").agg(min("r")).as[(Long, Int)].collect()
      val inProbed = hit.filter(col("r") <= DispatchNProbe).groupBy("qid")
        .agg(sum("count")).as[(Long, Long)].collect().toMap
      val truth = s.truth(bk.name)
      bk.name -> Probed(NProbes.map(p => p -> first.collect {
        case (q, r) if r <= p => truth.get(q).map(_.length.toLong).getOrElse(0L)
      }.sum).toMap, inProbed)
    }.toMap
    ranks.unpersist()
    out
  }

  private def recallOf(rows: Seq[Checks.Row], truth: Map[Long, Seq[Long]]): Double = {
    val by = rows.groupBy(_._1)
    Stats.recall(truth.toSeq.map { case (q, ids) =>
      (Stats.hits(by.getOrElse(q, Nil).map(_._3), ids), ids.length) })
  }
}
