package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{AnnIvf, Knn, NswGraph, Serving}

/** `serve_local`: the reference's product scenario served in-process.
  * One caller sends 100-query batches to
  * `Serving.serveFilteredLocalExplained` in a closed loop; the three
  * rating buckets rotate in a seeded order and travel with their
  * selectivity hint. Library defaults apply except k = 10. Every call
  * is kernel work with zero Spark jobs, so this workload isolates the
  * local graph beam (low), the resident cell scan (high), the local
  * exact scan (mid) and the dispatcher. */
object ServeLocal extends Workload {
  val name = "serve_local"

  /** Set-up steps a run times: the first is cold, and a step costs
    * seconds, so three. */
  val SetupReps = 3

  val Rows = 20000L
  val Cells = 256
  /** 200 distinct batches, so the latency tail is not that of a few
    * hard batches. */
  val Queries = 20000
  val BatchSize = 100
  val K = 10
  /** `serveFilteredLocalExplained`'s default nprobe, used by its
    * pre-filter branch. */
  val NProbe = 4
  /** The timed loop runs at least this many batches (whole rounds):
    * 501 beyond the p90 and 50 beyond the per-layer p99. */
  val MinBatches = 5010
  val WarmupBatches = 60
  val RecallQueries = 200

  private val spanNames = Seq("gen", "AnnIvf.train", "AnnIvf.indexTwoLevel",
    "NswGraph.buildIndex", "NswGraph.localReplica", "AnnIvf.servableCells",
    "AnnIvf.localCellReplica")
  private val strategies = Seq("graph-overfetch", "ivf-prefilter-resident",
    "exact-scan")
  private val kernels = Seq("NswGraph.searchLocalQueries",
    "AnnIvf.searchLocalCellsQueries", "AnnIvf.searchLocalExactQueries")

  val owns: Seq[String] =
    spanNames.flatMap(s => Seq(s"${s}_s", s"${s}_s.jobs", s"${s}_s.task_cpu_s")) ++
      Seq("Knn.exact_s", "Serving.local.calls", "Serving.local.p99_ms",
        "Serving.local.busy_s", "Serving.local.full_k_ratio") ++
      strategies.map(s => s"Serving.local.strategy.$s") ++
      Gen.Buckets.flatMap(b => Seq(s"Serving.local.${b.name}.p50_ms",
        s"Serving.local.recall.${b.name}")) ++
      kernels.map(k => s"$k.us_per_query")

  private final class Built(val flat: AnnIvf.LocalCellReplica,
      val graph: NswGraph.LocalReplica, val queries: Array[(Long, Array[Float])],
      val ratings: Array[Double], val indexed: DataFrame)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val parts = ctx.cores

    def corpus(): DataFrame = Gen.corpus(spark, Rows, ctx.seed, parts)

    // ---- set-up, repeated: data, index, replicas, JIT warm-up ----
    val (setupTimes, built) = Workload.repeatedSetup(SetupReps) {
      val (data, queries, warm, ratings) = tr.span("gen_s") {
        val d = corpus().persist(StorageLevel.MEMORY_ONLY)
        d.count()
        val q = Gen.queries(Rows, 0, Queries, ctx.seed)
        // the warm-up set: same mixture, ids past the timed queries
        val w = Gen.queries(Rows, Queries, WarmupBatches * BatchSize, ctx.seed)
        val r = Array.tabulate(Rows.toInt)(i => Gen.rating(i, ctx.seed))
        (d, q, w, r)
      }
      val centroids = tr.span("AnnIvf.train_s") {
        val c = AnnIvf.train(data, Cells).cache()
        c.count()
        c
      }
      val indexed = tr.span("AnnIvf.indexTwoLevel_s") {
        val i = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(centroids),
          centroids).persist(StorageLevel.MEMORY_ONLY)
        i.count()
        i
      }
      val servable = tr.span("NswGraph.buildIndex_s") {
        val s = NswGraph.servableIndex(NswGraph.buildIndex(indexed))
        s.count()
        s
      }
      val graph = tr.span("NswGraph.localReplica_s") {
        NswGraph.localReplica(servable, centroids)
      }
      servable.unpersist()
      val cells = tr.span("AnnIvf.servableCells_s") {
        val c = AnnIvf.servableCells(indexed, attrCol = Some("rating"))
        c.count()
        c
      }
      val flat = tr.span("AnnIvf.localCellReplica_s") {
        AnnIvf.localCellReplica(cells, centroids)
      }
      cells.unpersist()
      centroids.unpersist(); data.unpersist()
      val b = new Built(flat, graph, queries, ratings, indexed)
      warm.grouped(BatchSize).zipWithIndex.foreach { case (batch, i) =>
        val bk = Gen.Buckets(i % Gen.Buckets.length)
        serve(b, batch, bk)
      }
      b
    }(_.indexed.unpersist()) // the replicas are heap objects, freed when dropped
    // each row's cell, for the checks of the pre-filter branch
    val cellOf = built.indexed.select(col("vec_id"), col("cid").cast("int"))
      .as[(Long, Int)].collect()
    built.indexed.unpersist()
    val heapMb = Workload.heapMb()

    // ---- timed phase: closed loop, one caller ----
    val survivors = Gen.Buckets.map(bk => bk.name -> built.ratings.count(bk.attr).toLong).toMap
    // the pre-filter branch scans only the query's NProbe nearest cells,
    // so it owes min(k, the survivors in those cells)
    val probedCells = built.queries.map { case (q, v) =>
      q -> nearestCells(built.flat.centroidMatrix, v, NProbe) }
    val inProbed = Gen.Buckets.map { bk =>
      val perCell = new Array[Long](built.flat.centroidMatrix.length)
      cellOf.foreach { case (id, c) => if (bk.attr(built.ratings(id.toInt))) perCell(c) += 1 }
      bk.name -> probedCells.map { case (q, cs) => q -> cs.map(perCell(_)).sum }.toMap
    }.toMap
    val keepOf = Gen.Buckets.map(bk => bk.name -> { (id: Long) =>
      id >= 0 && id < built.ratings.length && bk.attr(built.ratings(id.toInt)) }).toMap
    val batches = built.queries.grouped(BatchSize).toArray
    val rnd = new java.util.SplittableRandom(ctx.seed)
    var round: Array[Int] = Array.empty
    val lat = Seq.newBuilder[(String, Double)]
    val latSpanned = Seq.newBuilder[(String, Double)]
    val latBare = Seq.newBuilder[(String, Double)]
    val strat = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var checks = Checks.Empty
    var fullK = 0L
    var served = 0L
    val rounds = Seq.newBuilder[Double]
    var roundMs = 0.0
    val timed = System.nanoTime()
    var n = 0
    tr.span("timed") {
      // whole rounds: each bucket once per round, in a seeded order
      while (n % Gen.Buckets.length != 0 || n < MinBatches ||
          Workload.seconds(timed) < ctx.seconds) {
        if (n % Gen.Buckets.length == 0)
          round = Gen.permutation(Gen.Buckets.length, rnd.nextLong())
        val bk = Gen.Buckets(round(n % Gen.Buckets.length))
        val batch = batches(n % batches.length)
        val t0 = System.nanoTime()
        // a traced run leaves every other batch unspanned: the two
        // halves' latencies give the tracing overhead
        val spanned = n % 2 == 0
        val res = scala.util.Try(
          if (spanned) tr.span("Serving.serveFilteredLocalExplained", n) {
            serve(built, batch, bk)
          } else serve(built, batch, bk))
        val ms = (System.nanoTime() - t0) / 1e6
        roundMs += ms
        if (n % Gen.Buckets.length == Gen.Buckets.length - 1) {
          rounds += roundMs
          roundMs = 0.0
        }
        res match {
          case scala.util.Success((s, rows)) =>
            lat += bk.name -> ms
            (if (spanned) latSpanned else latBare) += bk.name -> ms
            strat(s.name) += 1
            served += batch.length
            val owed: Long => Long =
              if (s == Serving.IvfPrefilterResident) inProbed(bk.name)
              else _ => survivors(bk.name)
            val c = Checks.ranked(rows.toSeq, batch.map(_._1).toSeq, K,
              owed, keepOf(bk.name))
            checks = checks + c.copy(messages = c.messages.map(m => s"${bk.name} ${s.name}: $m"))
            fullK += rows.count(_._2 == K.toLong)
          case scala.util.Failure(e) =>
            checks = checks + Checks.Tally(1, 1, Seq(s"${bk.name}: $e"))
        }
        n += 1
      }
    }
    val latencies = lat.result()
    val all = latencies.map(_._2)
    val busyS = all.sum / 1e3
    // closed-loop throughput of the median round, so a stray pause
    // (GC, a noisy neighbour) does not move it
    val qps = Gen.Buckets.length * BatchSize / (Stats.median(rounds.result()) / 1e3)

    // ---- recall and the exact-branch check, off the clock ----
    val sample = built.queries.take(RecallQueries)
    val sampleDf = Gen.queriesDf(spark, sample, parts)
    val recallBy = Gen.Buckets.map { bk =>
      val truth = tr.span("Knn.exact_s") {
        Knn.exact(corpus().filter(bk.column), sampleDf, K)
          .as[(Long, Long, Long, Double)].collect().toSeq
      }
      val (_, rows) = serve(built, sample, bk)
      val truthBy = truth.groupBy(_._1)
      val rowsBy = rows.toSeq.groupBy(_._1)
      val rec = Stats.recall(sample.toSeq.map { case (q, _) =>
        val t = truthBy.getOrElse(q, Nil).map(_._3)
        (Stats.hits(rowsBy.getOrElse(q, Nil).map(_._3), t), t.length)
      })
      if (Serving.chooseStrategy(bk.selectivity, graphAvailable = true,
          nCells = Cells.toLong) == Serving.ExactScan)
        checks = checks + Checks.sameRows(s"${bk.name} exact-scan", rows.toSeq, truth)
      bk.name -> rec
    }.toMap
    // each bucket must have been served by its own dispatcher branch
    val expected = Map("low" -> "graph-overfetch",
      "high" -> "ivf-prefilter-resident", "mid" -> "exact-scan")
    val branchErr = Gen.Buckets.map(_.name).filter { b =>
      serve(built, batches(0), Gen.bucket(b))._1.name != expected(b)
    }
    checks = checks + Checks.Tally(1, if (branchErr.isEmpty) 0 else 1,
      branchErr.map(b => s"bucket $b left its dispatcher branch ${expected(b)}"))

    val recalls = Gen.Buckets.map(b => recallBy(b.name))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      // one pass over the query table at that throughput
      Metric("wall_s", Queries / qps, "s"),
      Metric("qps", qps, "queries/s"),
      Metric("latency_p50_ms", Stats.percentile(all, 50), "ms"),
      Metric("latency_p90_ms", Stats.percentile(all, 90), "ms"),
      Metric("recall_at_10", recalls.sum / recalls.length, "fraction"),
      Metric("recall_at_10_min", recalls.min, "fraction"),
      Metric("heap_mb", heapMb, "MB"))

    val layers = if (!ctx.trace) Nil else {
      val own = tr.ownCounters()
      val spans = tr.all
      def sum(name: String) = spans.filter(_.name == name)
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      val timedSpan = spans.find(_.name == "timed").get
      // a set-up span ran once per set-up step: report the median step
      val setupLayers = spanNames.flatMap { s =>
        val steps = spans.filter(_.name == s"${s}_s")
        val work = steps.map(sp => tr.inclusive(own, sp.id))
        Seq(Metric(s"${s}_s", Stats.median(steps.map(sp => (sp.endNs - sp.startNs) / 1e9)), "s"),
          Metric(s"${s}_s.jobs", Stats.median(work.map(_.jobs.toDouble)), "count"),
          Metric(s"${s}_s.task_cpu_s", Stats.median(work.map(_.cpuNs / 1e9)), "s"))
      }
      // kernel probes: each kernel alone on the same batches
      val probeBatches = batches.take(math.min(batches.length, 20))
      def probe(f: Array[(Long, Array[Float])] => Unit): Double = {
        probeBatches.foreach(f) // warm
        val t0 = System.nanoTime()
        probeBatches.foreach(f)
        (System.nanoTime() - t0) / 1e3 / probeBatches.map(_.length).sum
      }
      val (low, high, mid) = (Gen.bucket("low"), Gen.bucket("high"), Gen.bucket("mid"))
      val kOver = math.max(K, math.ceil(3.0 * K / low.selectivity).toInt)
      val kernelUs = Seq(
        probe(b => NswGraph.searchLocalQueries(built.graph, b, kOver, NProbe,
          math.max(64, kOver))),
        probe(b => AnnIvf.searchLocalCellsQueries(built.flat, b, K, NProbe,
          attrPred = Some(high.attr))),
        probe(b => AnnIvf.searchLocalExactQueries(built.flat, b, K,
          attrPred = Some(mid.attr))))
      val timedWork = tr.inclusive(own, timedSpan.id)
      // the local tier's contract: no Spark job while serving
      checks = checks + Checks.Tally(1, if (timedWork.jobs == 0) 0 else 1,
        if (timedWork.jobs == 0) Nil
        else Seq(s"${timedWork.jobs} Spark jobs ran in the timed phase"))
      setupLayers ++ Layers.spark(timedWork,
        (timedSpan.endNs - timedSpan.startNs) / 1e9, ctx.cores) ++ Seq(
        Metric("Knn.exact_s", sum("Knn.exact_s"), "s"),
        Metric("Serving.local.calls", all.length.toDouble, "count"),
        // the batch p99 is reported here, unbounded: on a shared VM it
        // is set by host stalls (see the README)
        Metric("Serving.local.p99_ms", Stats.percentile(all, 99), "ms"),
        Metric("Serving.local.busy_s", busyS, "s"),
        Metric("Serving.local.full_k_ratio",
          if (served == 0) 0.0 else fullK.toDouble / served, "fraction")) ++
        strategies.map(s => Metric(s"Serving.local.strategy.$s",
          strat(s).toDouble, "count")) ++
        Gen.Buckets.flatMap { b =>
          val mine = latencies.filter(_._1 == b.name).map(_._2)
          Seq(Metric(s"Serving.local.${b.name}.p50_ms",
              if (mine.isEmpty) 0.0 else Stats.percentile(mine, 50), "ms"),
            Metric(s"Serving.local.recall.${b.name}", recallBy(b.name), "fraction"))
        } ++
        kernels.zip(kernelUs).map { case (k, us) =>
          Metric(s"$k.us_per_query", us, "us") } :+
        Metric("trace.overhead_ratio",
          overhead(latSpanned.result(), latBare.result()), "ratio")
    }
    Result(checks, e2e, layers, Seq("rows" -> Rows, "cells" -> Cells,
      "queries" -> Queries, "batch" -> BatchSize, "k" -> K,
      "batches" -> all.length, "dim" -> Gen.Dim,
      "p90_batches_beyond" -> Stats.beyond(all.length, 90),
      "p99_batches_beyond" -> Stats.beyond(all.length, 99),
      "setup_steps_s" -> setupTimes))
  }

  /** The `n` cells nearest to `v` by squared L2 (a cell's id is its
    * row in the centroid matrix), as the local tier's flat prober picks
    * them. */
  def nearestCells(centroids: Array[Array[Float]], v: Array[Float], n: Int): Array[Int] = {
    // insertion into the n best so far, ordered by (distance, cell)
    val best = Array.fill(math.min(n, centroids.length))(-1)
    val bestD = Array.fill(best.length)(Double.PositiveInfinity)
    var c = 0
    while (c < centroids.length) {
      val m = centroids(c)
      var d = 0.0
      var j = 0
      while (j < v.length) { val x = (v(j) - m(j)).toDouble; d += x * x; j += 1 }
      var i = best.length - 1
      if (i >= 0 && d < bestD(i)) {
        while (i > 0 && d < bestD(i - 1)) {
          best(i) = best(i - 1); bestD(i) = bestD(i - 1); i -= 1
        }
        best(i) = c; bestD(i) = d
      }
      c += 1
    }
    best
  }

  private def serve(b: Built, batch: Array[(Long, Array[Float])],
      bk: Gen.Bucket): (Serving.Strategy, Array[(Long, Long, Long, Double)]) =
    Serving.serveFilteredLocalExplained(b.flat, Some(b.graph), batch, K,
      bk.attr, selectivity = Some(bk.selectivity))

  /** Tracing overhead: spanned over bare median batch latency, minus
    * one, averaged over the buckets. */
  private def overhead(spanned: Seq[(String, Double)],
      bare: Seq[(String, Double)]): Double = {
    val per = Gen.Buckets.flatMap { b =>
      val s = spanned.filter(_._1 == b.name).map(_._2)
      val u = bare.filter(_._1 == b.name).map(_._2)
      Option.when(s.nonEmpty && u.nonEmpty)(Stats.median(s) / Stats.median(u) - 1.0)
    }
    if (per.isEmpty) 0.0 else per.sum / per.length
  }
}
