package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{AnnQueries, DedupQueries, SparkEntry}

/** `pipeline_pack`: `SparkEntry` queries of the dedup, text, corpus,
  * pipeline, stream and bm25 groups on the fixed sf0.001 tables under
  * `perfbench/data`, in a fixed order (the seed does not apply). Many small
  * jobs, where the scheduling floor and plan shape dominate and no
  * vector kernel runs. Caches are dropped whenever the query group
  * changes, as `graft.Bench` does. A set-up step runs the warm-up
  * query; the timed phase then runs whole passes over the pack, the
  * first of them in a session that has run nothing else (so it holds
  * the JIT and codegen warm-up of the rest, as a pipeline's first run
  * does). A request is one query. Each query's output, in every pass,
  * is checked against the digests in
  * `perfbench/expected/pipeline_pack.json`. */
object PipelinePack extends Workload {
  val name = "pipeline_pack"

  /** Set-up steps a run times: the first is cold, and a step costs
    * under a second warm, so seven. */
  val SetupReps = 7

  /** The ROADMAP's open items, plus one query for each group they miss. */
  val Queries: Seq[String] = Seq("dedup_simhash", "dedup_simhash_pairs",
    "dedup_minhash_lsh", "dedup_embed_multiprobe", "pipeline_hybrid",
    "stream_curate", "stream_sessions", "stream_bm25", "text_bpe",
    "corpus_stats", "bm25_rank_metrics")
  val Named: Seq[String] = Queries.filterNot(Set("corpus_stats", "bm25_rank_metrics"))
  val Groups: Seq[String] = Seq("dedup", "text", "corpus", "pipeline", "stream", "bm25")
  /** What a set-up step runs: the pack's quickest query. */
  val WarmQuery = "corpus_stats"

  val owns: Seq[String] =
    Groups.flatMap(g => Seq("s", "jobs", "tasks", "shuffle_write_mb").map(m => s"pack.$g.$m")) ++
      Named.flatMap(q => Seq(s"pack.$q.s", s"pack.$q.jobs"))

  private def group(q: String) = q.takeWhile(_ != '_')

  private def clearShared(spark: SparkSession): Unit = {
    AnnQueries.clearGridCache()
    AnnQueries.clearAnnCache()
    DedupQueries.clearPairsCache()
    spark.catalog.clearCache()
  }

  /** One query's output: row count and the sorted row digests. */
  final case class Output(rows: Long, digests: Seq[String])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = Paths.get(ctx.dataDir, "sf0.001").toString
    require(Files.isDirectory(Paths.get(dir)), s"pack data not found at $dir")
    val fns = Queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      sys.error(s"SparkEntry has no query $q"))).toMap

    /** One pass over the queries, group by group. */
    def pass(): Seq[(String, Double, Either[String, Output])] = {
      var prev = ""
      Queries.map { q =>
        if (group(q) != prev) clearShared(spark)
        prev = group(q)
        val t0 = System.nanoTime()
        val out = tr.span(s"pack.$q") {
          try Right(digest(fns(q)(spark, dir)))
          catch { case e: Exception => Left(s"$q threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200)) }
        }
        (q, Workload.seconds(t0), out)
      }
    }

    val (setupTimes, _) = Workload.repeatedSetup(SetupReps) {
      tr.untraced(fns(WarmQuery)(spark, dir).collect())
      clearShared(spark)
    }(_ => ())
    val heapMb = Workload.heapMb()

    val passes = Seq.newBuilder[(Boolean, Double, Seq[(String, Double, Either[String, Output])])]
    val t0 = System.nanoTime()
    var n = 0
    // a traced run leaves the first pass untraced, then alternates
    // traced and untraced passes: the tracing overhead compares the
    // two kinds of warm pass
    val minPasses = if (ctx.trace) 3 else 1
    while (n < minPasses || Workload.seconds(t0) < ctx.seconds) {
      val traced = ctx.trace && n % 2 == 1
      val p0 = System.nanoTime()
      val res = if (traced) tr.span("pass")(pass()) else tr.untraced(pass())
      passes += ((traced, Workload.seconds(p0), res))
      n += 1
    }
    val all = passes.result()
    val expected = readExpected(Paths.get(ctx.dataDir).resolveSibling("expected")
      .resolve(s"$name.json").toString)

    var checks = Checks.Empty
    val outputs = all.map(_._3)
    val recalls = outputs.flatten.map { case (q, _, out) =>
      out match {
        case Left(err) =>
          checks = checks + Checks.Tally(1, 1, Seq(err)); 0.0
        case Right(o) =>
          val want = expected.getOrElse(q, Output(-1, Nil))
          val ok = o.rows == want.rows && o.digests == want.digests
          checks = checks + Checks.Tally(1, if (ok) 0 else 1,
            if (ok) Nil else Seq(s"$q: ${o.rows} rows do not match the expected " +
              s"${want.rows} rows and digests"))
          rowRecall(o.digests, want.digests)
      }
    }
    val perQueryRecall = outputs.flatten.zip(recalls).groupBy(_._1._1)
      .map { case (_, rs) => rs.map(_._2).min }
    val wall = Stats.median(all.map(_._2))
    // a request is one query of a timed pass; with eleven a pass, the
    // p90 is the second slowest query
    val lat = all.flatMap(_._3).map(_._2 * 1e3)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("wall_s", wall, "s"),
      Metric("qps", Queries.length / wall, "queries/s"),
      Metric("latency_p50_ms", Stats.percentile(lat, 50), "ms"),
      Metric("latency_p90_ms", Stats.percentile(lat, 90), "ms"),
      Metric("recall_at_10", recalls.sum / recalls.length, "fraction"),
      Metric("recall_at_10_min", perQueryRecall.min, "fraction"),
      Metric("heap_mb", heapMb, "MB"))

    val layers = if (!ctx.trace) Nil else {
      val own = tr.ownCounters()
      val spans = tr.all
      val tracedPasses = spans.filter(_.name == "pass")
      val nT = tracedPasses.length.toDouble
      val phase = tracedPasses.map(s => tr.inclusive(own, s.id)).foldLeft(new Counters)(_ add _)
      val phaseS = tracedPasses.map(s => (s.endNs - s.startNs) / 1e9).sum
      def of(qs: Seq[String]) = {
        val ss = spans.filter(s => qs.exists(q => s.name == s"pack.$q"))
          .filter(s => tracedPasses.exists(_.id == s.parent))
        (ss.map(s => (s.endNs - s.startNs) / 1e9).sum / nT,
          ss.map(s => tr.inclusive(own, s.id)).foldLeft(new Counters)(_ add _))
      }
      val untracedS = all.drop(1).filterNot(_._1).map(_._2)
      val tracedS = all.filter(_._1).map(_._2)
      Layers.spark(phase, phaseS, ctx.cores, nT) ++
        Groups.flatMap { g =>
          val (s, c) = of(Queries.filter(q => group(q) == g))
          Seq(Metric(s"pack.$g.s", s, "s"), Metric(s"pack.$g.jobs", c.jobs / nT, "count"),
            Metric(s"pack.$g.tasks", c.tasks / nT, "count"),
            Metric(s"pack.$g.shuffle_write_mb", c.shuffleWriteBytes / 1e6 / nT, "MB"))
        } ++
        Named.flatMap { q =>
          val (s, c) = of(Seq(q))
          Seq(Metric(s"pack.$q.s", s, "s"), Metric(s"pack.$q.jobs", c.jobs / nT, "count"))
        } :+
        Metric("trace.overhead_ratio",
          Stats.median(tracedS) / Stats.median(untracedS) - 1.0, "ratio")
    }
    // the first pass's outputs, in the expected file's layout
    val observed = all.head._3.collect { case (q, _, Right(o)) =>
      q -> Map("rows" -> o.rows, "digests" -> o.digests) }.toMap
    Result(checks, e2e, layers, Seq("queries" -> Queries, "data" -> "sf0.001",
      "passes" -> all.length, "warm_query" -> WarmQuery,
      "setup_steps_s" -> setupTimes), observed)
  }

  /** Share of the expected rows (as a multiset of row digests) that the
    * output holds. */
  def rowRecall(got: Seq[String], want: Seq[String]): Double =
    if (want.isEmpty) { if (got.isEmpty) 1.0 else 0.0 }
    else {
      val have = got.groupBy(identity).map { case (k, v) => k -> v.length }
      want.groupBy(identity).map { case (k, v) => math.min(v.length, have.getOrElse(k, 0)) }
        .sum.toDouble / want.length
    }

  /** Row count and sorted per-row digests. A row is rendered with its
    * columns in name order and doubles rounded to 6 places (half-even
    * on the exact binary value, as `tools/compare_oracle.py` rounds),
    * so the digests do not depend on row order or column order. */
  def digest(df: DataFrame): Output = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
    Output(rows.length.toLong, rows.map(r => sha(render(r))).sorted.toSeq)
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "nan" else if (d.isInfinite) d.toString
      else new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp => t.toInstant.toString.take(19)
    case t: java.time.Instant => t.toString.take(19)
    case other => other.toString
  }

  private def readExpected(path: String): Map[String, Output] = {
    if (!Files.isRegularFile(Paths.get(path))) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      val d = e.getValue.get("digests").elements().asScala.map(_.asText).toSeq
      e.getKey -> Output(e.getValue.get("rows").asLong, d)
    }.toMap
  }
}
