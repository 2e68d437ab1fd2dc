package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --out <result.json> --spans <spans.json>
  * --work <dir> [--data <dir>]`.
  *
  * Writes one JSON object to `--out` (checks, end-to-end metrics,
  * per-layer metrics of a traced run, workload shape, JVM/Spark
  * provenance) and the traced spans to `--spans`. `run.py` builds the
  * program, launches this, and prints the result line. Exit code 0
  * means the run finished, whatever its checks say; 1 means it could
  * not run. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload.all.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)

    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    val sessionS = Workload.seconds(sessionStart)
    val tracer = new Tracer(spark.sparkContext, need("trace") == "1")
    val ctx = Ctx(spark, tracer, need("seed").toLong, need("seconds").toDouble,
      Cores, opts.getOrElse("data", ""))
    try {
      val out = workload.run(ctx)
      val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
      def metrics(ms: Seq[Metric]) = ms.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
      val json = Json.obj(Seq(
        "workload" -> workload.name,
        "attempted" -> out.checks.items,
        "failed" -> out.checks.failed,
        "failures" -> out.checks.messages,
        "end_to_end" -> metrics(out.endToEnd),
        "per_layer" -> metrics(if (!tracer.enabled) Nil
          else out.layers :+ Metric("session_start_s", sessionS, "s")),
        "owns" -> (workload.owns ++ Seq("trace.overhead_ratio", "session_start_s")),
        "outputs" -> out.outputs,
        "shape" -> out.shape.toMap,
        "provenance" -> Map(
          "master" -> spark.sparkContext.master,
          "cpus" -> Runtime.getRuntime.availableProcessors(),
          "spark" -> spark.version,
          "scala" -> scala.util.Properties.versionNumberString,
          "java" -> System.getProperty("java.version"),
          "jvm_flags" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
            .filterNot(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED")),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6)))
      write(need("out"), json + "\n")
      if (tracer.enabled) write(need("spans"), tracer.toJson)
    } finally {
      tracer.close()
      spark.stop()
    }
  }

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }
}
