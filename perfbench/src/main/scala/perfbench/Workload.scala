package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the tracer, and its arguments. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, cores: Int, dataDir: String) {
  def trace: Boolean = tracer.enabled
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload returns. `endToEnd` holds every end-to-end metric;
  * `layers` the per-layer metrics it measured (traced runs only);
  * `outputs` what the checked outputs were, where a file of expected
  * outputs is kept for them. */
final case class Result(checks: Checks.Tally, endToEnd: Seq[Metric],
    layers: Seq[Metric], shape: Seq[(String, Any)], outputs: Map[String, Any] = Map.empty)

trait Workload {
  def name: String
  /** Per-layer metric names this workload must report when traced. */
  def owns: Seq[String]
  def run(ctx: Ctx): Result
}

object Workload {
  val all: Seq[Workload] = Seq(ServeLocal, BatchSweep, PipelinePack)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Used heap after full collections, in MB. Spark's context cleaner
    * frees blocks asynchronously once their references die, so this
    * collects until the figure stops falling (at most 10 rounds). */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); (rt.totalMemory() - rt.freeMemory()) / 1e6 }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (rounds < 3 || (prev - cur > 1.0 && rounds < 10)) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  /** Runs a workload's set-up step `reps` times, each from scratch;
    * `setup_s` is the median of their times. Every state but the last
    * is released before the next step starts (off the clock). Returns
    * the steps' seconds and the last state. */
  def repeatedSetup[T](reps: Int)(build: => T)(release: T => Unit): (Seq[Double], T) = {
    require(reps >= 3, "the median of set-up steps needs three or more")
    var last: Option[T] = None
    val times = (1 to reps).map { _ =>
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(build)
      seconds(t0)
    }
    (times, last.get)
  }
}
