package perfbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark work counters of one span (or one phase). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
    this
  }
}

/** One timed call: `parent` is -1 at the top, `request` groups the
  * spans of one request (a serving batch), -1 when there is none. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** Span recorder plus a listener that attributes Spark work to spans.
  *
  * Each span sets the Spark job group `perfbench-<id>` on the calling
  * thread and restores the enclosing span's group on exit. A job or
  * stage is charged to the span named by its group when that span was
  * open at submission; otherwise (a library call submitting from a
  * pooled thread that carries a stale or no group) to the innermost
  * span open at that time. Spans and counters stay in memory; `drain`
  * empties the listener bus before any counter is read.
  *
  * A disabled tracer records nothing and registers no listener, so the
  * untraced run measures the program alone. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupKey = "spark.jobGroup.id"
  private val Prefix = "perfbench-"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil // ids of the open spans, innermost first
  private var nextId = 0

  private final case class Sub(group: Option[Int], timeMs: Long)
  private val jobSubs = mutable.ArrayBuffer.empty[Sub]
  private val stageSubs = mutable.Map.empty[Int, Sub]
  private val stageWork = mutable.Map.empty[Int, Counters]

  private val listener = new SparkListener {
    private def groupOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(GroupKey)))
        .filter(_.startsWith(Prefix))
        .flatMap(g => g.stripPrefix(Prefix).toIntOption)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobSubs += Sub(groupOf(e.properties), e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageSubs(e.stageInfo.stageId) = Sub(groupOf(e.properties), t)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = stageWork.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `f` as a span named `name`. */
  def span[T](name: String, request: Long = -1L)(f: => T): T = {
    if (!enabled || paused) return f
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, Prefix + id)
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, request, t0, System.nanoTime(), m0,
        System.currentTimeMillis())
      sc.setLocalProperty(GroupKey, prevGroup)
    }
  }

  /** Run `f` with tracing off (no spans, listener detached), so a traced
    * run can time the same work both ways and report the overhead. */
  def untraced[T](f: => T): T = {
    if (!enabled || paused) return f
    drain()
    sc.removeSparkListener(listener)
    paused = true
    try f
    finally {
      paused = false
      sc.addSparkListener(listener)
    }
  }
  private var paused = false

  def drain(): Unit = if (enabled) BusDrain(sc)

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** The span a submission is charged to (see the class doc). */
  private def resolve(s: Sub, byId: Map[Int, Span]): Int = {
    def open(sp: Span) = sp.startMs <= s.timeMs && s.timeMs <= sp.endMs
    s.group.filter(g => byId.get(g).exists(open)).getOrElse {
      val inside = spans.filter(open)
      if (inside.isEmpty) -1 else inside.maxBy(sp => (sp.startNs, sp.id)).id
    }
  }

  /** Counters charged to each span itself (children excluded), keyed by
    * span id; -1 collects work outside every span. Drains first. */
  def ownCounters(): Map[Int, Counters] = {
    drain()
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      val out = mutable.Map.empty[Int, Counters]
      def at(id: Int) = out.getOrElseUpdate(id, new Counters)
      jobSubs.foreach(j => at(resolve(j, byId)).jobs += 1)
      stageSubs.foreach { case (stageId, sub) =>
        val c = at(resolve(sub, byId))
        c.stages += 1
        stageWork.get(stageId).foreach(c.add)
      }
      out.toMap
    }
  }

  /** Counters of a span and all its descendants. */
  def inclusive(own: Map[Int, Counters], id: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val acc = new Counters
    def walk(i: Int): Unit = {
      own.get(i).foreach(acc.add)
      kids.getOrElse(i, Nil).foreach(s => walk(s.id))
    }
    walk(id)
    acc
  }

  /** Self time of a span in seconds. */
  def selfSeconds(sp: Span): Double = Stats.selfTime(sp.startNs, sp.endNs,
    spans.filter(_.parent == sp.id).map(c => (c.startNs, c.endNs)).toSeq) / 1e9

  /** The spans as a JSON array (times relative to the first span). */
  def toJson: String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    all.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> selfSeconds(s)))
    }.mkString("[\n", ",\n", "\n]\n")
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

/** Span-derived per-layer metrics. */
object Layers {
  /** `spark.*` counters of a phase of `runs` equal repetitions (a sweep,
    * a pass) that lasted `wallS` in all on `cores`, per repetition. */
  def spark(c: Counters, wallS: Double, cores: Int, runs: Double = 1.0): Seq[Metric] =
    Seq(
      Metric("spark.jobs", c.jobs / runs, "count"),
      Metric("spark.stages", c.stages / runs, "count"),
      Metric("spark.tasks", c.tasks / runs, "count"),
      Metric("spark.failed_tasks", c.failedTasks / runs, "count"),
      Metric("spark.task_run_s", c.runMs / 1e3 / runs, "s"),
      Metric("spark.task_cpu_s", c.cpuNs / 1e9 / runs, "s"),
      Metric("spark.gc_s", c.gcMs / 1e3 / runs, "s"),
      Metric("spark.shuffle_read_mb", c.shuffleReadBytes / 1e6 / runs, "MB"),
      Metric("spark.shuffle_write_mb", c.shuffleWriteBytes / 1e6 / runs, "MB"),
      Metric("spark.shuffle_fetch_wait_s", c.fetchWaitMs / 1e3 / runs, "s"),
      Metric("spark.spill_mb", c.spillBytes / 1e6 / runs, "MB"),
      Metric("spark.core_busy_ratio",
        if (wallS <= 0) 0.0 else c.runMs / 1e3 / (wallS * cores), "ratio"))
}
