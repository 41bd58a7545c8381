package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. `unit` is the delivery or request id
  * the span belongs to; `parent` is -1 for a root span.
  */
final class SpanRec(val id: Int, val name: String, val call: String,
    val unit: Int, val parent: Int) {
  var startNs, endNs, startMs, endMs = 0L
  var read0, written0, read1, written1 = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Work counted inside one span (its descendants included). */
final case class Counters(wallS: Double, jobs: Double, tasks: Double,
    taskS: Double, nojobS: Double, planS: Double, bytesRead: Double,
    bytesWritten: Double, recordsRead: Double) {
  def +(o: Counters): Counters = Counters(wallS + o.wallS, jobs + o.jobs,
    tasks + o.tasks, taskS + o.taskS, nojobS + o.nojobS, planS + o.planS,
    bytesRead + o.bytesRead, bytesWritten + o.bytesWritten,
    recordsRead + o.recordsRead)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
  /** The eight per-layer counters, in report order. */
  val names: Seq[String] = Seq("wall_s", "jobs", "tasks", "task_s",
    "nojob_s", "plan_s", "bytes_read", "bytes_written")
  val units: Map[String, String] = Map("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "nojob_s" -> "s", "plan_s" -> "s",
    "bytes_read" -> "bytes", "bytes_written" -> "bytes")
  def get(c: Counters, name: String): Double = name match {
    case "wall_s"        => c.wallS
    case "jobs"          => c.jobs
    case "tasks"         => c.tasks
    case "task_s"        => c.taskS
    case "nojob_s"       => c.nojobS
    case "plan_s"        => c.planS
    case "bytes_read"    => c.bytesRead
    case "bytes_written" => c.bytesWritten
  }
}

/** Job, task and query callbacks, gathered on the listener bus. The
  * fields Spark documents as nullable (`SparkListenerJobStart.properties`,
  * `SparkListenerTaskEnd.taskMetrics`) are read through `Option`.
  */
private final class Recorder extends SparkListener with QueryExecutionListener {
  final class Job(val span: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks, runMs, records = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** (start of the query's first planning phase, summed phase time), ms. */
  val plans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new Job(span, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.records += m.inputMetrics.recordsRead
      }
    }
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
}

/** Spans around the benchmark's calls into the engine. Disabled (the
  * end-to-end runs), [[span]] only runs its body: no listener is
  * registered and nothing is recorded.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private val recorder = if (enabled) Some(new Recorder) else None
  recorder.foreach { r =>
    sc.addSparkListener(r)
    spark.listenerManager.register(r)
  }

  private def fsBytes(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  def span[T](name: String, call: String, unit: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = new SpanRec(spans.size, name, call, unit,
        stack.headOption.map(_.id).getOrElse(-1))
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      val (r0, w0) = fsBytes()
      s.read0 = r0; s.written0 = w0
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        val (r1, w1) = fsBytes()
        s.read1 = r1; s.written1 = w1
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  private var counted: Map[Int, Counters] = Map.empty

  /** Drain the bus, detach the listeners and attribute every job and
    * query to its span. Must run before [[counters]].
    */
  def finish(): Unit = recorder.foreach { r =>
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(r)
    spark.listenerManager.unregister(r)
    val children = spans.groupBy(_.parent)
    def innermostAt(ms: Long): Int =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
    val jobs = r.synchronized(r.jobs.values.toList)
    val jobsOf = jobs.groupBy(j => if (j.span >= 0) j.span else innermostAt(j.startMs))
    val planOf = r.synchronized(r.plans.toList)
      .groupBy(p => innermostAt(p._1)).view.mapValues(_.map(_._2).sum).toMap
    def subtree(s: SpanRec): List[SpanRec] =
      s :: children.getOrElse(s.id, Nil).toList.flatMap(subtree)
    counted = spans.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => jobsOf.getOrElse(t.id, Nil))
      // the part of the span covered by at least one job interval
      val covered = js
        .map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> Counters(
        wallS = s.wallS,
        jobs = js.size,
        tasks = js.map(_.tasks).sum,
        taskS = js.map(_.runMs).sum / 1e3,
        nojobS = math.max(0.0, s.wallS - covered / 1e3),
        planS = tree.map(t => planOf.getOrElse(t.id, 0L)).sum / 1e3,
        bytesRead = s.read1 - s.read0,
        bytesWritten = s.written1 - s.written0,
        recordsRead = js.map(_.records).sum)
    }.toMap
  }

  def counters(s: SpanRec): Counters = counted.getOrElse(s.id, Counters.zero)

  /** Span wall time minus the part its child spans cover. */
  def selfS(s: SpanRec): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** Per-unit sum of the spans named `layer`, median over the units from
    * `fromUnit` on that ran it; all zeros when no such unit ran it.
    */
  def layer(layer: String, fromUnit: Int = 0): Counters = {
    val perUnit = spans.filter(s => s.name == layer && s.unit >= fromUnit)
      .groupBy(_.unit).values
      .map(_.map(counters).foldLeft(Counters.zero)(_ + _)).toSeq
    if (perUnit.isEmpty) Counters.zero
    else {
      def med(f: Counters => Double) = Stats.median(perUnit.map(f))
      Counters(med(_.wallS), med(_.jobs), med(_.tasks), med(_.taskS),
        med(_.nojobS), med(_.planS), med(_.bytesRead), med(_.bytesWritten),
        med(_.recordsRead))
    }
  }

  /** Sum of a counter over the spans whose name passes `name`, from unit
    * `fromUnit` on.
    */
  def sum(name: String => Boolean, fromUnit: Int)(f: Counters => Double): Double =
    spans.filter(s => name(s.name) && s.unit >= fromUnit).map(s => f(counters(s))).sum

  /** One JSON line per span, written when the run ends. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = counters(s)
      Fmt.obj(Seq(
        "id" -> s.id.toString, "name" -> Fmt.str(s.name),
        "call" -> Fmt.str(s.call), "unit" -> s.unit.toString,
        "parent" -> s.parent.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "self_s" -> Fmt.num(selfS(s))) ++
        Counters.names.map(n => n -> Fmt.num(Counters.get(c, n))) :+
        ("records_read" -> Fmt.num(c.recordsRead)))
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
