package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** The engine's one work profiler: which Spark jobs a body scheduled, what
  * they cost, and how much of the body's wall ran inside no job at all.
  *
  * Wall clock on a shared box swings by 2-5x; the WORK a body schedules —
  * jobs, stages, tasks, summed task time, shuffle/spill/input bytes — is
  * deterministic for a fixed plan. Each job carries its [[JobLabel]] (or,
  * unlabeled, its call site), so a lifecycle query's jobs split by engine
  * phase (`lake:write`, `mv:delta`, …) without a hand-written harness.
  *
  * Attribution is by a local property set for the body's duration and
  * restored after it, the way [[JobLabel]] scopes a description. Work the
  * body hands to other threads carries it too (AQE and broadcast futures
  * capture the caller's local properties; a thread the body starts, such
  * as a stream's execution thread, inherits them), so those jobs count; a
  * job on a thread that existed before the body, or on another caller's
  * thread, does not.
  */
object QueryProfile {

  private val TagKey = "graft.profile.tag"

  /** One job: its label, start and end (epoch ms), and each stage's name
    * and call-site details.
    */
  final case class Job(label: String, startMs: Long, endMs: Long,
      stageNames: Seq[String], stageDetails: Seq[String])

  final case class Profile(wallS: Double, jobs: Seq[Job], stages: Int,
      tasks: Int, taskMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, inputBytes: Long, nojobS: Double) {

    /** (phase, jobs, summed job seconds), most jobs first. */
    def byLabel: Seq[(String, Int, Double)] =
      jobs.groupBy(j => phase(j.label)).toSeq
        .map { case (l, js) => (l, js.size, js.map(j => j.endMs - j.startMs).sum / 1e3) }
        .sortBy(t => (-t._2, t._1))
  }

  /** A job label's phase: a [[JobLabel]]'s `area:step` head (`lake:write
    * <root>` → `lake:write`), `stream:batch` for a stream's micro-batch
    * description, else the whole label (an unlabeled job's call site).
    */
  def phase(label: String): String = {
    val head = label.takeWhile(c => c != ' ' && c != '\n')
    if (head.contains(':')) head
    else if (label.contains("\nrunId = ")) "stream:batch"
    else label
  }

  /** Runs `body` and profiles the jobs it scheduled. The listener bus is
    * drained after `body` returns, outside the measured wall.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    // SQL execution id -> its action's call site (or description)
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val stages, tasks, taskMs, shufR, shufW, spill, input =
      new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        if (p.flatMap(x => Option(x.getProperty(TagKey))).contains(tag)) {
          j.stageIds.foreach(stageIds.add)
          // an unlabeled job's call site: its SQL execution's action (an
          // AQE stage job runs on a pool thread whose own stack names no
          // caller), else (an RDD action) its result stage's name
          val label = p.flatMap(x => Option(x.getProperty("spark.job.description"))
            .orElse(Option(x.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(sqlSites.get(id)))))
            .orElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?")
          jobs.put(j.jobId, Job(label, j.time, j.time,
            j.stageInfos.map(_.name), j.stageInfos.map(_.details)))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqlSites.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(j.jobId, (_, job) => job.copy(endMs = j.time))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(s.stageInfo.stageId)) stages.increment()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(t.stageId)) {
          tasks.increment()
          val m = t.taskMetrics
          if (m != null) {
            taskMs.add(m.executorRunTime)
            shufR.add(m.shuffleReadMetrics.totalBytesRead)
            shufW.add(m.shuffleWriteMetrics.bytesWritten)
            spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
            input.add(m.inputMetrics.bytesRead)
          }
        }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(TagKey)
    val (result, wallS, fromMs, toMs) = try {
      sc.setLocalProperty(TagKey, tag)
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try body finally sc.setLocalProperty(TagKey, prev)
      (r, (System.nanoTime() - t0) / 1e9, fromMs, System.currentTimeMillis())
    } finally {
      org.apache.spark.graftbridge.GraftCoreBridge.waitListenerBusEmpty(sc)
      sc.removeSparkListener(listener)
    }
    val js = jobs.values.asScala.toSeq.sortBy(_.startMs)
    val inJobMs = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter(i => i._2 > i._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1
    (result, Profile(wallS, js, stages.intValue, tasks.intValue, taskMs.sum,
      shufR.sum, shufW.sum, spill.sum, input.sum,
      math.max(0.0, wallS - inJobMs / 1e3)))
  }
}
