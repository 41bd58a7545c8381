package graft

import org.apache.spark.sql.SparkSession

/** Job labelling (optimization guide §1.5): engine-internal phases set a
  * job description so the UI — and [[QueryProfile]]'s per-phase job split
  * — can tell which engine call scheduled which stage. The
  * description is THREAD-LOCAL and would otherwise leak onto whatever
  * job the caller runs next, so every use is scoped save/restore.
  * Zero-cost beyond a local-properties write; no behavior change.
  */
object JobLabel {
  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
