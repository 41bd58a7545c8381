package graft

import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** One lake file relation: every way the engine turns lake files into a
  * DataFrame — snapshot reads, a merge's hot buckets, deletion vectors,
  * the MoR compaction, recorded and snapshot-diff change feeds, lookups,
  * time travel, a broadcast-sized join read and a view refresh — plans
  * through the manifest-backed `SidecarFileIndex`. None of them resolves
  * a path list through Spark's `InMemoryFileIndex`, lists leaf files or
  * infers a parquet schema.
  */
class LakeReadPathSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def newRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(s"readpath-$tag").toString

  private def rows(from: Long, until: Long, tag: String): DataFrame =
    spark.range(from, until).select(col("id"),
      concat(lit(tag), col("id")).alias("name"),
      (col("id") % 97).cast("double").alias("score"),
      (col("id") % 5).cast("string").alias("grp"))

  /** Runs `body` and returns (file-index classes of every executed file
    * scan, every job's description and stage call sites).
    */
  private def observed(body: => Unit): (Seq[String], Seq[String]) = {
    val indexes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec =>
            s.relation.location.getClass.getSimpleName
        }.foreach(indexes.add)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    val (_, p) = try QueryProfile.measure(spark)(body)
      finally spark.listenerManager.unregister(ql)
    import scala.jdk.CollectionConverters._
    (indexes.asScala.toSeq,
      p.jobs.map(j => (j.label +: j.stageNames.zip(j.stageDetails)
        .flatMap { case (n, d) => Seq(n, d) }).mkString("\n")))
  }

  test("every lake read plans through SidecarFileIndex: no InMemoryFileIndex, " +
      "no leaf-file listing, no schema inference") {
    val root = newRoot("t"); val mv = newRoot("mv")
    // heavy enough that a delivery-sized multi-step feed is cheaper than
    // the hot snapshot sides, so the 3-step span serves from the feeds
    LakeTable.init(rows(0, 2000, "n"), root, Seq("id"), numBuckets = 4,
      sortCols = Seq("score"), statsCols = Seq("score", "id"),
      bloomCols = Seq("name"), maxRecordsPerFile = 200L, cdfRecord = true)
    MaterializedView.init(spark, root, mv, Seq("grp"), Seq("score"),
      numBuckets = 2, minMaxCols = Seq("score"))
    val t0 = System.currentTimeMillis()

    val (indexes, jobs) = observed {
      // three recorded steps, then merge-on-read delete and its fold
      LakeTable.merge(spark, root, rows(10, 14, "u"))
      LakeTable.merge(spark, root, rows(2000, 2004, "i"))
      LakeTable.merge(spark, root, rows(12, 13, "w"))
      val recorded = LakeTable.changes(spark, root, 0L, 3L).collect()
      LakeTable.lastChangesRecorded shouldBe Some(true)
      recorded should not be empty
      LakeTable.deleteMor(spark, root, Seq(20L, 21L).toDF("id"))
      LakeTable.compactDeletes(spark, root)
      // deleteMor records no feed: this span is the snapshot diff
      val diffed = LakeTable.changes(spark, root, 3L, 5L).collect()
      LakeTable.lastChangesRecorded shouldBe Some(false)
      diffed.map(_.getAs[String]("_change_type")).toSet shouldBe Set("delete")

      LakeTable.lookup(spark, root, Seq(12L, 2001L).toDF("id"))
        .select("name").as[String].collect().toSet shouldBe Set("w12", "i2001")
      LakeTable.readAsOf(spark, root, t0).count() shouldBe 2000L
      val dim = Seq(("0", "zero"), ("1", "one")).toDF("grp", "label")
      LakeTable.readForJoin(spark, root).join(dim, "grp").count() should be > 0L
      MaterializedView.refresh(spark, root, mv)
      MaterializedView.read(spark, mv).collect() should not be empty
    }

    indexes should not be empty
    indexes.filter(_ != "SidecarFileIndex") shouldBe empty
    // Spark's reader runs a listing job above its parallel-discovery
    // threshold and a footer-reading job to infer a schema; both are
    // scheduled from inside a DataFrameReader call
    val banned = Seq("Listing leaf files", "DataFrameReader",
      "mergeSchemasInParallel", "inferSchema")
    jobs should not be empty
    jobs.filter(j => banned.exists(j.contains)) shouldBe empty
  }
}
