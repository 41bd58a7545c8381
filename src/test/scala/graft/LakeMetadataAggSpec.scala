package graft

import graft.sinks.LakeTable
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._

/** Metadata aggregate pushdown (plans/LakeMetadataAggs.scala): global
  * COUNT(*)/MIN/MAX over an unfiltered LakeTable.scan answer from the
  * manifest + zone-map sidecar — the physical plan has NO file scan at
  * all. Exactness discipline twin-checked: everything the rule answers
  * must equal the scan's own aggregate, and every declining case must
  * still compute correctly through the scan.
  */
class LakeMetadataAggSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTable(n: Int, withStats: Boolean = true): String = {
    val root = Files.createTempDirectory("graft-mdagg").toString
    val df = spark.range(n.toLong).select(col("id").alias("k"),
      (col("id") % 37).cast("double").alias("x"),
      concat(lit("s"), col("id") % 11).alias("s"),
      when(col("id") % 2 === 0, lit(null).cast("long"))
        .otherwise(col("id")).alias("half"),
      lit(null).cast("double").alias("allnull"))
    LakeTable.init(df, root, Seq("k"), numBuckets = 4,
      statsCols = if (withStats) Seq("k", "x", "s", "half", "allnull")
        else Nil)
    root
  }

  /** File scans in the EXECUTED plan. String-counted: AQE hides
    * FileSourceScanExec inside query stages that `collect` does not
    * descend into — a node-collect would report 0 for a plan that
    * scanned everything (this spec's own first cut did exactly that).
    */
  private def scansIn(df: DataFrame): Int = {
    df.collect()
    "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("COUNT(*), MIN and MAX answer from metadata: zero file scans in the plan") {
    val root = mkTable(500)
    LakeTable.scan(spark, root).createOrReplaceTempView("md_t")
    val q = spark.sql(
      "SELECT COUNT(*) AS n, MIN(x) AS mn, MAX(x) AS mx, MIN(s) AS smn FROM md_t")
    val row = q.collect().head
    scansIn(q) shouldBe 0
    row.getLong(0) shouldBe 500L
    row.getDouble(1) shouldBe 0.0
    row.getDouble(2) shouldBe 36.0
    row.getString(3) shouldBe "s0"
  }

  test("the metadata answer equals the scan's own aggregate, including all-NULL columns") {
    val root = mkTable(300)
    val via = LakeTable.scan(spark, root)
      .agg(count(lit(1)).alias("n"), min(col("k")).alias("mnk"),
        max(col("k")).alias("mxk"), min(col("allnull")).alias("mnn"))
    scansIn(via) shouldBe 0
    val direct = referenceRead(root)
      .agg(count(lit(1)), min(col("k")), max(col("k")), min(col("allnull")))
    via.collect().head.toSeq shouldBe direct.collect().head.toSeq
  }

  test("a WHERE clause keeps the real scan and stays correct") {
    val root = mkTable(400)
    LakeTable.scan(spark, root).createOrReplaceTempView("md_t2")
    val q = spark.sql("SELECT COUNT(*) AS n FROM md_t2 WHERE x > 30")
    scansIn(q) should be > 0
    q.collect().head.getLong(0) shouldBe
      referenceRead(root).filter($"x" > 30).count()
  }

  test("declines under deletion vectors, without stats, and for unsupported aggregates") {
    val rootDv = mkTable(200)
    LakeTable.deleteMor(spark, rootDv, Seq(5L, 6L).toDF("k"))
    val qDv = LakeTable.scan(spark, rootDv).agg(count(lit(1)))
    scansIn(qDv) should be > 0
    qDv.collect().head.getLong(0) shouldBe 198L

    val rootNoStats = mkTable(200, withStats = false)
    val qNs = LakeTable.scan(spark, rootNoStats).agg(min(col("x")))
    scansIn(qNs) should be > 0
    qNs.collect().head.getDouble(0) shouldBe 0.0

    val rootAvg = mkTable(200)
    val qAvg = LakeTable.scan(spark, rootAvg)
      .agg(count(lit(1)).alias("n"), avg(col("x")).alias("a"))
    scansIn(qAvg) should be > 0 // one unanswerable agg disables the rewrite
    qAvg.collect().head.getLong(0) shouldBe 200L

    // COUNT(col) needs per-file null counts the sidecar doesn't carry
    val qCnt = LakeTable.scan(spark, rootAvg).agg(count(col("half")))
    scansIn(qCnt) should be > 0
    qCnt.collect().head.getLong(0) shouldBe 100L
  }

  test("the rewrite answers for the PINNED snapshot, not the head") {
    val root = mkTable(100)
    val v0 = LakeTable.scan(spark, root) // pins version 0
    LakeTable.merge(spark, root, Seq((5000L, 1.0, "s", 1L,
      Option.empty[Double])).toDF("k", "x", "s", "half", "allnull"))
    val q = v0.agg(count(lit(1)).alias("n"), max(col("k")).alias("mx"))
    scansIn(q) shouldBe 0
    q.collect().head.toSeq shouldBe Seq(100L, 99L)
    val head = LakeTable.scan(spark, root)
      .agg(count(lit(1)), max(col("k"))).collect().head
    head.toSeq shouldBe Seq(101L, 5000L)
  }

  test("one snapshot resolution per rewrite: five aggregates read the " +
      "same local-FS bytes at optimize time as one COUNT(*)") {
    val root = mkTable(300)
    val scan = LakeTable.scan(spark, root)
    import scala.jdk.CollectionConverters._
    def fileBytesRead(): Long = org.apache.hadoop.fs.FileSystem
      .getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum
    def optimizeBytes(df: DataFrame): Long = {
      val before = fileBytesRead()
      df.queryExecution.optimizedPlan
      fileBytesRead() - before
    }
    val one = optimizeBytes(scan.agg(count(lit(1))))
    val five = optimizeBytes(scan.agg(count(lit(1)), min(col("k")),
      max(col("k")), min(col("x")), max(col("x"))))
    one should be > 0L
    five shouldBe one
  }
}
