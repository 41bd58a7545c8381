package graft

import graft.orchestration.CoinDag
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session; ScalaTest runs
  * suites sequentially in the forked JVM).
  */
trait SparkTestBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestBase.session
  def fixture(rel: String): String =
    java.nio.file.Paths.get(
      getClass.getClassLoader.getResource(s"fixtures/$rel").toURI).toString

  /** The files a lake `scan()` index keeps for the filters pushed into
    * `df`, asked of the planned scan itself (no job runs). When a filter
    * was pushed, `LakeTable.lastIndexScan` then holds this listing's
    * (files kept, live files).
    */
  def keptFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.options.contains("graft.lake.root") =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten

  /** A lake table version's rows the plain way, independent of the
    * engine's read path: Spark's own parquet reader over the manifest's
    * file list under its schema, minus the deletion-vector keys (a
    * NULL-safe anti-join, key by key). The oracle for anything built on
    * `LakeTable.scan`/`read`.
    */
  def referenceRead(root: String, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val m = graft.sinks.LakeTable.manifest(spark, root, version)
    val schema = StructType.fromDDL(m.schemaDdl)
    def files(paths: Seq[(String, Int)], s: StructType): DataFrame =
      if (paths.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
      else spark.read.schema(s).parquet(paths.map(p =>
        new org.apache.hadoop.fs.Path(root, p._1).toString): _*)
    val data = files(m.files, schema)
    if (m.dvFiles.isEmpty) data
    else {
      val dv = files(m.dvFiles,
        StructType(schema.filter(f => m.keys.contains(f.name))))
        .select(m.keys.map(k => col(k).alias(s"__dv_$k")): _*)
      data.join(dv, m.keys.map(k => data(k) <=> dv(s"__dv_$k"))
        .reduce(_ && _), "left_anti")
    }
  }

  /** A coin delivery's stage settings, every root under `work`. */
  def coinConf(work: String, ds: String): CoinDag.StageConf =
    CoinDag.StageConf(ds, s"$work/raw", s"$work/bronze", s"$work/lake", s"$work/serve")

  /** The reference bronze fixture's raw JSON for `ds`. */
  def coinFixtureJson(ds: String): String =
    Files.readString(Paths.get(fixture(s"crypto-lake/bronze/coins/dt=$ds/coin_raw.json")))

  /** Every stage of the coin chain but `extract`, which needs the network. */
  val offlineCoinStages: Seq[String] = CoinDag.stageChain.filterNot(_ == "extract")

  /** One coin delivery: stage `json` as `c`'s raw file, then run `stages`
    * in order (by default the whole offline chain).
    */
  def deliverCoins(c: CoinDag.StageConf, json: String,
      stages: Seq[String] = offlineCoinStages): Unit = {
    Files.createDirectories(Paths.get(c.rawRoot))
    Files.writeString(Paths.get(c.rawFile), json)
    stages.foreach(CoinDag.runStage(spark, _, c))
  }

  /** Runs `body` and returns (file-index classes of every executed file
    * scan, every job's description and stage call sites).
    */
  def observed(body: => Unit): (Seq[String], Seq[String]) = {
    val indexes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        SparkTestBase.plans.collectWithSubqueries(qe.executedPlan) {
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
}

object SparkTestBase {
  private object plans extends AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // specs exercise vacuum against just-written debris; the production
    // default (10 min orphan grace — see LakeTable.vacuum) would spare
    // everything they assert reclaimed. The grace path itself is pinned
    // by LakeTableSpec's dedicated case, which sets the conf explicitly.
    s.sparkContext.hadoopConfiguration.setLong("graft.lake.vacuumGraceMs", 0L)
    s
  }
}
