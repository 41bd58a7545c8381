package graft

import graft.ops.CoinOps
import graft.orchestration.{CoinDag, Dag}
import graft.sources.CoinSources
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col

/** The orchestration twin must stay honest three ways: the chain matches
  * the reference DAG task-for-task, the checked-in Airflow artifact matches
  * the generator byte-for-byte, and the per-stage decomposition replays a
  * delivery to the state the `CoinOps` kernels compute from the fixture.
  */
class OrchestrationSpec extends SparkTestBase {

  private val dt = "2026-01-13"

  test("stage chain matches the reference 14-task dependency order") {
    // dags/coin_data_pipeline_optimized.py:1243
    CoinDag.stageChain shouldBe Seq(
      "create_tables", "extract", "upload_raw_to_s3",
      "transform_bronze_to_silver", "validate", "load_dim", "load_fact",
      "build_gold_minio", "load_gold_postgres", "validate_gold_row_count",
      "validate_gold_sanity", "validate_gold_freshness", "validate_gold_sla",
      "validate_gold")
    CoinDag.stageChain should have length 14
  }

  test("checked-in Airflow DAG artifact matches the generator exactly") {
    val checkedIn = Files.readString(Paths.get("orchestration/coin_pipeline_dag.py"))
    checkedIn shouldBe CoinDag.renderAirflowDag()
  }

  test("DAG artifact carries the reference retry policy and the full linear chain") {
    val dag = CoinDag.renderAirflowDag()
    dag should include(""""retries": 2""")
    dag should include("timedelta(minutes=5)")
    dag should include("depends_on_past")
    dag should include(CoinDag.stageChain.mkString(" >> "))
    // one SparkSubmitOperator per task, each passing its own stage id
    CoinDag.stageChain.foreach { s =>
      dag should include(s"""task_id="$s"""")
      dag should include(s""""--stage", "$s"""")
    }
  }

  test("stage-by-stage replay converges to the state the CoinOps kernels compute") {
    // a manual backfill long after the day (the SLA gate must not fire);
    // the offline twin of `extract` stages the reference fixture as raw
    val conf = coinConf(Files.createTempDirectory("graft-orch").toString, dt)
    deliverCoins(conf, coinFixtureJson(dt))

    // final state equals the kernels applied to the same fixture
    val silverRef = CoinOps.enforcedSilver(CoinOps.bronzeToSilver(CoinSources.readBronzeJson(
      spark, fixture(s"crypto-lake/bronze/coins/dt=$dt"))))
    val goldRef = CoinOps.goldDailyMetrics(silverRef, dt)

    spark.read.parquet(conf.silverDir).count() shouldBe silverRef.count()
    spark.read.parquet(conf.goldDir).count() shouldBe goldRef.count()
    val served = spark.read.parquet(s"${conf.serveRoot}/gold_coin_daily_metrics")
      .select(goldRef.columns.map(col): _*)
    served.count() shouldBe goldRef.count()
    // row-level agreement on the served gold table
    served.exceptAll(goldRef).count() shouldBe 0L
    goldRef.exceptAll(served).count() shouldBe 0L

    // warehouse dim/fact tables exist with key-unique rows
    val dim = spark.read.parquet(conf.dimTable)
    val dimCount = dim.count()
    dimCount shouldBe dim.dropDuplicates("coin_id").count()
    val fact = spark.read.parquet(conf.factTable)
    val factCount = fact.count()
    factCount shouldBe fact.dropDuplicates("coin_id", "timestamp").count()
    val servedCount = served.count()

    // retrying individual tasks converges (Airflow retry semantics):
    // re-running the dim/fact loads must not append duplicates, and
    // re-running the gold build + serve load must not change the table
    Seq("load_dim", "load_fact", "build_gold_minio", "load_gold_postgres")
      .foreach(CoinDag.runStage(spark, _, conf))
    spark.read.parquet(conf.dimTable).count() shouldBe dimCount
    spark.read.parquet(conf.factTable).count() shouldBe factCount
    spark.read.parquet(s"${conf.serveRoot}/gold_coin_daily_metrics")
      .count() shouldBe servedCount
  }

  test("StageConf rejects a malformed ds before any stage writes under it") {
    an[IllegalArgumentException] should be thrownBy
      CoinDag.StageConf("20260113", "/tmp/r", "/tmp/b", "/tmp/l", "/tmp/s")
    an[IllegalArgumentException] should be thrownBy coinConf("/tmp/w", "2026-01-13T00:00")
  }

  test("SLA stage fails a late scheduled run but passes a manual one") {
    val work = Files.createTempDirectory("graft-orch-sla").toString
    val base = CoinDag.StageConf(dt, work, work, work, work,
      now = java.time.Instant.parse("2026-01-14T10:00:00Z"))
    intercept[graft.expectations.QualityGateFailure] {
      CoinDag.runStage(spark, "validate_gold_sla", base.copy(scheduled = true))
    }
    noException should be thrownBy
      CoinDag.runStage(spark, "validate_gold_sla", base.copy(scheduled = false))
  }

  test("runner arg parsing and unknown-stage rejection") {
    Dag.parseArgs(Array("--stage", "validate", "--ds", "2026-01-13")) shouldBe
      Map("stage" -> "validate", "ds" -> "2026-01-13")
    val work = Files.createTempDirectory("graft-orch-bad").toString
    intercept[IllegalArgumentException] {
      CoinDag.runStage(spark, "no_such_stage",
        CoinDag.StageConf(dt, work, work, work, work))
    }
  }
}
