package graft.orchestration

import graft.JobLabel
import graft.expectations.{GeCheckpoint, Suites}
import graft.ops.CoinOps
import graft.schema.CoinSchemas
import graft.sinks.{LakeSink, Merge}
import graft.sources.{CoinSources, HttpCoinMarketsFetcher}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Orchestration twin of the reference's flagship DAG (SURVEY §3 EP1,
  * `dags/coin_data_pipeline_optimized.py:1243`): the same 14-task linear
  * chain, re-expressed as idempotent per-stage Spark jobs whose ONLY state
  * handoff is durable lake/warehouse layout — exactly what a scheduler
  * restarting an individual task requires.
  *
  * Three artifacts keep the twin honest:
  *  - [[stageChain]] — the task ids in reference order (asserted against the
  *    reference chain by OrchestrationSpec);
  *  - [[runStage]] — each task id dispatched to its engine implementation
  *    (the scheduler-facing entry is [[CoinStageRunner]], one spark-submit
  *    per task);
  *  - [[renderAirflowDag]] — generates `orchestration/coin_pipeline_dag.py`,
  *    an Airflow DAG of `SparkSubmitOperator`s with the reference's retry
  *    policy (`coin_data_pipeline_optimized.py:47-48`: retries=2,
  *    retry_delay=5 min); the checked-in file is asserted byte-identical to
  *    the generator's output so the artifact can never drift from the code.
  *
  * [[runStage]] is the only code that runs a coin delivery: tests, the
  * benchmark and the Airflow artifact all drive this chain. Gates run where
  * the reference runs them: the V1 silver contract (and an optional
  * file-configured checkpoint) gates the silver publish on its staged
  * files, V4 gold sanity gates the gold publish the same way, V2 is the
  * `validate` task over published silver, and V3-V7 are their own
  * retryable tasks after the serve load. Every row-counting gate (V1, V2,
  * the checkpoint, V4, V5) is an `expectations.Suite`: one job per
  * evaluation, failing with `QualityGateFailure` named after the suite.
  *
  * `validate_gold_sanity` re-runs V4 over the gold partition
  * `build_gold_minio` has just gated before its swap, one job per
  * delivery. It stays: it is the reference's own retryable task
  * (`validate_gold_sanity`, `:1055-1123`), and run alone it re-checks the
  * *published* partition, which may have changed since the publish.
  */
object CoinDag {

  /** Everything a stage needs to find its inputs/outputs. Stages read ONLY
    * durable state written by their upstreams — any stage can be re-run in
    * isolation.
    */
  final case class StageConf(
      ds: String,
      rawRoot: String,
      bronzeRoot: String,
      lakeRoot: String,
      serveRoot: String,
      apiUrl: Option[String] = None,
      scheduled: Boolean = false,
      now: java.time.Instant = java.time.Instant.now,
      // file-configured expectations (a Great Expectations suite JSON) that
      // gate the silver publish next to V1: rules ops change without a deploy
      checkpointPath: Option[String] = None
  ) {
    def rawFile: String      = s"$rawRoot/coins_$ds.json"
    def bronzeDir: String    = s"$bronzeRoot/coins/dt=$ds"
    def silverDir: String    = CoinSources.silver.at(lakeRoot, ds)
    def goldDir: String      = CoinSources.gold.at(lakeRoot, ds)
    def dimTable: String     = CoinSources.dimension.at(serveRoot)
    def factTable: String    = CoinSources.fact.at(serveRoot)
  }

  /** The reference chain, in order (`coin_data_pipeline_optimized.py:1243`). */
  val stageChain: Seq[String] = Seq(
    "create_tables",
    "extract",
    "upload_raw_to_s3",
    "transform_bronze_to_silver",
    "validate",
    "load_dim",
    "load_fact",
    "build_gold_minio",
    "load_gold_postgres",
    "validate_gold_row_count",
    "validate_gold_sanity",
    "validate_gold_freshness",
    "validate_gold_sla",
    "validate_gold"
  )

  /** Reference retry policy (`coin_data_pipeline_optimized.py:47-48`). */
  val retries: Int           = 2
  val retryDelayMinutes: Int = 5

  /** Execute one task of the chain. Every stage is idempotent: re-running a
    * stage after a crash (or an Airflow retry) converges because lake writes
    * go through the atomic publish and warehouse writes are key-based
    * insert-ignore/upsert merges. Every job a stage runs is labelled
    * `coin:<stage>`.
    */
  def runStage(spark: SparkSession, stage: String, conf: StageConf): Unit =
    JobLabel(spark, s"coin:$stage")(dispatch(spark, stage, conf))

  private def dispatch(spark: SparkSession, stage: String, conf: StageConf): Unit = stage match {
    case "create_tables" =>
      // Parquet serving layout needs no DDL (the star DDL for a real
      // warehouse is `CoinSchemas.WarehouseDdl`); materialize the warehouse
      // root so downstream merges have a stable parent.
      val fs = new org.apache.hadoop.fs.Path(conf.serveRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(conf.serveRoot))

    case "extract" =>
      // HTTP pull (S1) → LOCAL raw staging file, the reference's extract
      // contract. Requires an endpoint; offline runs stage the raw file by
      // other means (fixture/backfill) and start from upload_raw_to_s3.
      val url = conf.apiUrl.getOrElse(throw new IllegalArgumentException(
        "extract requires --api-url (offline runs pre-stage the raw file and skip extract)"))
      val json = new HttpCoinMarketsFetcher(url).fetchJson()
      val p = java.nio.file.Paths.get(conf.rawFile)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json)

    case "upload_raw_to_s3" =>
      // Local raw staging → bronze lake partition, atomically (the
      // reference's tmp→copy→delete protocol, `:443-456`).
      val fs = new org.apache.hadoop.fs.Path(conf.bronzeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      LakeSink.stageAndSwap(fs, new org.apache.hadoop.fs.Path(conf.bronzeDir)) { staging =>
        fs.mkdirs(staging)
        fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(conf.rawFile),
          new org.apache.hadoop.fs.Path(staging, s"coins_${conf.ds}.json"))
      }

    case "transform_bronze_to_silver" =>
      // One pass over bronze: the publish refuses an empty partition
      // (`non_empty`), then the V1 contract and the optional checkpoint
      // gate the staged silver files before the swap (reference `:419-429`).
      val bronze = CoinSources.readBronzeJson(spark, conf.bronzeDir)
      LakeSink.publishPartition(spark, CoinOps.bronzeToSilver(bronze), conf.lakeRoot,
        CoinSources.silver.dir, conf.ds, CoinSchemas.silverSchemaVersion, conf.bronzeDir,
        check = { staged =>
          CoinOps.enforcedSilver(staged)
          conf.checkpointPath.foreach(GeCheckpoint.load(spark, _).enforce(staged))
        })

    case "validate" =>
      // V2 expectations as their own retryable task over published silver
      // (the reference's `validate_data`).
      Suites.fluentSilverSuite.enforce(CoinSources.readSilver(spark, conf.silverDir))

    case "load_dim" =>
      // insert-ignore: the reference's `ON CONFLICT DO NOTHING` loads (S6/S7)
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      CoinSources.merge(spark, CoinSources.dimension, conf.serveRoot,
        CoinOps.dimensionRows(silver))(Merge.insertIgnore(_, _, Seq("coin_id")))

    case "load_fact" =>
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      CoinSources.merge(spark, CoinSources.fact, conf.serveRoot,
        CoinOps.factRows(silver))(Merge.insertIgnore(_, _, Seq("coin_id", "timestamp")))

    case "build_gold_minio" =>
      // V4 sanity gates the publish on the staged gold rows
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      LakeSink.publishPartition(spark, CoinOps.goldDailyMetrics(silver, conf.ds).orderBy("coin_id"),
        conf.lakeRoot, CoinSources.gold.dir, conf.ds, "v1", conf.silverDir,
        check = CoinOps.goldSanity.enforce(_))

    case "load_gold_postgres" =>
      // `ON CONFLICT (dt, coin_id) DO UPDATE` on parquet (reference S8):
      // `day ∪ (existing ⟕anti day)`, source-wins on the keys. The growing
      // table streams through one broadcast left-anti join against the
      // ~100-row day and never shuffles; the day is key-unique (one gold
      // row per coin), so the join form is exact.
      val lakeGold = CoinSources.readGold(spark, conf.goldDir)
        .withColumn("dt", lit(conf.ds))
      CoinSources.merge(spark, CoinSources.servedGold, conf.serveRoot, lakeGold) { (existing, day) =>
        val dayKeys = broadcast(
          day.select(col("dt"), col("coin_id")).dropDuplicates("dt", "coin_id")).alias("i")
        // null-safe key equality: a null key must still anti-match its twin
        val keep = existing.alias("e").join(dayKeys,
          col("e.dt") <=> col("i.dt") && col("e.coin_id") <=> col("i.coin_id"), "left_anti")
        day.unionByName(keep)
      }

    case "validate_gold_row_count" =>
      val lakeGold = CoinSources.readGold(spark, conf.goldDir)
      val served = CoinSources.readServedGold(spark, conf.serveRoot)
        .filter(col("dt") === conf.ds)
      CoinOps.assertCountsReconcile(lakeGold, served, conf.ds)

    case "validate_gold_sanity" =>
      CoinOps.goldSanity.enforce(CoinSources.readGold(spark, conf.goldDir))

    case "validate_gold_freshness" =>
      CoinOps.assertFreshness(spark, conf.goldDir)

    case "validate_gold_sla" =>
      CoinOps.assertSla(java.time.LocalDate.parse(conf.ds), conf.now, conf.scheduled)

    case "validate_gold" =>
      CoinOps.goldQuality.enforce(CoinSources.readGold(spark, conf.goldDir))

    case other =>
      throw new IllegalArgumentException(
        s"unknown stage '$other' — expected one of: ${stageChain.mkString(", ")}")
  }

  /** Render the Airflow DAG artifact: one `SparkSubmitOperator` per stage,
    * chained linearly in reference order, with the reference's retry policy.
    * OrchestrationSpec asserts `orchestration/coin_pipeline_dag.py` equals
    * this output exactly.
    */
  def renderAirflowDag(
      jarPath: String = "{{ var.value.graft_jar_path }}",
      mainClass: String = "graft.orchestration.CoinStageRunner"
  ): String = {
    val tasks = stageChain.map { stage =>
      s"""$stage = SparkSubmitOperator(
         |    task_id="$stage",
         |    application=JAR_PATH,
         |    java_class=MAIN_CLASS,
         |    application_args=[
         |        "--stage", "$stage",
         |        "--ds", "{{ ds }}",
         |        "--raw-root", RAW_ROOT,
         |        "--bronze-root", BRONZE_ROOT,
         |        "--lake-root", LAKE_ROOT,
         |        "--serve-root", SERVE_ROOT,
         |        "--scheduled", "true",
         |    ]${if (stage == "extract") """ + ["--api-url", API_URL]""" else ""},
         |    dag=dag,
         |)
         |""".stripMargin
    }.mkString("\n")
    s"""# GENERATED by graft.orchestration.CoinDag.renderAirflowDag — do not edit
       |# by hand; regenerate via `sbt "runMain graft.orchestration.CoinStageRunner
       |# --render-dag orchestration/coin_pipeline_dag.py"`. OrchestrationSpec
       |# asserts this file matches the generator output.
       |#
       |# Orchestration twin of the reference 14-task chain
       |# (dags/coin_data_pipeline_optimized.py:1243) with its retry policy
       |# (:47-48). Each task is one spark-submit of an idempotent stage;
       |# state hands off through the lake, so any task can retry alone.
       |from datetime import timedelta
       |
       |from airflow import DAG
       |from airflow.providers.apache.spark.operators.spark_submit import (
       |    SparkSubmitOperator,
       |)
       |from airflow.utils.dates import days_ago
       |
       |JAR_PATH = "$jarPath"
       |MAIN_CLASS = "$mainClass"
       |RAW_ROOT = "{{ var.value.graft_raw_root }}"
       |BRONZE_ROOT = "{{ var.value.graft_bronze_root }}"
       |LAKE_ROOT = "{{ var.value.graft_lake_root }}"
       |SERVE_ROOT = "{{ var.value.graft_serve_root }}"
       |API_URL = "{{ var.value.graft_api_url }}"
       |
       |default_args = {
       |    "owner": "data-platform",
       |    "depends_on_past": False,
       |    "retries": $retries,
       |    "retry_delay": timedelta(minutes=$retryDelayMinutes),
       |    "email_on_failure": False,
       |    "email_on_retry": False,
       |}
       |
       |dag = DAG(
       |    dag_id="coin_data_pipeline_graft",
       |    default_args=default_args,
       |    description="Spark-native coin medallion pipeline (graft engine)",
       |    schedule_interval="@daily",
       |    start_date=days_ago(1),
       |    catchup=False,
       |)
       |
       |$tasks
       |${stageChain.mkString(" >> ")}
       |""".stripMargin
  }
}
