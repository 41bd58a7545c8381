package graft.orchestration

import graft.expectations.{GeCheckpoint, Suites}
import graft.ops.CoinOps
import graft.schema.CoinSchemas
import graft.sinks.{LakeSink, Merge}
import graft.sources.{CoinSources, HttpCoinMarketsFetcher}
import org.apache.spark.sql.functions._

/** Orchestration twin of the reference's flagship DAG (SURVEY §3 EP1,
  * `dags/coin_data_pipeline_optimized.py:1243`): the same linear task
  * chain, re-expressed as idempotent per-stage Spark jobs whose ONLY state
  * handoff is durable lake/warehouse layout — exactly what a scheduler
  * restarting an individual task requires. OrchestrationSpec asserts the
  * chain against the reference's; [[Dag]] derives the dispatch, the
  * `coin:<stage>` job labels, the Airflow artifact
  * `orchestration/coin_pipeline_dag.py` and the [[CoinStageRunner]] entry.
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
object CoinDag extends Dag("coin",
    dagId = "coin_data_pipeline_graft",
    description = "Spark-native coin medallion pipeline (graft engine)",
    artifact = "orchestration/coin_pipeline_dag.py",
    flags = Seq(Dag.Var("raw-root", "graft_raw_root"), Dag.Var("bronze-root", "graft_bronze_root"),
      Dag.Var("lake-root", "graft_lake_root"), Dag.Var("serve-root", "graft_serve_root"),
      Dag.Literal("scheduled", "true"))) {

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
    Dag.requireDs(ds)
    def rawFile: String      = s"$rawRoot/coins_$ds.json"
    def bronzeDir: String    = s"$bronzeRoot/coins/dt=$ds"
    def silverDir: String    = CoinSources.silver.at(lakeRoot, ds)
    def goldDir: String      = CoinSources.gold.at(lakeRoot, ds)
    def dimTable: String     = CoinSources.dimension.at(serveRoot)
    def factTable: String    = CoinSources.fact.at(serveRoot)
  }

  protected def conf(ds: String, arg: Map[String, String]): StageConf =
    StageConf(ds, arg("raw-root"), arg("bronze-root"), arg("lake-root"), arg("serve-root"),
      apiUrl = arg.get("api-url"), scheduled = arg.get("scheduled").exists(_.toBoolean))

  /** The reference chain, in order (`coin_data_pipeline_optimized.py:1243`).
    * Every stage is idempotent: lake writes go through the atomic publish
    * and warehouse writes are key-based insert-ignore/upsert merges.
    */
  protected val stages: Seq[Stage] = Seq(
    stage("create_tables") { (spark, conf) =>
      // Parquet serving layout needs no DDL (the star DDL for a real
      // warehouse is `CoinSchemas.WarehouseDdl`); materialize the warehouse
      // root so downstream merges have a stable parent.
      val fs = new org.apache.hadoop.fs.Path(conf.serveRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(conf.serveRoot))
    },
    stage("extract", Some(Dag.Var("api-url", "graft_api_url"))) { (spark, conf) =>
      // HTTP pull (S1) → LOCAL raw staging file, the reference's extract
      // contract. Requires an endpoint; offline runs stage the raw file by
      // other means (fixture/backfill) and start from upload_raw_to_s3.
      val url = conf.apiUrl.getOrElse(throw new IllegalArgumentException(
        "extract requires --api-url (offline runs pre-stage the raw file and skip extract)"))
      val json = new HttpCoinMarketsFetcher(url).fetchJson()
      val p = java.nio.file.Paths.get(conf.rawFile)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json)
    },
    stage("upload_raw_to_s3") { (spark, conf) =>
      // Local raw staging → bronze lake partition, atomically (the
      // reference's tmp→copy→delete protocol, `:443-456`).
      val fs = new org.apache.hadoop.fs.Path(conf.bronzeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      LakeSink.stageAndSwap(fs, new org.apache.hadoop.fs.Path(conf.bronzeDir)) { staging =>
        fs.mkdirs(staging)
        fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(conf.rawFile),
          new org.apache.hadoop.fs.Path(staging, s"coins_${conf.ds}.json"))
      }
    },
    stage("transform_bronze_to_silver") { (spark, conf) =>
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
    },
    stage("validate") { (spark, conf) =>
      // V2 expectations as their own retryable task over published silver
      // (the reference's `validate_data`).
      Suites.fluentSilverSuite.enforce(CoinSources.readSilver(spark, conf.silverDir))
    },
    stage("load_dim") { (spark, conf) =>
      // insert-ignore: the reference's `ON CONFLICT DO NOTHING` loads (S6/S7)
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      CoinSources.merge(spark, CoinSources.dimension, conf.serveRoot,
        CoinOps.dimensionRows(silver))(Merge.insertIgnore(_, _, Seq("coin_id")))
    },
    stage("load_fact") { (spark, conf) =>
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      CoinSources.merge(spark, CoinSources.fact, conf.serveRoot,
        CoinOps.factRows(silver))(Merge.insertIgnore(_, _, Seq("coin_id", "timestamp")))
    },
    stage("build_gold_minio") { (spark, conf) =>
      // V4 sanity gates the publish on the staged gold rows
      val silver = CoinSources.readSilver(spark, conf.silverDir)
      LakeSink.publishPartition(spark, CoinOps.goldDailyMetrics(silver, conf.ds).orderBy("coin_id"),
        conf.lakeRoot, CoinSources.gold.dir, conf.ds, "v1", conf.silverDir,
        check = CoinOps.goldSanity.enforce(_))
    },
    stage("load_gold_postgres") { (spark, conf) =>
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
    },
    stage("validate_gold_row_count") { (spark, conf) =>
      val lakeGold = CoinSources.readGold(spark, conf.goldDir)
      val served = CoinSources.readServedGold(spark, conf.serveRoot)
        .filter(col("dt") === conf.ds)
      CoinOps.assertCountsReconcile(lakeGold, served, conf.ds)
    },
    stage("validate_gold_sanity") { (spark, conf) =>
      CoinOps.goldSanity.enforce(CoinSources.readGold(spark, conf.goldDir))
    },
    stage("validate_gold_freshness") { (spark, conf) =>
      CoinOps.assertFreshness(spark, conf.goldDir)
    },
    stage("validate_gold_sla") { (spark, conf) =>
      CoinOps.assertSla(java.time.LocalDate.parse(conf.ds), conf.now, conf.scheduled)
    },
    stage("validate_gold") { (spark, conf) =>
      CoinOps.goldQuality.enforce(CoinSources.readGold(spark, conf.goldDir))
    }
  )
}
