package graft.pipeline

import graft.expectations.Suites
import graft.ops.CoinOps
import graft.sinks.LakeSink
import graft.schema.CoinSchemas
import graft.sources.CoinSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end medallion pipeline (SURVEY §3 EP1) — the Spark re-expression of
  * the reference's 14-task flagship DAG (`dags/coin_data_pipeline_optimized
  * .py:1243`): one SparkSession, one linear driver program; stages are pure
  * `DataFrame => DataFrame` functions, and only lake writes materialize.
  *
  * ```
  * bronze JSON (dt=ds) -> bronzeToSilver -> contract V1 -> expectations V2
  *   -> publish silver (atomic + sidecar)
  *   -> goldDailyMetrics -> sanity V4 -> publish gold
  *   -> serve gold (upsert, last-writer-wins) -> gates V3/V5/V6/V7
  * ```
  */
object CoinPipeline {

  final case class RunResult(
      dt: String,
      silverRows: Long,
      goldRows: Long,
      servedGoldRows: Long
  )

  /** Run the full pipeline for one partition date.
    *
    * @param bronzeRoot lake root holding `coins/dt=<ds>/ *.json`
    * @param lakeRoot   output lake root (silver + gold datasets)
    * @param serveRoot  warehouse-equivalent serving root (parquet table
    *                   maintained with upsert semantics; stands in for the
    *                   Postgres gold table in this zero-egress build)
    * @param scheduled  whether this is a scheduled run (enables the SLA gate)
    * @param checkpointPath optional FILE-CONFIGURED expectations checkpoint
    *                   (Great Expectations suite JSON, parsed by
    *                   [[graft.expectations.GeCheckpoint]]) enforced on
    *                   silver IN ADDITION to the built-in fluent suite —
    *                   quality rules ops can change without a deploy
    */
  def run(
      spark: SparkSession,
      ds: String,
      bronzeRoot: String,
      lakeRoot: String,
      serveRoot: String,
      scheduled: Boolean = false,
      now: java.time.Instant = java.time.Instant.now,
      checkpointPath: Option[String] = None
  ): RunResult = {
    val bronzePath = s"$bronzeRoot/coins/dt=$ds"
    val silverDir  = CoinSources.silver.at(lakeRoot, ds)
    val goldDir    = CoinSources.gold.at(lakeRoot, ds)

    // Extract + bronze read (S3): schema-on-read of the raw JSON array. An
    // empty partition fails the silver publish (`non_empty`).
    val bronze = CoinSources.readBronzeJson(spark, bronzePath)

    // Silver transform (P1-P3) + contract (V1) + expectations (V2).
    val silver = CoinOps.enforcedSilver(CoinOps.bronzeToSilver(bronze))
    Suites.fluentSilverSuite.enforce(silver)
    checkpointPath.foreach(p =>
      graft.expectations.GeCheckpoint.load(spark, p).enforce(silver))

    val silverRows = LakeSink.publishPartition(spark, silver, lakeRoot, CoinSources.silver.dir,
      ds, CoinSchemas.silverSchemaVersion, bronzePath)

    // Gold build (A1) from the published silver partition.
    val gold = CoinOps.goldDailyMetrics(CoinSources.readSilver(spark, silverDir), ds)
    CoinOps.assertGoldSanity(gold, ds)
    val goldRows = LakeSink.publishPartition(spark, gold.orderBy("coin_id"), lakeRoot,
      CoinSources.gold.dir, ds, "v1", silverDir)

    // Serve: last-writer-wins upsert on (dt, coin_id) — reference S8.
    val lakeGold = CoinSources.readGold(spark, goldDir).withColumn("dt", lit(ds))
    upsertServe(spark, lakeGold, serveRoot)

    // Quality gates V3-V7.
    val servedForDs = CoinSources.readServedGold(spark, serveRoot).filter(col("dt") === ds)
    CoinOps.assertCountsReconcile(lakeGold, servedForDs, ds)
    CoinOps.assertGoldQuality(lakeGold, ds)
    CoinOps.assertFreshness(spark, goldDir)
    CoinOps.assertSla(java.time.LocalDate.parse(ds), now, scheduled)

    RunResult(ds, silverRows, goldRows, servedForDs.count())
  }

  /** Maintain the serving table with `ON CONFLICT (dt, coin_id) DO UPDATE`
    * semantics on parquet, join-based so the broadcast actually applies:
    * `incoming ∪ (existing ⟕anti incoming)` — source-wins on the keys, the
    * existing (growing) table streams through one broadcast left-anti join
    * against the ~100-row day and never shuffles. (The window-based
    * [[Merge.upsert]] is the general operator for arbitrary multi-row
    * sources; here `incoming` is key-unique by construction — it comes out
    * of a groupBy on the key — so the cheap join form is exact.)
    */
  private[graft] def upsertServe(spark: SparkSession, incoming: DataFrame, serveRoot: String): Unit =
    CoinSources.merge(spark, CoinSources.servedGold, serveRoot, incoming) { (existing, day) =>
      val incomingKeys = broadcast(
        day.select(col("dt"), col("coin_id")).dropDuplicates("dt", "coin_id")).alias("i")
      // null-safe key equality: a null key must still anti-match its twin
      val keep = existing.alias("e").join(incomingKeys,
        col("e.dt") <=> col("i.dt") && col("e.coin_id") <=> col("i.coin_id"), "left_anti")
      day.unionByName(keep)
    }
}
