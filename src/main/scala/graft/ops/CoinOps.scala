package graft.ops

import graft.contract.SchemaContract
import graft.schema.CoinSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raised by daily quality gates (SURVEY §2.9 V3-V6). */
final case class QualityGateFailure(gate: String, detail: String)
    extends RuntimeException(s"quality gate '$gate' failed: $detail")

/** The coin-pipeline transform library — one pure `DataFrame => DataFrame`
  * function per operator in SURVEY §2, plus the gates, composed stage by
  * stage by [[graft.orchestration.CoinDag.runStage]].
  *
  * All transforms are declarative (Catalyst prunes columns at the scan and
  * plans the gold aggregate as partial+final hash agg); no collects, no
  * driver-side row loops.
  */
object CoinOps {

  /** Bronze → silver (P1 projection, P2 rename, P3 cast — reference
    * `dags/coin_data_pipeline_optimized.py:401-413`): keep 6 of 26 columns,
    * rename to contract names, cast ISO-8601 strings to timestamp and
    * numerics to double. One `select`, so the parquet/JSON scan only
    * materializes these 6 columns.
    */
  def bronzeToSilver(bronze: DataFrame): DataFrame =
    bronze.select(
      col("id").alias("coin_id"),
      col("symbol"),
      col("name"),
      col("current_price").cast("double").alias("price_usd"),
      col("market_cap").cast("double").alias("market_cap"),
      // try_to_timestamp, not to_timestamp: under ANSI mode a malformed
      // last_updated would throw mid-scan; a null here is instead COUNTED
      // (and hard-failed) by the V1 schema contract that follows.
      try_to_timestamp(col("last_updated")).alias("timestamp")
    )

  /** Silver with the SILVER_SCHEMA_V1 contract enforced (V1 — hard fail). */
  def enforcedSilver(silver: DataFrame): DataFrame =
    SchemaContract.enforce(silver, CoinSchemas.silverV1)

  /** Gold daily metrics (A1 — THE gold query, reference `:795-807`):
    * per-coin avg/min/max price and avg market cap, stamped with the
    * partition date (P4). Runs as a partial+final hash aggregate; the only
    * shuffle is on `coin_id`.
    */
  def goldDailyMetrics(silver: DataFrame, dt: String): DataFrame =
    silver
      .groupBy(col("coin_id"))
      .agg(
        avg(col("price_usd")).alias("avg_price_usd"),
        min(col("price_usd")).alias("min_price_usd"),
        max(col("price_usd")).alias("max_price_usd"),
        avg(col("market_cap")).alias("avg_market_cap")
      )
      .withColumn("dt", lit(dt))

  /** Dimension rows (P5 — constant `category`, reference `:585-588`). */
  def dimensionRows(silver: DataFrame): DataFrame =
    silver
      .select(col("coin_id"), col("name"), col("symbol"))
      .dropDuplicates("coin_id")
      .withColumn("category", lit("cryptocurrency"))

  /** Fact rows keyed `(coin_id, timestamp)` (reference `:652-683`). */
  def factRows(silver: DataFrame): DataFrame =
    silver
      .select(col("coin_id"), col("price_usd"), col("market_cap"), col("timestamp"))
      .dropDuplicates("coin_id", "timestamp")

  // ---------------------------------------------------------------- gates

  /** V4 gold sanity: one pass counting rows with null coin_id and rows
    * violating `avg>0 && min>=0 && max>=min && mktcap>=0`
    * (reference `validate_gold_sanity` `:1055-1123`).
    */
  def goldSanityViolations(gold: DataFrame): (Long, Long, Long) = {
    val row = gold.agg(
      count(lit(1)).alias("n"),
      sum(when(col("coin_id").isNull, 1L).otherwise(0L)).alias("null_ids"),
      sum(when(
        col("avg_price_usd") <= 0d || col("min_price_usd") < 0d ||
          col("max_price_usd") < col("min_price_usd") || col("avg_market_cap") < 0d,
        1L).otherwise(0L)).alias("bad_metrics")
    ).collect()(0)
    def at(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    (at(0), at(1), at(2))
  }

  def assertGoldSanity(gold: DataFrame, dt: String): Unit = {
    val (n, nullIds, badMetrics) = goldSanityViolations(gold)
    if (n == 0L) throw QualityGateFailure("gold_sanity", s"no gold rows for dt=$dt")
    if (nullIds > 0L) throw QualityGateFailure("gold_sanity", s"$nullIds null coin_id rows")
    if (badMetrics > 0L)
      throw QualityGateFailure("gold_sanity",
        s"$badMetrics rows violate avg>0 / min>=0 / max>=min / mktcap>=0")
  }

  /** V5 gold quality (reference `validate_gold_metrics` `:955-989`): rows
    * exist and no null / non-positive average prices.
    */
  def assertGoldQuality(gold: DataFrame, dt: String): Unit = {
    val row = gold.agg(
      count(lit(1)),
      sum(when(col("avg_price_usd").isNull || col("avg_price_usd") <= 0d, 1L).otherwise(0L))
    ).collect()(0)
    val n   = row.getLong(0)
    val bad = if (row.isNullAt(1)) 0L else row.getLong(1)
    if (n == 0L) throw QualityGateFailure("gold_quality", s"no gold rows for dt=$dt")
    if (bad > 0L)
      throw QualityGateFailure("gold_quality", s"$bad rows with null/non-positive avg_price_usd")
  }

  /** V3 cross-store row-count reconciliation (reference `:996-1046`). */
  def assertCountsReconcile(lakeGold: DataFrame, warehouseGold: DataFrame, dt: String): Unit = {
    val lake  = lakeGold.count()
    val wh    = warehouseGold.count()
    if (lake == 0L || wh == 0L)
      throw QualityGateFailure("gold_row_count", s"empty side for dt=$dt (lake=$lake, wh=$wh)")
    if (lake != wh)
      throw QualityGateFailure("gold_row_count", s"lake=$lake != warehouse=$wh for dt=$dt")
  }

  /** V6 freshness: the gold partition for `dt` exists on the lake
    * (reference `check_for_key` `:1132-1151`).
    */
  def assertFreshness(spark: org.apache.spark.sql.SparkSession, goldPartitionPath: String): Unit = {
    val p  = new org.apache.hadoop.fs.Path(goldPartitionPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw QualityGateFailure("gold_freshness", s"missing gold partition $goldPartitionPath")
  }

  /** V7 SLA: scheduled runs must land before the 09:00 UTC deadline for `ds`
    * (reference `validate_gold_sla` `:1190-1227`); manual runs skip the gate.
    */
  def assertSla(ds: java.time.LocalDate, now: java.time.Instant, scheduled: Boolean,
      deadlineUtcHour: Int = 9): Unit = {
    if (scheduled) {
      val deadline = ds.plusDays(1).atTime(deadlineUtcHour, 0).toInstant(java.time.ZoneOffset.UTC)
      if (now.isAfter(deadline))
        throw QualityGateFailure("gold_sla", s"now=$now past deadline=$deadline for ds=$ds")
    }
  }
}
