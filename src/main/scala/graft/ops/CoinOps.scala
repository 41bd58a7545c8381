package graft.ops

import graft.expectations.{GreaterThan, NoRowsWhere, NonEmpty, NotNull, QualityGateFailure, Suite}
import graft.schema.CoinSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  /** V1 — hard fail: the SILVER_SCHEMA_V1 contract as a suite. */
  val silverContract: Suite = Suite.conforming("silver_schema_v1", CoinSchemas.silverV1)

  /** Silver with [[silverContract]] enforced, conformed to the contract's
    * types with columns in contract order.
    */
  def enforcedSilver(silver: DataFrame): DataFrame = {
    silverContract.enforce(silver)
    silver.select(CoinSchemas.silverV1.fields.toSeq
      .map(f => col(f.name).try_cast(f.dataType).alias(f.name)): _*)
  }

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

  /** V4 gold sanity (reference `validate_gold_sanity` `:1055-1123`): rows
    * exist, no null coin_id, and no row violates
    * `avg>0 && min>=0 && max>=min && mktcap>=0`; a NULL metric makes the
    * predicate NULL, which does not count.
    */
  val goldSanity: Suite = Suite("gold_sanity", Seq(
    NonEmpty,
    NotNull("coin_id"),
    NoRowsWhere("avg<=0 or min<0 or max<min or mktcap<0",
      col("avg_price_usd") <= 0d || col("min_price_usd") < 0d ||
        col("max_price_usd") < col("min_price_usd") || col("avg_market_cap") < 0d)))

  /** V5 gold quality (reference `validate_gold_metrics` `:955-989`): rows
    * exist and no null / non-positive average prices.
    */
  val goldQuality: Suite = Suite("gold_quality", Seq(NonEmpty, GreaterThan("avg_price_usd", 0d)))

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
