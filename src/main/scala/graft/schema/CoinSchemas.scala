package graft.schema

import org.apache.spark.sql.types._

/** Canonical schemas of the coin-market medallion lake.
  *
  * Mirrors the reference's data model (SURVEY.md §1.3):
  *  - bronze: 26-field raw CoinGecko `/coins/markets` payload
  *    (reference `dags/coin_data_pipeline_optimized.py:161-168` + fixture
  *    `minio/.../bronze/coins/dt=2026-01-13/coin_raw.json`)
  *  - silver: SILVER_SCHEMA_V1, all fields required
  *    (reference `dags/coin_data_pipeline_optimized.py:20-27`)
  *  - gold: daily per-coin aggregates, grain `(dt, coin_id)`
  *    (reference `dags/coin_data_pipeline_optimized.py:795-807`)
  *  - serving star: coin dimension and price fact
  *
  * Spark treats `nullable = false` as advisory on read; the silver contract is
  * *enforced* by [[graft.contract.SchemaContract]], not by these StructTypes.
  */
object CoinSchemas {

  /** `roi` nested object; all-null in the fixtures (serialized as bare NaN). */
  val roi: StructType = StructType(Seq(
    StructField("times", DoubleType),
    StructField("currency", StringType),
    StructField("percentage", DoubleType)
  ))

  /** Bronze ingest schema — schema-on-read for the raw JSON array. */
  val bronze: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("symbol", StringType),
    StructField("name", StringType),
    StructField("image", StringType),
    StructField("current_price", DoubleType),
    StructField("market_cap", LongType),
    StructField("market_cap_rank", LongType),
    StructField("fully_diluted_valuation", LongType),
    StructField("total_volume", DoubleType),
    StructField("high_24h", DoubleType),
    StructField("low_24h", DoubleType),
    StructField("price_change_24h", DoubleType),
    StructField("price_change_percentage_24h", DoubleType),
    StructField("market_cap_change_24h", DoubleType),
    StructField("market_cap_change_percentage_24h", DoubleType),
    StructField("circulating_supply", DoubleType),
    StructField("total_supply", DoubleType),
    StructField("max_supply", DoubleType),
    StructField("ath", DoubleType),
    StructField("ath_change_percentage", DoubleType),
    StructField("ath_date", StringType),
    StructField("atl", DoubleType),
    StructField("atl_change_percentage", DoubleType),
    StructField("atl_date", StringType),
    StructField("roi", roi),
    StructField("last_updated", StringType)
  ))

  /** SILVER_SCHEMA_V1: the versioned, enforced silver contract. */
  val silverV1: StructType = StructType(Seq(
    StructField("coin_id", StringType, nullable = false),
    StructField("symbol", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("price_usd", DoubleType, nullable = false),
    StructField("market_cap", DoubleType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)
  ))

  val silverSchemaVersion = "v1"

  /** Gold daily metrics, grain `(dt, coin_id)`. */
  val goldDaily: StructType = StructType(Seq(
    StructField("coin_id", StringType),
    StructField("avg_price_usd", DoubleType),
    StructField("min_price_usd", DoubleType),
    StructField("max_price_usd", DoubleType),
    StructField("avg_market_cap", DoubleType),
    StructField("dt", StringType)
  ))

  /** Coin dimension, one row per `coin_id` (`CoinOps.dimensionRows`). */
  val dimension: StructType =
    StructType.fromDDL("coin_id STRING, name STRING, symbol STRING, category STRING")

  /** Price fact, one row per `(coin_id, timestamp)` (`CoinOps.factRows`). */
  val fact: StructType = StructType.fromDDL(
    "coin_id STRING, price_usd DOUBLE, market_cap DOUBLE, timestamp TIMESTAMP_LTZ")

  /** Warehouse DDL (star schema) — reference `coin_data_pipeline_optimized.py:87-104`. */
  object WarehouseDdl {
    val coinDimension: String =
      """CREATE TABLE IF NOT EXISTS coin_dimension (
        |  coin_id TEXT PRIMARY KEY,
        |  name TEXT,
        |  symbol TEXT,
        |  category TEXT
        |)""".stripMargin

    val coinPricesFact: String =
      """CREATE TABLE IF NOT EXISTS coin_prices_fact (
        |  id SERIAL PRIMARY KEY,
        |  coin_id TEXT,
        |  price_usd NUMERIC,
        |  market_cap NUMERIC,
        |  timestamp TIMESTAMP,
        |  UNIQUE (coin_id, timestamp)
        |)""".stripMargin

    val goldCoinDailyMetrics: String =
      """CREATE TABLE IF NOT EXISTS gold_coin_daily_metrics (
        |  dt DATE,
        |  coin_id TEXT,
        |  avg_price_usd NUMERIC,
        |  min_price_usd NUMERIC,
        |  max_price_usd NUMERIC,
        |  avg_market_cap NUMERIC,
        |  PRIMARY KEY (dt, coin_id)
        |)""".stripMargin

    val all: Seq[String] = Seq(coinDimension, coinPricesFact, goldCoinDailyMetrics)
  }
}
