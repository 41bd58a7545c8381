package graft

import graft.expectations.QualityGateFailure
import graft.orchestration.CoinDag
import graft.sinks.LakeSink
import graft.sources.CoinSources
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** End-to-end pipeline over the reference's own bronze fixture: replays the
  * flagship DAG (EP1) stage by stage into a temp lake and asserts outputs,
  * gates, sidecars, and re-run idempotency.
  */
class PipelineSpec extends SparkTestBase {

  private val dt = "2026-01-13"

  private def tmpDir(): String =
    Files.createTempDirectory("graft-pipe").toString

  /** Served gold rows for the conf's day. */
  private def served(c: CoinDag.StageConf): Long =
    CoinSources.readServedGold(spark, c.serveRoot).filter(col("dt") === c.ds).count()

  test("full run publishes silver + gold, passes all gates") {
    val c = coinConf(tmpDir(), dt)
    deliverCoins(c, coinFixtureJson(dt))
    // 100 silver, 100 gold and 100 served rows, by sidecar and by table
    Seq(c.silverDir, c.goldDir).foreach { dir =>
      LakeSink.readSidecar(spark, dir).get should include(""""row_count": 100""")
      spark.read.parquet(dir).count() shouldBe 100
    }
    served(c) shouldBe 100

    val gold = spark.read.parquet(c.goldDir)
    gold.columns should contain allOf ("coin_id", "avg_price_usd", "min_price_usd",
      "max_price_usd", "avg_market_cap")
    LakeSink.readSidecar(spark, c.silverDir).get should include(""""schema_version": "v1"""")
  }

  test("optional file-configured checkpoint gates silver in the flagship run") {
    // a silver-compatible suite passes the run end to end
    val ok = coinConf(tmpDir(), dt)
      .copy(checkpointPath = Some(fixture("checkpoints/silver_checkpoint.json")))
    deliverCoins(ok, coinFixtureJson(dt))
    LakeSink.readSidecar(spark, ok.silverDir).get should include(""""row_count": 100""")
    // the day-10 COIN checkpoint expects market_cap int — silver carries
    // double, so the file-configured gate must block the publish
    val bad = coinConf(tmpDir(), dt)
      .copy(checkpointPath = Some(fixture("checkpoints/coin_checkpoint.json")))
    val e = intercept[QualityGateFailure](deliverCoins(bad, coinFixtureJson(dt)))
    e.gate shouldBe "coin_checkpoint"
    e.failed.map(_.name) should contain("expect_column_values_to_be_of_type(market_cap, bigint)")
    new java.io.File(bad.silverDir).exists() shouldBe false
  }

  test("re-running the same day is idempotent (upsert, not append)") {
    val c = coinConf(tmpDir(), dt)
    deliverCoins(c, coinFixtureJson(dt))
    val first = served(c)
    deliverCoins(c, coinFixtureJson(dt))
    served(c) shouldBe first
    spark.read.parquet(s"${c.serveRoot}/gold_coin_daily_metrics").count() shouldBe 100
  }

  test("two days accumulate in the serving table on distinct (dt, coin_id)") {
    val work = tmpDir()
    Seq("2026-01-13", "2026-01-10").foreach(ds => deliverCoins(coinConf(work, ds),
      coinFixtureJson(ds)))
    spark.read.parquet(s"$work/serve/gold_coin_daily_metrics").count() shouldBe 200
  }

  test("SLA gate: scheduled run past the deadline fails; manual run skips") {
    val late = java.time.Instant.parse("2026-01-14T10:00:00Z")
    intercept[QualityGateFailure] {
      graft.ops.CoinOps.assertSla(java.time.LocalDate.parse(dt), late, scheduled = true)
    }
    graft.ops.CoinOps.assertSla(java.time.LocalDate.parse(dt), late, scheduled = false)
  }

  test("freshness gate fails on a missing partition") {
    intercept[QualityGateFailure] {
      graft.ops.CoinOps.assertFreshness(spark, s"${tmpDir()}/gold/coins_daily/dt=2099-01-01")
    }
  }

  test("V4 ignores a NULL average or minimum price (SQL three-valued when); V5 fails on a NULL average") {
    import spark.implicits._
    val c = coinConf(tmpDir(), dt)
    // gold written as-is: no upstream stage can produce these NULL metrics
    Seq[(String, Option[Double], Option[Double], Double, Double)](
      ("bitcoin", Some(10.0), Some(9.0), 11.0, 1.0e9),
      ("ghost", None, None, 5.0, 1.0e6),
      ("half", None, Some(4.0), 5.0, 1.0e6),
      ("nomin", Some(5.0), None, 6.0, 1.0e6))
      .toDF("coin_id", "avg_price_usd", "min_price_usd", "max_price_usd", "avg_market_cap")
      .withColumn("dt", org.apache.spark.sql.functions.lit(dt))
      .write.parquet(c.goldDir)
    noException should be thrownBy CoinDag.runStage(spark, "validate_gold_sanity", c)
    val e = intercept[QualityGateFailure](CoinDag.runStage(spark, "validate_gold", c))
    e.gate shouldBe "gold_quality"
    e.getMessage should include("avg_price_usd")
    e.getMessage should include regex "\\b2 (bad )?rows"
    e.failed.map(r => r.name -> r.violations) shouldBe
      Seq("expect_column_values_to_be_>(avg_price_usd, 0.0)" -> 2L)
  }
}
