package graft

import graft.expectations._
import graft.ops.CoinOps
import graft.sources.CoinSources
import org.apache.spark.sql.types.DoubleType

class ExpectationsSpec extends SparkTestBase {

  private lazy val silver = CoinOps.bronzeToSilver(
    CoinSources.readBronzeJson(spark, fixture("crypto-lake/bronze/coins/dt=2026-01-13")))

  test("all three reference suites pass on the real silver partition") {
    Suites.coinDataSuite.enforce(silver).foreach(_.passed shouldBe true)
    Suites.coinDataCheckpoint.enforce(silver)
    Suites.fluentSilverSuite.enforce(silver)
  }

  test("violations are counted per expectation and reported in the failure") {
    import org.apache.spark.sql.functions._
    val broken = silver
      .withColumn("price_usd", when(col("coin_id") === "bitcoin", lit(-1.0))
        .otherwise(col("price_usd")))
    val e = intercept[QualityGateFailure] { Suites.coinDataSuite.enforce(broken) }
    e.gate shouldBe "coin_data_suite"
    e.getMessage should include("price_usd")
    e.getMessage should include("(1 bad rows)")
    e.failed.map(_.name).exists(_.contains("price_usd")) shouldBe true
    e.failed.head.violations shouldBe 1L
    // a table-level expectation counts in the same pass: no rows fails it
    Suite("t", Seq(NonEmpty, NotNull("coin_id"))).validate(silver.limit(0))
      .map(_.violations) shouldBe Seq(1L, 0L)
  }

  test("schema-level expectations catch missing columns and wrong types") {
    val noTs = silver.drop("timestamp")
    val results = Suites.coinDataSuite.validate(noTs)
    results.find(_.name.contains("exist(timestamp)")).get.passed shouldBe false

    val strPrice = silver.withColumn("price_usd",
      org.apache.spark.sql.functions.col("price_usd").cast("string"))
    Suite("t", Seq(OfType("price_usd", DoubleType))).validate(strPrice)
      .head.passed shouldBe false
  }

  test("row-level expectations compile to ONE aggregation job") {
    val suite = Suite("one-pass", Seq(
      NotNull("coin_id"), GreaterThan("price_usd", 0), Between("market_cap", 0, 1e18)))
    // The single-pass contract is structural: violationsDf is one agg node.
    val df = suite.violationsDf(silver)
    df.columns.toSeq shouldBe Seq("v0", "v1", "v2")
    val plan = df.queryExecution.optimizedPlan.toString()
    plan.linesIterator.count(_.trim.startsWith("Aggregate")) shouldBe 1
    // and enforcing the suite schedules exactly one Spark job
    val (_, p) = QueryProfile.measure(spark)(suite.enforce(silver))
    p.jobs.map(_.label) should have size 1
  }

  test("NULLs violate bound expectations (not vacuously true)") {
    import org.apache.spark.sql.functions._
    val withNull = silver.withColumn("market_cap",
      when(col("coin_id") === "bitcoin", lit(null).cast("double"))
        .otherwise(col("market_cap")))
    val r = Suite("t", Seq(GreaterThan("market_cap", 0))).validate(withNull)
    r.head.violations shouldBe 1L
  }
}
