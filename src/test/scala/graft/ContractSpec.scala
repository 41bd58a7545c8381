package graft

import graft.expectations.{QualityGateFailure, Suite}
import graft.ops.CoinOps
import graft.schema.CoinSchemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class ContractSpec extends SparkTestBase {

  private val contract = CoinSchemas.silverV1
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def silverDf(rows: Seq[Row]) = {
    // Build with all-nullable schema: enforcement, not declaration, must catch nulls.
    val loose = StructType(contract.fields.map(_.copy(nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), loose)
  }

  private val goodRow =
    Row("bitcoin", "btc", "Bitcoin", 91343.0, 1.8e12, ts("2026-01-13 04:16:20"))

  test("clean frame passes and conforms column order/types") {
    val out = CoinOps.enforcedSilver(silverDf(Seq(goodRow)))
    out.columns.toSeq shouldBe contract.fieldNames.toSeq
    out.count() shouldBe 1
  }

  test("null in any required field fails with a per-column count") {
    val bad = Row(null, "btc", "Bitcoin", 91343.0, 1.8e12, ts("2026-01-13 04:16:20"))
    val e = intercept[QualityGateFailure] {
      CoinOps.enforcedSilver(silverDf(Seq(goodRow, bad)))
    }
    e.gate shouldBe "silver_schema_v1"
    e.getMessage should include("coin_id")
    e.getMessage should include("1 bad rows")
    e.failed.map(r => r.name -> r.violations) shouldBe
      Seq("expect_column_values_to_not_be_null(coin_id as string)" -> 1L)
  }

  test("NaN in a non-nullable double field is a violation (pandas-NaN parity)") {
    val bad = Row("ethereum", "eth", "Ethereum", Double.NaN, 4.0e11, ts("2026-01-13 04:16:20"))
    val e = intercept[QualityGateFailure] {
      CoinOps.enforcedSilver(silverDf(Seq(goodRow, bad)))
    }
    e.getMessage should include("price_usd")
    e.failed.map(r => r.name -> r.violations) shouldBe
      Seq("expect_column_values_to_not_be_null(price_usd as double)" -> 1L)
  }

  test("missing required column fails fast without running a job") {
    val df = silverDf(Seq(goodRow)).drop("symbol")
    val (e, p) = QueryProfile.measure(spark)(intercept[QualityGateFailure] {
      CoinOps.enforcedSilver(df)
    })
    e.getMessage should include("expect_column_to_exist(symbol)")
    e.failed.map(_.name) should contain("expect_column_to_exist(symbol)")
    p.jobs shouldBe empty
  }

  test("uncastable string counts as a cast violation") {
    val schema = StructType(Seq(StructField("price_usd", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("12.5"), Row("not-a-number"))), schema)
    val tight = StructType(Seq(StructField("price_usd", DoubleType, nullable = false)))
    val e = intercept[QualityGateFailure] { Suite.conforming("tight", tight).enforce(df) }
    e.gate shouldBe "tight"
    e.getMessage should include("price_usd")
    e.failed.map(r => r.name -> r.violations) should contain(
      "expect_column_values_to_be_castable(price_usd, double)" -> 1L)
  }

  test("property: enforcement rejects iff some required field is null/NaN") {
    val rowGen: Gen[(Row, Boolean)] = for {
      id    <- Gen.option(Gen.alphaStr.map(s => s"id_$s"))
      price <- Gen.oneOf(Gen.choose(0.01, 1e6), Gen.const(Double.NaN))
    } yield {
      val bad = id.isEmpty || price.isNaN
      (Row(id.orNull, "sym", "name", price, 1.0, ts("2026-01-13 00:00:00")), bad)
    }
    val prop = Prop.forAll(Gen.listOfN(8, rowGen)) { rows =>
      val expectBad = rows.exists(_._2)
      val df = silverDf(rows.map(_._1))
      val threw =
        try { CoinOps.enforcedSilver(df).count(); false }
        catch { case _: QualityGateFailure => true }
      threw == expectBad
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
