package graft

import graft.ops.CoinOps
import graft.sources.CoinSources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden end-to-end replay (SURVEY §5): the reference's own checked-in
  * bronze for dt=2026-01-13 must reproduce its checked-in silver and gold
  * partitions (sort-insensitive; doubles to 1e-9; timestamps at ms — the
  * fixture was pandas-written at ns).
  */
class CoinEtlGoldenSpec extends SparkTestBase {

  private val dt = "2026-01-13"
  private lazy val bronze =
    CoinSources.readBronzeJson(spark, fixture(s"crypto-lake/bronze/coins/dt=$dt"))
  private lazy val silver = CoinOps.enforcedSilver(CoinOps.bronzeToSilver(bronze))

  test("bronze fixture parses: 100 records, 26 columns, NaN roi tolerated") {
    bronze.count() shouldBe 100
    bronze.columns.length shouldBe 26
    bronze.filter(col("id").isNull).count() shouldBe 0
  }

  test("silver matches the checked-in silver partition row-for-row") {
    // The fixture was written by pandas/pyarrow with TIMESTAMP(NANOS), which
    // Spark's vectorized reader rejects outright; read it as raw nano longs.
    // Doubles compare to 1e-9 relative, not bit-exact: the fixture was made
    // with pandas read_json, whose ujson float parser is not correctly
    // rounded (e.g. it yields 3.5700000000000003 for the literal 3.57);
    // Spark parses the closest double.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val expected = spark.read.parquet(fixture(s"crypto-lake/silver/coins/dt=$dt"))
      val got = silver
        .withColumn("ts_ms", (unix_millis(col("timestamp"))).cast("long"))
        .drop("timestamp")
      val want = expected
        // integer `div`, not `/`: ns-epoch longs (~1.8e18) overflow a
        // double mantissa and `/` would round the resulting millis
        .withColumn("ts_ms", expr("timestamp div 1000000L"))
        .drop("timestamp")

      got.count() shouldBe 100
      want.count() shouldBe 100
      val j = got.alias("g").join(want.alias("w"), Seq("coin_id"), "full_outer")
      j.filter(col("g.symbol").isNull || col("w.symbol").isNull).count() shouldBe 0
      j.filter(
        col("g.symbol") =!= col("w.symbol") || col("g.name") =!= col("w.name") ||
          col("g.ts_ms") =!= col("w.ts_ms")).count() shouldBe 0
      def relErr(c: String) =
        abs(col(s"g.$c") - col(s"w.$c")) / greatest(abs(col(s"w.$c")), lit(1e-300))
      val maxErr = j.select(greatest(relErr("price_usd"), relErr("market_cap")).alias("e"))
        .agg(max(col("e"))).collect()(0).getDouble(0)
      maxErr should be < 1e-9
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }

  test("gold matches the checked-in gold partition to 1e-9") {
    val gold     = CoinOps.goldDailyMetrics(silver, dt)
    val expected = spark.read.parquet(fixture(s"crypto-lake/gold/coins_daily/dt=$dt"))

    val joined = gold.alias("g").join(expected.alias("e"), Seq("coin_id"), "full_outer")
    joined.filter(col("g.avg_price_usd").isNull || col("e.avg_price_usd").isNull)
      .count() shouldBe 0

    val maxErr = joined.select(
      greatest(
        abs(col("g.avg_price_usd") - col("e.avg_price_usd")),
        abs(col("g.min_price_usd") - col("e.min_price_usd")),
        abs(col("g.max_price_usd") - col("e.max_price_usd")),
        abs(col("g.avg_market_cap") - col("e.avg_market_cap")) /
          greatest(abs(col("e.avg_market_cap")), lit(1.0))
      ).alias("err")
    ).agg(max(col("err"))).collect()(0).getDouble(0)
    maxErr should be < 1e-9
  }

  test("single-snapshot day: min = avg = max (fixture invariant)") {
    val gold = CoinOps.goldDailyMetrics(silver, dt)
    gold.filter(col("min_price_usd") =!= col("max_price_usd")).count() shouldBe 0
  }

  test("multi-snapshot silver produces distinct min/avg/max") {
    val twice = silver.unionByName(
      silver.withColumn("price_usd", col("price_usd") * 2.0))
    val gold = CoinOps.goldDailyMetrics(twice, dt)
    gold.filter(col("min_price_usd") === col("max_price_usd")).count() shouldBe 0
    // V4 invariant holds by construction: min <= avg <= max
    gold.filter(col("avg_price_usd") < col("min_price_usd") ||
      col("avg_price_usd") > col("max_price_usd")).count() shouldBe 0
    CoinOps.goldSanity.enforce(gold).forall(_.passed) shouldBe true
  }

  test("second fixture day (dt=2026-01-10) replays silver and gold as well") {
    val dt2 = "2026-01-10"
    val bronze2 = CoinSources.readBronzeJson(spark, fixture(s"crypto-lake/bronze/coins/dt=$dt2"))
    val silver2 = CoinOps.enforcedSilver(CoinOps.bronzeToSilver(bronze2))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val wantSilver = spark.read.parquet(fixture(s"crypto-lake/silver/coins/dt=$dt2"))
      silver2.count() shouldBe wantSilver.count()
      val g2 = silver2.withColumn("ts_ms", unix_millis(col("timestamp")))
      val w2 = wantSilver.withColumn("ts_ms", expr("timestamp div 1000000L"))
      val j = g2.alias("g").join(w2.alias("w"), Seq("coin_id"), "full_outer")
      j.filter(col("g.symbol").isNull || col("w.symbol").isNull).count() shouldBe 0
      j.filter(col("g.symbol") =!= col("w.symbol") ||
        col("g.name") =!= col("w.name") ||
        col("g.ts_ms") =!= col("w.ts_ms")).count() shouldBe 0
      def relErr(c: String) =
        abs(col(s"g.$c") - col(s"w.$c")) / greatest(abs(col(s"w.$c")), lit(1e-300))
      j.select(greatest(relErr("price_usd"), relErr("market_cap")).alias("e"))
        .agg(max(col("e"))).collect()(0).getDouble(0) should be < 1e-9
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")

    val gold2     = CoinOps.goldDailyMetrics(silver2, dt2)
    val wantGold2 = spark.read.parquet(fixture(s"crypto-lake/gold/coins_daily/dt=$dt2"))
    val jg = gold2.alias("g").join(wantGold2.alias("e"), Seq("coin_id"), "full_outer")
    jg.filter(col("g.avg_price_usd").isNull || col("e.avg_price_usd").isNull)
      .count() shouldBe 0
    jg.select(max(abs(col("g.avg_price_usd") - col("e.avg_price_usd"))))
      .collect()(0).getDouble(0) should be < 1e-9
  }

  test("dimension and fact row shapes match the warehouse contracts") {
    val dim = CoinOps.dimensionRows(silver)
    dim.columns.toSeq shouldBe Seq("coin_id", "name", "symbol", "category")
    dim.count() shouldBe 100
    dim.select("category").distinct().collect().map(_.getString(0)).toSeq shouldBe
      Seq("cryptocurrency")

    val fact = CoinOps.factRows(silver)
    fact.columns.toSeq shouldBe Seq("coin_id", "price_usd", "market_cap", "timestamp")
    fact.count() shouldBe 100
  }
}
