package graft

import graft.expectations.{GeCheckpoint, QualityGateFailure}
import graft.pipeline.{FlatPipeline, WarehousePipeline}
import org.apache.spark.sql.functions._
import java.sql.DriverManager

/** Golden tests for the EP3 (flat v1) and EP2 (day-10 GE-checkpoint
  * warehouse) pipeline twins, run end to end against the reference's
  * checked-in bronze fixture and embedded Derby.
  */
class LegacyPipelinesSpec extends SparkTestBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:legacydb;create=true"
  private val props = new java.util.Properties()

  private def drop(table: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () }
    } finally conn.close()
  }

  private def queryLong(sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("EP3 flat pipeline: 6-col projection, BIGINT market_cap, duplicate-on-rerun") {
    drop(FlatPipeline.tableName)
    val bronze = fixture("crypto-lake/bronze/coins/dt=2026-01-13")
    val stamp = java.sql.Timestamp.valueOf("2026-01-13 08:00:00")

    val n = FlatPipeline.run(spark, bronze, url, props, stamp)
    n shouldBe 100L
    queryLong(s"SELECT COUNT(*) FROM ${FlatPipeline.tableName}") shouldBe 100L
    // BIGINT market_cap survives exactly (no double rounding)
    queryLong("SELECT market_cap FROM crypto_data_pipeline WHERE id = 'bitcoin'") shouldBe
      1824202162947L
    queryLong("SELECT COUNT(*) FROM crypto_data_pipeline " +
      "WHERE last_updated = TIMESTAMP('2026-01-13 08:00:00')") shouldBe 100L

    // reference v1 semantics: no conflict handling — a re-run duplicates
    FlatPipeline.run(spark, bronze, url, props, stamp)
    queryLong(s"SELECT COUNT(*) FROM ${FlatPipeline.tableName}") shouldBe 200L
  }

  test("day9/v4 twins: per_page=10 slice, CSV handoff, flat load, atomic MinIO-style upload") {
    import graft.pipeline.MinioPipelines
    drop(FlatPipeline.tableName)
    val bronze = fixture("crypto-lake/bronze/coins/dt=2026-01-13")
    val stamp = java.sql.Timestamp.valueOf("2026-01-13 08:00:00")
    val work = java.nio.file.Files.createTempDirectory("day9").toString
    val store = s"$work/store"

    val (n, obj) = MinioPipelines.runDay9(spark, bronze, s"$work/staging",
      url, props, store, stamp)
    // per_page=10: the market-cap-desc top slice, not the flagship's 100
    n shouldBe 10L
    queryLong(s"SELECT COUNT(*) FROM ${FlatPipeline.tableName}") shouldBe 10L
    // the slice really is the API's default order: bitcoin leads
    queryLong("SELECT market_cap FROM crypto_data_pipeline WHERE id = 'bitcoin'") shouldBe
      1824202162947L
    // the upload landed as ONE object at the reference's bucket/key, with
    // the CSV header and all 10 rows
    obj should endWith("processed/crypto/crypto_transformed.csv")
    val lines = scala.io.Source.fromFile(
      new java.io.File(new java.net.URI("file:" + obj).getPath))
    val body = try lines.getLines().toVector finally lines.close()
    body.head should startWith("id,symbol,name,current_price,market_cap")
    body.size shouldBe 11
    // rerun: the load duplicates (v1 semantics) but the upload OVERWRITES
    // (fput_object last-writer-wins) — still exactly one object
    MinioPipelines.runDay9(spark, bronze, s"$work/staging", url, props,
      store, stamp)
    queryLong(s"SELECT COUNT(*) FROM ${FlatPipeline.tableName}") shouldBe 20L
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/processed/crypto"))
      .count(_.getPath.getName.endsWith(".csv")) shouldBe 1
    // v4's in-DAG surface: upload an already-produced CSV standalone,
    // creating the bucket under a FRESH store root (make_bucket branch)
    val store2 = s"$work/store2"
    val obj2 = MinioPipelines.runV4(spark,
      s"$work/staging/crypto_transformed.csv", store2)
    fs.exists(new org.apache.hadoop.fs.Path(obj2)) shouldBe true
  }

  test("EP2 warehouse pipeline: CSV handoffs, file checkpoint, dim ignore + fact append") {
    drop("coin_prices_fact"); drop("coin_dimension")
    val bronze = fixture("crypto-lake/bronze/coins/dt=2026-01-13")
    val datasets = java.nio.file.Files.createTempDirectory("ep2-datasets").toString
    val ckpt = fixture("checkpoints/coin_checkpoint.json")

    val r = WarehousePipeline.run(spark, bronze, datasets, ckpt, url, props)
    r.extracted shouldBe 100L
    r.validated shouldBe 4
    r.dimLoaded shouldBe 100L
    r.factLoaded shouldBe 100L
    queryLong("SELECT COUNT(*) FROM coin_dimension") shouldBe 100L
    queryLong("SELECT COUNT(*) FROM coin_dimension WHERE category = 'cryptocurrency'") shouldBe 100L
    queryLong("SELECT COUNT(*) FROM coin_prices_fact") shouldBe 100L

    // the CSV stage handoffs exist (the reference's file process boundary)
    spark.read.option("header", true).csv(s"$datasets/coin_raw").count() shouldBe 100L
    spark.read.option("header", true).csv(s"$datasets/coin_transformed").count() shouldBe 100L

    // re-run: dim is insert-ignore (stable), fact is append (duplicates —
    // the reference's plain INSERT loop)
    WarehousePipeline.run(spark, bronze, datasets, ckpt, url, props)
    queryLong("SELECT COUNT(*) FROM coin_dimension") shouldBe 100L
    queryLong("SELECT COUNT(*) FROM coin_prices_fact") shouldBe 200L
  }

  test("GE checkpoint file parses into the expectations DSL and gates hard") {
    val suite = GeCheckpoint.load(spark,
      fixture("checkpoints/coin_checkpoint.json"))
    suite.name shouldBe "coin_checkpoint"
    suite.expectations should have size 4

    // a frame violating not-null fails the checkpoint loudly
    val bad = Seq((null.asInstanceOf[String], 1.0, 5L),
      ("btc", 2.0, 6L)).toDF("coin_id", "price_usd", "market_cap")
    val e = intercept[QualityGateFailure](suite.enforce(bad))
    e.gate shouldBe "coin_checkpoint"
    e.failed.map(r => r.name -> r.violations) should contain(
      "expect_column_values_to_not_be_null(coin_id)" -> 1L)

    // unknown expectation types are an error, not a silent skip
    an[IllegalArgumentException] should be thrownBy GeCheckpoint.parse(
      """{"expectation_suite_name": "x", "expectations": [
        |  {"expectation_type": "expect_table_row_count_to_equal",
        |   "kwargs": {"column": "c", "value": 1}}]}""".stripMargin)

    // null / missing numeric kwargs must fail loudly, not become bound 0.0
    // (Jackson NullNode.asDouble is 0.0 — a silently wrong gate)
    an[IllegalArgumentException] should be thrownBy GeCheckpoint.parse(
      """{"expectation_suite_name": "x", "expectations": [
        |  {"expectation_type": "expect_column_values_to_be_between",
        |   "kwargs": {"column": "p", "min_value": 0, "max_value": null}}]}""".stripMargin)
    an[IllegalArgumentException] should be thrownBy GeCheckpoint.parse(
      """{"expectation_suite_name": "x", "expectations": [
        |  {"expectation_type": "expect_column_values_to_be_greater_than",
        |   "kwargs": {"column": "p"}}]}""".stripMargin)

    // a kwargs-less entry fails with context, not a bare NPE
    val noKwargs = the[IllegalArgumentException] thrownBy GeCheckpoint.parse(
      """{"expectation_suite_name": "x", "expectations": [
        |  {"expectation_type": "expect_column_to_exist"}]}""".stripMargin)
    noKwargs.getMessage should include("kwargs")

    // a table-level (column-less) GE type reports UNSUPPORTED TYPE, not a
    // misleading missing-column complaint
    val tableLevel = the[IllegalArgumentException] thrownBy GeCheckpoint.parse(
      """{"expectation_suite_name": "x", "expectations": [
        |  {"expectation_type": "expect_table_row_count_to_equal",
        |   "kwargs": {"value": 100}}]}""".stripMargin)
    tableLevel.getMessage should include("unsupported expectation_type")
  }

  test("greater_than and between kwargs parse and evaluate") {
    val suite = GeCheckpoint.parse(
      """{"expectation_suite_name": "bounds", "expectations": [
        |  {"expectation_type": "expect_column_values_to_be_greater_than",
        |   "kwargs": {"column": "p", "value": 0}},
        |  {"expectation_type": "expect_column_values_to_be_between",
        |   "kwargs": {"column": "q", "min_value": 0, "max_value": 10}},
        |  {"expectation_type": "expect_column_to_exist",
        |   "kwargs": {"column": "p"}}]}""".stripMargin)
    suite.validate(Seq((1.0, 5.0), (2.0, 9.0)).toDF("p", "q"))
      .forall(_.passed) shouldBe true
    val failed = suite.validate(Seq((0.0, 11.0)).toDF("p", "q"))
    failed.count(!_.passed) shouldBe 2
  }
}
