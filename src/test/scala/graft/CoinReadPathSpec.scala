package graft

import graft.expectations.QualityGateFailure
import graft.orchestration.CoinDag
import graft.sources.CoinSources
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import scala.reflect.ClassTag

/** One coin table layer: every coin table read — silver, gold, the
  * dimension and fact merges, the served gold merge and its reconcile
  * gate — declares its schema from `CoinSources`, so no read schedules a
  * schema-inference job; what the stages write is exactly what they
  * declare; every job is labelled by its stage; and the silver and gold
  * publishes refuse a bad partition on its staged files, leaving nothing
  * behind.
  */
class CoinReadPathSpec extends SparkTestBase {

  private def newDir(tag: String) = Files.createTempDirectory(s"coinpath-$tag").toString

  test("every coin table read declares its schema: no job infers one, " +
      "and the declared schema is the written one") {
    val work = newDir("stages")
    // the second day merges into an existing dimension, fact and served table
    val days = Seq("2026-01-13", "2026-01-10")
    val (_, jobs) = observed(days.foreach(ds =>
      deliverCoins(coinConf(work, ds), coinFixtureJson(ds))))

    // job labels name stages, not call sites: the stage names and details
    // `observed` appends carry the call sites this pin looks for
    jobs should not be empty
    val banned = Seq("mergeSchemasInParallel", "inferSchema", "DataFrameReader")
    jobs.filter(j => banned.exists(j.contains)) shouldBe empty

    val c = coinConf(work, days.last)
    Seq(
      CoinSources.silver -> c.silverDir,
      CoinSources.gold -> c.goldDir,
      CoinSources.dimension -> c.dimTable,
      CoinSources.fact -> c.factTable,
      CoinSources.servedGold -> CoinSources.servedGold.at(c.serveRoot)
    ).foreach { case (t, path) =>
      withClue(s"${t.dir}: ") {
        spark.read.parquet(path).schema shouldBe GraftSqlBridge.asNullable(t.schema)
      }
    }
    CoinSources.readServedGold(spark, c.serveRoot).count() shouldBe 200L
  }

  test("every coin job is labelled by the stage that ran it") {
    val work = newDir("labels")
    val labels = Seq("2026-01-13", "2026-01-10").flatMap { ds =>
      val c = coinConf(work, ds)
      deliverCoins(c, coinFixtureJson(ds), stages = Nil)
      offlineCoinStages.flatMap { stage =>
        val (_, p) = QueryProfile.measure(spark)(CoinDag.runStage(spark, stage, c))
        p.jobs.map(j => stage -> j.label)
      }
    }
    labels should not be empty
    labels.foreach { case (stage, label) =>
      withClue(s"$stage: ") { QueryProfile.phase(label) shouldBe s"coin:$stage" }
    }
    labels.map(_._2).filter(_.startsWith("create_tables:")) shouldBe empty
  }

  /** Stage `json`, run the chain up to `stage`, and return what `stage` throws. */
  private def failsAt[E <: AnyRef: ClassTag](c: CoinDag.StageConf, json: String,
      stage: String): E = {
    deliverCoins(c, json, offlineCoinStages.takeWhile(_ != stage))
    intercept[E](CoinDag.runStage(spark, stage, c))
  }

  /** No `dt=<ds>` partition of `t` and no staging debris under `lake`. */
  private def nothingLanded(t: CoinSources.CoinTable, lake: String, ds: String): Unit = {
    val parent = new java.io.File(t.at(lake))
    new java.io.File(t.at(lake, ds)).exists() shouldBe false
    Option(parent.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(".staging")) shouldBe empty
  }

  test("an empty bronze partition fails the silver stage and lands nothing") {
    val c = coinConf(newDir("empty-dag"), "2026-01-14")
    val e = failsAt[QualityGateFailure](c, "[]", "transform_bronze_to_silver")
    e.gate shouldBe "non_empty"
    nothingLanded(CoinSources.silver, c.lakeRoot, c.ds)
  }

  test("a malformed last_updated fails the silver contract before the swap") {
    val c = coinConf(newDir("bad-time"), "2026-01-13")
    val json = coinFixtureJson(c.ds).replaceFirst(
      """"last_updated": "[^"]*"""", """"last_updated": "not-a-time"""")
    val e = failsAt[QualityGateFailure](c, json, "transform_bronze_to_silver")
    e.gate shouldBe "silver_schema_v1"
    e.failed.map(r => r.name -> r.violations) shouldBe
      Seq("expect_column_values_to_not_be_null(timestamp as timestamp)" -> 1L)
    nothingLanded(CoinSources.silver, c.lakeRoot, c.ds)
  }

  test("a coin priced 0 passes V1 and V2 but fails the gold publish") {
    val c = coinConf(newDir("zero-price"), "2026-01-13")
    val json = coinFixtureJson(c.ds).replaceFirst(
      """"current_price": [^,]*""", """"current_price": 0""")
    val e = failsAt[QualityGateFailure](c, json, "build_gold_minio")
    e.gate shouldBe "gold_sanity"
    nothingLanded(CoinSources.gold, c.lakeRoot, c.ds)
  }
}
