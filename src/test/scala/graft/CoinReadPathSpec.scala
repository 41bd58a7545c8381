package graft

import graft.ops.QualityGateFailure
import graft.orchestration.CoinDag
import graft.pipeline.CoinPipeline
import graft.sources.CoinSources
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** One coin table layer: every coin table read — silver, gold, the
  * dimension and fact merges, the served gold merge and its reconcile
  * gate — declares its schema from `CoinSources`, so no read schedules a
  * schema-inference job; what the stages write is exactly what they
  * declare; and an empty bronze partition is refused by the publish
  * itself, leaving nothing behind.
  */
class CoinReadPathSpec extends SparkTestBase {

  private def newDir(tag: String) = Files.createTempDirectory(s"coinpath-$tag").toString

  private def conf(work: String, ds: String) = CoinDag.StageConf(ds, s"$work/raw",
    s"$work/bronze", s"$work/lake", s"$work/serve")

  /** Stage `json` as the raw file for `ds`, then run the offline stages. */
  private def deliver(work: String, ds: String, json: String): Unit = {
    val c = conf(work, ds)
    Files.createDirectories(Paths.get(c.rawFile).getParent)
    Files.writeString(Paths.get(c.rawFile), json)
    CoinDag.stageChain.filterNot(_ == "extract").foreach(CoinDag.runStage(spark, _, c))
  }

  private def fixtureJson(ds: String) =
    Files.readString(Paths.get(fixture(s"crypto-lake/bronze/coins/dt=$ds/coin_raw.json")))

  test("every coin table read declares its schema: no job infers one, " +
      "and the declared schema is the written one") {
    val work = newDir("stages")
    // the second day merges into an existing dimension, fact and served table
    val days = Seq("2026-01-13", "2026-01-10")
    val (_, jobs) = observed(days.foreach(ds => deliver(work, ds, fixtureJson(ds))))

    jobs should not be empty
    val banned = Seq("mergeSchemasInParallel", "inferSchema", "DataFrameReader")
    jobs.filter(j => banned.exists(j.contains)) shouldBe empty

    val c = conf(work, days.last)
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

  /** No `dt=<ds>` silver partition and no staging debris under `lake`. */
  private def nothingLanded(lake: String, ds: String): Unit = {
    val parent = new java.io.File(CoinSources.silver.at(lake))
    new java.io.File(CoinSources.silver.at(lake, ds)).exists() shouldBe false
    Option(parent.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(".staging")) shouldBe empty
  }

  test("an empty bronze partition fails the silver stage and lands nothing") {
    val work = newDir("empty-dag")
    val c = conf(work, "2026-01-14")
    Files.createDirectories(Paths.get(c.rawRoot))
    Files.writeString(Paths.get(c.rawFile), "[]")
    Seq("create_tables", "upload_raw_to_s3").foreach(CoinDag.runStage(spark, _, c))
    val e = intercept[QualityGateFailure] {
      CoinDag.runStage(spark, "transform_bronze_to_silver", c)
    }
    e.gate shouldBe "non_empty"
    nothingLanded(c.lakeRoot, c.ds)
  }

  test("an empty bronze partition fails the in-process run and lands nothing") {
    val bronze = newDir("empty-bronze"); val lake = newDir("empty-lake")
    val ds = "2026-01-14"
    Files.createDirectories(Paths.get(s"$bronze/coins/dt=$ds"))
    Files.writeString(Paths.get(s"$bronze/coins/dt=$ds/coin_raw.json"), "[]")
    val e = intercept[QualityGateFailure] {
      CoinPipeline.run(spark, ds, bronze, lake, newDir("empty-serve"))
    }
    e.gate shouldBe "non_empty"
    nothingLanded(lake, ds)
  }
}
