package graft

import graft.sinks.LakeSink
import java.nio.file.Files

class LakeSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("publishPartition writes atomically with a sidecar, and re-publish replaces") {
    val root = Files.createTempDirectory("graft-lake").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")

    val n1 = LakeSink.publishPartition(spark, df, root, "silver/t", "2026-01-01", "v1", "src")
    n1 shouldBe 2
    spark.read.parquet(s"$root/silver/t/dt=2026-01-01").count() shouldBe 2

    val sidecar = LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01").get
    sidecar should include(""""dataset": "silver/t"""")
    sidecar should include(""""row_count": 2""")
    sidecar should include(""""execution_date": "2026-01-01"""")

    // Re-publish with different content: replaced wholesale, not appended.
    val df2 = Seq((9L, "z")).toDF("k", "v")
    LakeSink.publishPartition(spark, df2, root, "silver/t", "2026-01-01", "v1", "src")
    spark.read.parquet(s"$root/silver/t/dt=2026-01-01").count() shouldBe 1

    // No staging junk left behind.
    new java.io.File(s"$root/silver/t").listFiles().map(_.getName)
      .filter(_.startsWith(".staging")) shouldBe empty
  }

  test("publishPartition counts rows on its own write: one job") {
    val root = Files.createTempDirectory("graft-lake-jobs").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val (n, p) = QueryProfile.measure(spark) {
      LakeSink.publishPartition(spark, df, root, "silver/t", "2026-01-01", "v1", "src")
    }
    n shouldBe 3
    p.jobs.size shouldBe 1
    LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01").get should
      include(""""row_count": 3""")
  }

  test("the sidecar stays strict JSON when the source path holds a tab and a newline") {
    val root = Files.createTempDirectory("graft-lake-sidecar").toString
    val src = "raw/coins\t2026-01-01\n.json"
    LakeSink.publishPartition(spark, Seq((1L, "a")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", src)
    val raw = LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01").get
    raw should include(""""row_count": 1""")
    // Jackson's default mapper refuses an unescaped control character
    val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
    o.get("source_path").asText shouldBe src
    o.get("dataset").asText shouldBe "silver/t"
    o.get("row_count").asLong shouldBe 1L
  }

  test("publishPartition refuses an empty partition before the swap") {
    val root = Files.createTempDirectory("graft-lake-empty").toString
    LakeSink.publishPartition(spark, Seq((1L, "old")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")
    val e = intercept[graft.expectations.QualityGateFailure] {
      LakeSink.publishPartition(spark, Seq.empty[(Long, String)].toDF("k", "v"), root,
        "silver/t", "2026-01-01", "v1", "s")
    }
    e.gate shouldBe "non_empty"
    e.detail shouldBe "silver/t dt=2026-01-01 is empty"
    // the live partition and its sidecar are untouched, no staging left
    publishedKeys(root) shouldBe Set(1L)
    LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01").get should
      include(""""row_count": 1""")
    new java.io.File(s"$root/silver/t").listFiles().map(_.getName)
      .filter(_.startsWith(".staging")) shouldBe empty
  }

  // ---- fault injection: the tmp→swap→sidecar protocol exists to survive
  // a crash at any point; these three cases kill the publish at each
  // boundary and prove (a) no data-loss window and (b) a re-run converges.

  private def publishedKeys(root: String): Set[Long] =
    spark.read.parquet(s"$root/silver/t/dt=2026-01-01")
      .select($"k").as[Long].collect().toSet

  test("crash DURING staging write: old partition intact, staging cleaned, re-run converges") {
    val root = Files.createTempDirectory("graft-fault1").toString
    LakeSink.publishPartition(spark, Seq((1L, "old")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalDir = new org.apache.hadoop.fs.Path(s"$root/silver/t/dt=2026-01-01")
    intercept[RuntimeException] {
      LakeSink.stageAndSwap(fs, finalDir) { staging =>
        // partial write lands, then the process "dies"
        Seq((99L, "partial")).toDF("k", "v").write.parquet(staging.toString + "/part")
        throw new RuntimeException("injected: died mid-write")
      }
    }
    // old fileset untouched, no staging junk accumulates across failed runs
    publishedKeys(root) shouldBe Set(1L)
    new java.io.File(s"$root/silver/t").listFiles().map(_.getName)
      .filter(_.startsWith(".staging")) shouldBe empty

    // re-run converges to the new fileset + sidecar
    LakeSink.publishPartition(spark, Seq((2L, "new")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")
    publishedKeys(root) shouldBe Set(2L)
    LakeSink.readSidecar(spark, finalDir.toString).get should include(""""row_count": 1""")
  }

  test("crash BETWEEN the two swap renames: old fileset recoverable, re-run converges") {
    val root = Files.createTempDirectory("graft-fault2").toString
    LakeSink.publishPartition(spark, Seq((1L, "old")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")

    // Reconstruct the exact post-crash state of swapIn dying after the
    // rename-aside but before the staging rename: finalDir is gone, the old
    // fileset lives under .backup-*, and an orphaned staging dir remains.
    val parent  = new java.io.File(s"$root/silver/t")
    val finalF  = new java.io.File(parent, "dt=2026-01-01")
    val backupF = new java.io.File(parent, ".backup-dt=2026-01-01-deadbeef")
    finalF.renameTo(backupF) shouldBe true
    val orphan = new java.io.File(parent, ".staging-deadbeef")
    Seq((50L, "orphan")).toDF("k", "v").write.parquet(orphan.toString)

    // no data-loss window: the old fileset is still recoverable from backup
    spark.read.parquet(backupF.toString).count() shouldBe 1

    // re-run publishes the new fileset cleanly over the crashed state
    LakeSink.publishPartition(spark, Seq((2L, "new")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")
    publishedKeys(root) shouldBe Set(2L)
    LakeSink.readSidecar(spark, finalF.toString) should not be empty
  }

  test("crash AFTER swap, BEFORE sidecar: data live without sidecar, re-run restores both") {
    val root = Files.createTempDirectory("graft-fault3").toString
    LakeSink.publishPartition(spark, Seq((1L, "v1row")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")
    // simulate dying before writeSidecar: data present, sidecar missing
    new java.io.File(s"$root/silver/t/dt=2026-01-01/.metadata.json").delete() shouldBe true
    LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01") shouldBe None
    publishedKeys(root) shouldBe Set(1L) // readers never saw a partial state

    LakeSink.publishPartition(spark, Seq((1L, "v1row")).toDF("k", "v"), root,
      "silver/t", "2026-01-01", "v1", "s")
    publishedKeys(root) shouldBe Set(1L)
    LakeSink.readSidecar(spark, s"$root/silver/t/dt=2026-01-01")
      .get should include(""""row_count": 1""")
  }

  test("CSV write round-trips with header and matches the raw reader") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/raw"
    val df = Seq(("bitcoin", 91343.0), ("ethereum", 3116.61)).toDF("id", "current_price")
    LakeSink.writeCsv(spark, df, dir)
    val back = spark.read.option("header", true)
      .option("inferSchema", true).csv(dir)
    back.count() shouldBe 2
    back.columns.toSeq shouldBe Seq("id", "current_price")
    back.filter($"id" === "bitcoin").select($"current_price")
      .head().getDouble(0) shouldBe 91343.0
  }

  test("partitions land side by side and read as a partitioned table") {
    val root = Files.createTempDirectory("graft-lake2").toString
    LakeSink.publishPartition(spark, Seq((1L, "a")).toDF("k", "v"), root, "gold/t",
      "2026-01-01", "v1", "s")
    LakeSink.publishPartition(spark, Seq((2L, "b")).toDF("k", "v"), root, "gold/t",
      "2026-01-02", "v1", "s")
    val all = spark.read.parquet(s"$root/gold/t")
    all.count() shouldBe 2
    all.columns should contain("dt")
  }

  test("vacuumVersions keeps the newest k versions, ignores everything else") {
    val root = Files.createTempDirectory("vacuum").toString
    for (v <- Seq(0L, 1L, 2L, 5L)) {
      val d = new java.io.File(s"$root/v$v"); d.mkdirs()
      Files.write(d.toPath.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    }
    new java.io.File(s"$root/not-a-version").mkdirs()

    LakeSink.vacuumVersions(spark, root, keepLast = 2) shouldBe Seq(0L, 1L)
    new java.io.File(s"$root/v0").exists() shouldBe false
    new java.io.File(s"$root/v1").exists() shouldBe false
    new java.io.File(s"$root/v2").exists() shouldBe true
    new java.io.File(s"$root/v5").exists() shouldBe true
    new java.io.File(s"$root/not-a-version").exists() shouldBe true

    // idempotent second pass; missing root is a no-op
    LakeSink.vacuumVersions(spark, root, keepLast = 2) shouldBe Seq.empty
    LakeSink.vacuumVersions(spark, s"$root/missing", keepLast = 1) shouldBe Seq.empty
  }

  test("jsonl corpus: compressed shards round-trip under an enforced schema") {
    import graft.sinks.CorpusJsonl
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString + "/corpus"
    val docs = Seq(
      (1L, Some("hello world"), Some("en")),
      (2L, None: Option[String], Some("de")),   // null text must survive
      (3L, Some("第三 doc"), None: Option[String])
    ).toDF("doc_id", "text", "lang")
    CorpusJsonl.write(docs, dir, shards = 2)

    // exactly 2 compressed shard files
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-")).map(_.getName)
    files.length shouldBe 2
    all(files) should endWith(".json.gz")

    val back = CorpusJsonl.read(spark, dir, docs.schema)
    back.as[(Long, Option[String], Option[String])].collect().sortBy(_._1) shouldBe
      docs.as[(Long, Option[String], Option[String])].collect().sortBy(_._1)

    // FAILFAST: a corrupt line is a loud error, not silent nulls
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/../bad.json"),
      "{not valid json\n".getBytes)
    an[Exception] should be thrownBy
      CorpusJsonl.read(spark, s"$dir/../bad.json", docs.schema).collect()
  }
}
