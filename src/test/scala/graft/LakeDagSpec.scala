package graft

import graft.orchestration.LakeDag
import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.functions._

class LakeDagSpec extends SparkTestBase {
  import spark.implicits._

  private def writeUpserts(dir: String, rows: Seq[(Long, String, Double)]): Unit =
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(dir)

  private def tableRows(conf: LakeDag.StageConf): Map[Long, (String, Double)] =
    LakeTable.read(spark, conf.tableRoot).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  private def viewRows(conf: LakeDag.StageConf): Map[String, (Long, BigDecimal)] =
    MaterializedView.read(spark, conf.viewRoot).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  private def runDay(conf: LakeDag.StageConf): Unit =
    LakeDag.stageChain.foreach(LakeDag.runStage(spark, _, conf))

  test("two daily deliveries: ingest, MoR deletes, view follows, report reconciles") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag").toString
    val conf1 = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake")
    writeUpserts(conf1.upsertsDir, Seq(
      (1L, "HIGH", 10.0), (2L, "LOW", 20.0), (3L, "HIGH", 30.0)))
    runDay(conf1)

    tableRows(conf1).keySet shouldBe Set(1L, 2L, 3L)
    viewRows(conf1) shouldBe Map(
      "HIGH" -> (2L, BigDecimal("40.000000")), "LOW" -> (1L, BigDecimal("20.000000")))
    val r1 = spark.read.parquet(conf1.reportDir).head()
    (r1.getLong(1), r1.getLong(2), r1.getBoolean(3)) shouldBe ((3L, 3L, true))

    // day 2: upsert key 2 (price moves LOW 20 -> 25), insert 4, delete 3
    val conf2 = conf1.copy(ds = "2026-08-14")
    writeUpserts(conf2.upsertsDir, Seq((2L, "LOW", 25.0), (4L, "LOW", 40.0)))
    Seq(3L).toDF("o_orderkey").write.mode("overwrite").parquet(conf2.deletesDir)
    runDay(conf2)

    tableRows(conf2) shouldBe Map(
      1L -> ("HIGH", 10.0), 2L -> ("LOW", 25.0), 4L -> ("LOW", 40.0))
    // incremental view == full recompute after upsert + MoR delete
    viewRows(conf2) shouldBe Map(
      "HIGH" -> (1L, BigDecimal("10.000000")), "LOW" -> (2L, BigDecimal("65.000000")))
    val r2 = spark.read.parquet(conf2.reportDir).head()
    (r2.getLong(1), r2.getLong(2), r2.getBoolean(3)) shouldBe ((3L, 3L, true))
    // r10: group-cardinality audit — metadata-only NDV of the group
    // column equals the groups the view serves (2: HIGH, LOW)
    (r2.getLong(5), r2.getBoolean(6)) shouldBe ((2L, true))
    LakeTable.fastNdv(spark, conf2.tableRoot, "o_orderpriority") shouldBe Some(2L)

    // compact_maintenance folded the day's vectors, and the default conf
    // declares statsCols — the audit's row count came from METADATA alone
    LakeTable.fastCount(spark, conf2.tableRoot) shouldBe Some(3L)
    LakeTable.manifest(spark, conf2.tableRoot).dvFiles shouldBe empty
  }

  test("every lake stage job is labelled: by its stage, or by an engine phase inside it") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag_labels").toString
    val c1 = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake")
    writeUpserts(c1.upsertsDir, Seq((1L, "HIGH", 10.0), (2L, "LOW", 20.0), (3L, "HIGH", 30.0)))
    val c2 = c1.copy(ds = "2026-08-14")
    writeUpserts(c2.upsertsDir, Seq((2L, "LOW", 25.0), (4L, "LOW", 40.0)))
    Seq(3L).toDF("o_orderkey").write.mode("overwrite").parquet(c2.deletesDir)
    val phases = Seq(c1, c2).flatMap(c => LakeDag.stageChain.flatMap { stage =>
      val (_, p) = QueryProfile.measure(spark)(LakeDag.runStage(spark, stage, c))
      p.jobs.map(j => stage -> QueryProfile.phase(j.label))
    })
    // a bare call site (`parquet at …`) has no `area:step` head
    phases.foreach { case (stage, phase) =>
      withClue(s"$stage: ") { phase should fullyMatch regex "[a-z]+:[a-z_-]+" }
    }
    phases.map(_._2) should contain allOf ("lake:audit_report", "lake:write", "mv:delta")
  }

  test("retrying a delivery converges: table content identical, view never double-applies") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag_retry").toString
    val conf = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake")
    writeUpserts(conf.upsertsDir, Seq((1L, "HIGH", 10.0), (2L, "LOW", 20.0)))
    runDay(conf)
    val t1 = tableRows(conf)
    val v1 = viewRows(conf)

    runDay(conf) // the scheduler re-runs the whole day
    tableRows(conf) shouldBe t1
    viewRows(conf) shouldBe v1
    spark.read.parquet(conf.reportDir).head().getBoolean(3) shouldBe true
  }

  test("a delivery with no input files is a valid empty day") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag_empty").toString
    val c1 = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake")
    writeUpserts(c1.upsertsDir, Seq((1L, "HIGH", 10.0)))
    runDay(c1)
    val before = viewRows(c1)
    runDay(c1.copy(ds = "2026-08-14")) // neither upserts nor deletes exist
    viewRows(c1) shouldBe before
  }

  test("bootstrap empty day: the FIRST run with no input leaves the whole chain green") {
    // before r9 the table was never created and every post-ingest stage
    // crashed in LakeTable.manifest's require — retries couldn't fix it,
    // so the documented empty-day contract failed exactly on day one
    val root = java.nio.file.Files.createTempDirectory("lake_dag_boot").toString
    val c0 = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake")
    runDay(c0) // no upserts dir at all: nothing exists yet
    // the audit still ships, reporting a consistent, intact zero-row day
    val report = spark.read.parquet(c0.reportDir)
      .select("table_rows", "view_rows", "consistent", "integrity_ok",
        "ndv_groups", "cardinality_ok").head()
    (report.getLong(0), report.getLong(1), report.getBoolean(2),
      report.getBoolean(3)) shouldBe (0L, 0L, true, true)
    (report.getLong(4), report.getBoolean(5)) shouldBe ((0L, true))
    // and the day data finally arrives, the same chain bootstraps normally
    val c1 = c0.copy(ds = "2026-08-14")
    writeUpserts(c1.upsertsDir, Seq((1L, "HIGH", 10.0)))
    runDay(c1)
    viewRows(c1) should not be empty
  }

  test("multi-column groups: the cardinality audit reconciles tuples against per-column NDV bounds") {
    // the view counts distinct group TUPLES; per-column NDVs only bound
    // it (max ndv <= tuples <= product of ndvs). An equality check
    // against ndv(groupCols.head) flagged every healthy multi-column
    // pipeline: here 2 priorities x 2 statuses = 4 tuples vs head-NDV 2.
    val root = java.nio.file.Files.createTempDirectory("lake_dag_multi").toString
    val conf = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake",
      groupCols = Seq("o_orderpriority", "o_orderstatus"))
    Seq(
      (1L, "HIGH", "O", 10.0), (2L, "HIGH", "F", 20.0),
      (3L, "LOW", "O", 30.0), (4L, "LOW", "F", 40.0), (5L, "LOW", "F", 50.0)
    ).toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(conf.upsertsDir)
    runDay(conf)
    val r = spark.read.parquet(conf.reportDir)
      .select("consistent", "integrity_ok", "cardinality_ok").head()
    (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) shouldBe
      ((true, true, true))
  }

  test("zOrderCols: compact_maintenance bootstraps the z layout, then maintains it incrementally") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag_z").toString
    val conf1 = LakeDag.StageConf("2026-08-13", s"$root/in", s"$root/lake",
      statsCols = Seq("o_totalprice", "o_orderkey"),
      zOrderCols = Seq("o_orderkey", "o_totalprice"))
    writeUpserts(conf1.upsertsDir, (1L to 64L).map(i =>
      (i, if (i % 2 == 0) "HIGH" else "LOW", i.toDouble)))
    runDay(conf1)
    // day 1 bootstrapped the layout: a two-predicate box probe answers
    // exactly through the zone-map intersection
    LakeTable.scan(spark, conf1.tableRoot)
      .filter($"o_orderkey".between(1, 16) && $"o_totalprice".between(1, 8))
      .collect().map(_.getLong(0)).toSet shouldBe (1L to 8L).toSet
    // day 2: inserts + a tombstone; the incremental pass keeps the layout
    val conf2 = conf1.copy(ds = "2026-08-14")
    writeUpserts(conf2.upsertsDir, (65L to 96L).map(i => (i, "LOW", i.toDouble)))
    Seq(10L).toDF("o_orderkey").write.mode("overwrite").parquet(conf2.deletesDir)
    runDay(conf2)
    LakeTable.scan(spark, conf2.tableRoot)
      .filter($"o_orderkey".between(1, 16) && $"o_totalprice".between(1, 16))
      .collect().map(_.getLong(0)).toSet shouldBe ((1L to 16L).toSet - 10L)
    val r2 = spark.read.parquet(conf2.reportDir)
      .select("consistent", "integrity_ok").head()
    (r2.getBoolean(0), r2.getBoolean(1)) shouldBe ((true, true))
    // convergent: a rerun of the maintenance stage on a tight, compacted
    // table publishes nothing (the auto pass no-ops)
    val v = LakeTable.manifest(spark, conf2.tableRoot).version
    LakeDag.runStage(spark, "compact_maintenance", conf2)
    LakeTable.manifest(spark, conf2.tableRoot).version shouldBe v
    // misconfiguration fails at conf construction, not mid-chain
    an[IllegalArgumentException] should be thrownBy
      conf1.copy(zOrderCols = Seq("o_orderkey", "o_orderpriority"))
  }

  test("compact_metadata bounds the manifest's ref list across many narrow deliveries") {
    val root = java.nio.file.Files.createTempDirectory("lake_dag_meta").toString
    // threshold 3 so a handful of days crosses it; every delivery is
    // narrow (1-2 keys), the ref-per-delivery accretion compactMetadata
    // exists to bound
    val conf0 = LakeDag.StageConf("2026-08-01", s"$root/in", s"$root/lake",
      maxRefsPerManifest = 3)
    writeUpserts(conf0.upsertsDir,
      (1L to 20L).map(i => (i, if (i % 2 == 0) "HIGH" else "LOW", i.toDouble)))
    runDay(conf0)
    val days = (2 to 7).map(d => conf0.copy(ds = f"2026-08-$d%02d"))
    days.foreach { c =>
      writeUpserts(c.upsertsDir,
        Seq((c.ds.takeRight(2).toLong, "HIGH", 999.0)))
      runDay(c)
      // the stage keeps refs bounded: never past threshold + the day's
      // own delivery segments between compactions
      LakeTable.manifest(spark, c.tableRoot).segments.size should be <=
        conf0.maxRefsPerManifest + 1
    }
    // served content survived every consolidation: the view's running
    // state equals a from-scratch recompute of the final table
    val expect = LakeTable.read(spark, conf0.tableRoot)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)), sum(col("o_totalprice")).cast("decimal(38,6)"))
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        BigDecimal(r.getDecimal(2)))).toMap
    viewRows(days.last) shouldBe expect
    // time travel across compaction boundaries still resolves (vacuum
    // kept 7 versions; the newest few span several consolidations)
    val vs = LakeTable.history(spark, conf0.tableRoot).map(_.version)
    LakeTable.read(spark, conf0.tableRoot, Some(vs(1))).count() should be >= 20L
    // idempotent: a rerun on the already-compacted table publishes nothing
    val v = LakeTable.manifest(spark, conf0.tableRoot).version
    LakeDag.runStage(spark, "compact_metadata", days.last)
    LakeTable.manifest(spark, conf0.tableRoot).version shouldBe v
  }

  test("StageConf rejects a malformed ds; unknown stage fails loudly; DAG artifact byte-identical") {
    an[IllegalArgumentException] should be thrownBy
      LakeDag.StageConf("20260813", "/tmp/x", "/tmp/y")
    an[IllegalArgumentException] should be thrownBy
      LakeDag.runStage(spark, "no_such_stage",
        LakeDag.StageConf("2026-01-01", "/tmp/x", "/tmp/y"))

    val checkedIn = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("orchestration/lake_maintenance_dag.py")),
      java.nio.charset.StandardCharsets.UTF_8)
    checkedIn shouldBe LakeDag.renderAirflowDag()
    LakeDag.stageChain.foreach(s => checkedIn should include(s"""task_id="$s""""))
    checkedIn should include(LakeDag.stageChain.mkString(" >> "))
    checkedIn should include(s""""retries": ${LakeDag.retries},""")
  }
}
