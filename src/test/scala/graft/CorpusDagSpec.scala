package graft

import graft.orchestration.CorpusDag
import org.apache.spark.sql.functions._

class CorpusDagSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDelivery(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)

  test("two daily deliveries: stages hand off through the lake, twins of day-1 docs rejected on day 2") {
    val root = java.nio.file.Files.createTempDirectory("corpus_dag").toString
    val base  = (0 until 60).map(i => s"tok$i").mkString(" ")
    val other = (100 until 160).map(i => s"w$i").mkString(" ")

    // day 1: a doc, an exact twin of it (exact stage kills), a distinct doc
    writeDelivery(s"$root/in/d1", Seq(
      (10L, base), (11L, base), (20L, other)))
    val c1 = CorpusDag.StageConf("2026-08-13", s"$root/in/d1", s"$root/lake")
    CorpusDag.stageChain.foreach(CorpusDag.runStage(spark, _, c1))

    spark.read.parquet(c1.exactDir).select($"doc_id").as[Long].collect().sorted shouldBe
      Array(10L, 20L) // exact twin 11 collapsed to min id
    spark.read.parquet(c1.acceptedDir).select($"doc_id").as[Long].collect().sorted shouldBe
      Array(10L, 20L) // nothing indexed yet
    val r1 = spark.read.parquet(c1.reportDir).head()
    (r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4)) shouldBe ((3L, 3L, 2L, 2L))

    // day 2: a paraphrase of day-1 doc 10 (near-dup vs the PERSISTED index)
    // and a genuinely new doc
    writeDelivery(s"$root/in/d2", Seq(
      (30L, base + " appended tail"),
      (40L, (200 until 260).map(i => s"v$i").mkString(" "))))
    val c2 = CorpusDag.StageConf("2026-08-14", s"$root/in/d2", s"$root/lake")
    CorpusDag.stageChain.foreach(CorpusDag.runStage(spark, _, c2))

    spark.read.parquet(c2.acceptedDir).select($"doc_id").as[Long].collect() shouldBe
      Array(40L) // cross-delivery twin rejected via the index, no day-1 rescan
    // the published index is versioned per delivery and bounded
    graft.operators.Dedup.readNearDupIndex(spark, s"$root/lake/neardup_index/v20260814")
      .sigs.count() shouldBe 3L // 10, 20, 40

    // retrying a mid-chain stage converges (idempotent overwrite +
    // strictly-below index read)
    CorpusDag.runStage(spark, "near_dedup", c2)
    spark.read.parquet(c2.acceptedDir).select($"doc_id").as[Long].collect() shouldBe
      Array(40L)
    CorpusDag.runStage(spark, "funnel_report", c2)
    val r2 = spark.read.parquet(c2.reportDir).head()
    (r2.getLong(1), r2.getLong(4)) shouldBe ((2L, 1L))

    // JSONL corpus leg round-trips with the contract schema
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    graft.sinks.CorpusJsonl.read(spark, c2.corpusDir, schema)
      .select($"doc_id").as[Long].collect() shouldBe Array(40L)
  }

  test("every corpus stage job is labelled by its stage") {
    val root = java.nio.file.Files.createTempDirectory("corpus_dag_labels").toString
    writeDelivery(s"$root/in/d1", Seq((10L, "alpha beta gamma delta"), (11L, "alpha beta gamma delta"),
      (20L, "one two three four five")))
    val c = CorpusDag.StageConf("2026-08-13", s"$root/in/d1", s"$root/lake")
    val labels = CorpusDag.stageChain.flatMap { stage =>
      val (_, p) = QueryProfile.measure(spark)(CorpusDag.runStage(spark, stage, c))
      p.jobs.map(j => stage -> QueryProfile.phase(j.label))
    }
    labels should not be empty
    labels.foreach { case (stage, phase) =>
      withClue(s"$stage: ") { phase shouldBe s"corpus:$stage" }
    }
  }

  test("compact_index bounds the band-table fileset; probe results byte-identical before/after") {
    val root = java.nio.file.Files.createTempDirectory("corpus_dag_compact").toString
    def parquetFiles(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSeq
    }
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    // delivery 1: full chain (compaction included in stageChain)
    writeDelivery(s"$root/in/d1", Seq((10L, base),
      (20L, (100 until 160).map(i => s"w$i").mkString(" "))))
    val c1 = CorpusDag.StageConf("2026-08-13", s"$root/in/d1", s"$root/lake")
    CorpusDag.stageChain.foreach(CorpusDag.runStage(spark, _, c1))
    parquetFiles(s"${c1.indexRoot}/v${c1.batchVersion}/bands").size shouldBe 1

    // delivery 2 up to near_dedup: snapshot the published (uncompacted)
    // index, then compact and require identical content in fewer files
    writeDelivery(s"$root/in/d2", Seq(
      (30L, (200 until 260).map(i => s"v$i").mkString(" "))))
    val c2 = CorpusDag.StageConf("2026-08-14", s"$root/in/d2", s"$root/lake")
    Seq("annotate", "filter_quality_language", "exact_dedup", "near_dedup")
      .foreach(CorpusDag.runStage(spark, _, c2))
    val vdir = s"${c2.indexRoot}/v${c2.batchVersion}"
    def snapshot(): (Seq[(Long, Seq[Int])], Seq[(Long, Int, Int)]) = {
      val idx = graft.operators.Dedup.readNearDupIndex(spark, vdir)
      (idx.sigs.as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1),
        idx.bands.as[(Long, Int, Int)].collect().toSeq.sortBy(t => (t._1, t._2)))
    }
    val before = snapshot()
    val filesBefore = parquetFiles(s"$vdir/bands").size
    CorpusDag.runStage(spark, "compact_index", c2)
    val filesAfter = parquetFiles(s"$vdir/bands").size
    filesAfter shouldBe 1
    filesAfter should be <= filesBefore
    snapshot() shouldBe before // byte-identical probe state

    // delivery 3 probes THROUGH the compacted index: a twin of delivery-1
    // content is still rejected
    writeDelivery(s"$root/in/d3", Seq((50L, base + " tail tail")))
    val c3 = CorpusDag.StageConf("2026-08-15", s"$root/in/d3", s"$root/lake")
    CorpusDag.stageChain.take(4).foreach(CorpusDag.runStage(spark, _, c3))
    spark.read.parquet(c3.acceptedDir).count() shouldBe 0L
  }

  test("vacuum_retention bounds index versions; replay + cross-delivery rejection survive within the horizon") {
    val root = java.nio.file.Files.createTempDirectory("corpus_dag_vac").toString
    def doc(tag: String) = (0 until 60).map(i => s"$tag$i").mkString(" ")
    def conf(ds: String, in: String) =
      CorpusDag.StageConf(ds, in, s"$root/lake", keepIndexVersions = 2)
    def versions(): Seq[String] = {
      val d = new java.io.File(s"$root/lake/neardup_index")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSeq.sorted
    }
    // four daily deliveries, one novel doc each
    val days = Seq("2026-08-13" -> 10L, "2026-08-14" -> 20L,
      "2026-08-15" -> 30L, "2026-08-16" -> 40L)
    val confs = days.map { case (ds, id) =>
      val c = conf(ds, s"$root/in/$ds")
      writeDelivery(c.inputDir, Seq((id, doc(s"d$id-"))))
      CorpusDag.stageChain.foreach(CorpusDag.runStage(spark, _, c))
      c
    }
    // the index root holds exactly the newest two versions — a year of
    // dailies stays two snapshots, not 365
    versions() shouldBe Seq("v20260815", "v20260816")

    // a replayed day-4 near_dedup still finds its strictly-below
    // predecessor (v20260815 kept by the >=2 contract) and converges
    CorpusDag.runStage(spark, "near_dedup", confs(3))
    spark.read.parquet(confs(3).acceptedDir).select($"doc_id")
      .as[Long].collect() shouldBe Array(40L)

    // day 5: every version is a CUMULATIVE snapshot, so retention loses
    // no dedup memory — twins of day-4 AND of vacuumed-away day-1 are
    // both rejected by the surviving index; only the novel doc lands
    val c5 = conf("2026-08-17", s"$root/in/d5")
    writeDelivery(c5.inputDir, Seq(
      (50L, doc("d40-") + " tail"), (60L, doc("d10-") + " tail"),
      (70L, doc("fresh-"))))
    CorpusDag.stageChain.foreach(CorpusDag.runStage(spark, _, c5))
    spark.read.parquet(c5.acceptedDir).select($"doc_id")
      .as[Long].collect().sorted shouldBe Array(70L)
    versions() shouldBe Seq("v20260816", "v20260817")
  }

  test("StageConf rejects a ds that is not a strict yyyy-MM-dd date") {
    an[IllegalArgumentException] should be thrownBy
      CorpusDag.StageConf("20260813", "/tmp/x", "/tmp/y")
    an[IllegalArgumentException] should be thrownBy
      CorpusDag.StageConf("2026-08-13T00:00", "/tmp/x", "/tmp/y")
    an[IllegalArgumentException] should be thrownBy
      CorpusDag.StageConf("not-a-date", "/tmp/x", "/tmp/y")
  }

  test("unknown stage fails loudly; checked-in Airflow DAG artifact is byte-identical to the generator") {
    an[IllegalArgumentException] should be thrownBy
      CorpusDag.runStage(spark, "no_such_stage",
        CorpusDag.StageConf("2026-01-01", "/tmp/x", "/tmp/y"))

    val checkedIn = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("orchestration/corpus_pipeline_dag.py")),
      java.nio.charset.StandardCharsets.UTF_8)
    checkedIn shouldBe CorpusDag.renderAirflowDag()
    // the artifact wires every stage in chain order with the retry policy
    CorpusDag.stageChain.foreach(s => checkedIn should include(s"""task_id="$s""""))
    checkedIn should include(CorpusDag.stageChain.mkString(" >> "))
    checkedIn should include(s""""retries": ${CorpusDag.retries},""")
  }
}
