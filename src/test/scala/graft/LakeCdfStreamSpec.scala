package graft

import graft.sinks.LakeTable
import graft.streaming.{LakeCdfSource, LakeStreaming}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming change-feed source (streaming/LakeCdfSource.scala), the one
  * source behind `graft-lake-cdf` (one table) and `graft-lake-cdf-group`
  * (a transaction group): table versions are the offsets, batch (start,
  * end] is LakeTable.changes over exactly that span, the first batch is
  * the snapshot-as-inserts bootstrap, and every offset is a consistent
  * cut (consistentCutN) that never splits a LakeTxn and never lands on a
  * dead slot. Exactly-once falls out of determinism + checkpointing;
  * LakeStreaming.mirror (one table) and mirrorTxnGroup (two or more)
  * compose it into CDC table replication through one batch applier.
  */
class LakeCdfStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def initSource(n: Int): String = {
    val root = Files.createTempDirectory("graft-cdfsrc").toString
    val df = spark.range(n.toLong).select(col("id").alias("k"),
      concat(lit("v"), col("id")).alias("v"))
    LakeTable.init(df, root, Seq("k"), numBuckets = 4)
    root
  }

  /** Drain all available versions through foreachBatch, collecting every
    * emitted row; returns them. Same checkpoint dir = resumes offsets.
    */
  private def drain(root: String, cp: String): Seq[Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = spark.readStream.format("graft-lake-cdf").option("root", root)
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  test("first batch is the snapshot as inserts, pinned to the head version") {
    val root = initSource(10)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp").toString
    val rows = drain(root, cp)
    rows should have size 10
    rows.map(_.getAs[String]("_change_type")).toSet shouldBe Set("insert")
    rows.map(_.getAs[Long]("_from_version")).toSet shouldBe Set(-1L)
    rows.map(_.getAs[Long]("_to_version")).toSet shouldBe Set(0L)
    rows.map(_.getAs[Long]("k")).sorted shouldBe (0L until 10L)
  }

  test("subsequent drains serve exactly the version span since the checkpoint") {
    val root = initSource(10)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp2").toString
    drain(root, cp) should have size 10 // bootstrap

    // v1: update k=3, insert k=100; v2: delete k=7
    LakeTable.merge(spark, root,
      Seq((3L, "v3b"), (100L, "v100")).toDF("k", "v"))
    LakeTable.deleteMor(spark, root, Seq(7L).toDF("k"))

    val rows = drain(root, cp)
    val expected = LakeTable.changes(spark, root, 0L, 2L).collect()
    rows.map(_.toSeq).sortBy(_.mkString("|")) shouldBe
      expected.map(_.toSeq).sortBy(_.mkString("|"))
    // netting sanity: one update pair, one insert, one delete
    rows.map(_.getAs[String]("_change_type")).sorted shouldBe
      Seq("delete", "insert", "update_postimage", "update_preimage")
    // and a re-drain with the same checkpoint emits nothing new
    drain(root, cp) shouldBe empty
  }

  test("maintenance-only spans drain as empty batches, offset still advances") {
    val root = initSource(50)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp3").toString
    drain(root, cp) should have size 50
    LakeTable.compactSmallFiles(spark, root) // content no-op
    drain(root, cp) shouldBe empty
    // a real delivery after the maintenance version still arrives
    LakeTable.merge(spark, root, Seq((500L, "new")).toDF("k", "v"))
    val rows = drain(root, cp)
    rows.map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"))) shouldBe
      Seq((500L, "insert"))
  }

  test("mirror: CDC replication converges the target and is exactly-once across re-drains") {
    val root = initSource(40)
    val target = Files.createTempDirectory("graft-cdfsrc-tgt").toString
    // pre-init the target EMPTY with the same keys
    LakeTable.init(spark.range(0).select(col("id").alias("k"),
      lit("").alias("v")), target, Seq("k"), numBuckets = 4)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp4").toString

    def runMirror(): Unit = {
      val q = LakeStreaming.mirror(spark, root, target)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def content(r: String): Set[(Long, String)] =
      LakeTable.read(spark, r).select($"k", $"v").as[(Long, String)]
        .collect().toSet

    runMirror() // bootstrap from snapshot
    content(target) shouldBe content(root)

    LakeTable.merge(spark, root,
      Seq((5L, "v5b"), (200L, "v200")).toDF("k", "v"))
    LakeTable.deleteMor(spark, root, Seq(1L, 2L).toDF("k"))
    runMirror()
    content(target) shouldBe content(root)
    content(target).exists(_._1 == 1L) shouldBe false

    // exactly-once: nothing pending, so the target's version must not move
    val vBefore = LakeTable.manifest(spark, target).version
    runMirror()
    LakeTable.manifest(spark, target).version shouldBe vBefore
    content(target) shouldBe content(root)
  }

  test("maxVersionsPerTrigger bounds post-bootstrap batch spans") {
    val root = initSource(20)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp6").toString
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(): Unit = {
      val q = spark.readStream.format("graft-lake-cdf").option("root", root)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select(col("_from_version"), col("_to_version"))
            .distinct().collect()
          spans.synchronized {
            spans ++= rows.map(r => (r.getLong(0), r.getLong(1))) }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run() // bootstrap: uncapped snapshot at version 0
    // a BACKLOG accumulated while no stream was running — the cap binds
    (1 to 4).foreach(i => LakeTable.merge(spark, root,
      Seq((100L + i, s"v$i")).toDF("k", "v")))
    run() // 4-version backlog drains as 2 + 2, never one giant span
    spans.toSet shouldBe Set((-1L, 0L), (0L, 2L), (2L, 4L))
    // Trigger.AvailableNow + rate limit: ONE run drains the WHOLE
    // backlog in capped spans and stops at the start-time target
    // (SupportsTriggerAvailableNow — not one span per run)
    (5 to 8).foreach(i => LakeTable.merge(spark, root,
      Seq((100L + i, s"v$i")).toDF("k", "v")))
    spans.clear()
    val q2 = spark.readStream.format("graft-lake-cdf").option("root", root)
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select(col("_from_version"), col("_to_version"))
          .distinct().collect()
        spans.synchronized {
          spans ++= rows.map(r => (r.getLong(0), r.getLong(1))) }
        ()
      }
      .start()
    q2.awaitTermination()
    spans.toSet shouldBe Set((4L, 6L), (6L, 8L))
  }

  test("startingVersion backlog honors maxVersionsPerTrigger from the very first batch") {
    val root = initSource(10) // v0
    (1 to 5).foreach(i => LakeTable.merge(spark, root,
      Seq((100L + i, s"v$i")).toDF("k", "v"))) // v1..v5
    val cp = Files.createTempDirectory("graft-cdfsrc-cp8").toString
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("graft-lake-cdf").option("root", root)
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "2")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select(col("_from_version"), col("_to_version"))
          .agg(min("_from_version"), max("_to_version")).collect()(0)
        spans.synchronized { spans += ((rows.getLong(0), rows.getLong(1))) }
        ()
      }
      .start()
    q.awaitTermination()
    // the changes-only backlog is divisible: the rate limit applies from
    // the FIRST batch (old behavior served (0,5] as one giant span)
    spans.toSet shouldBe Set((0L, 2L), (2L, 4L), (4L, 5L))
  }

  test("startingVersion subscribes changes-only from a named version, no snapshot bootstrap") {
    val root = initSource(10) // v0
    LakeTable.merge(spark, root, Seq((3L, "v3b")).toDF("k", "v")) // v1
    LakeTable.merge(spark, root, Seq((200L, "new")).toDF("k", "v")) // v2
    val cp = Files.createTempDirectory("graft-cdfsrc-cp7").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("graft-lake-cdf").option("root", root)
      .option("startingVersion", "0").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }
      .start()
    q.awaitTermination()
    // only the two deliveries since v0 — the 10 base rows never appear
    buf.map(_.getAs[String]("_change_type")).sorted shouldBe
      Seq("insert", "update_postimage", "update_preimage")
    buf.map(_.getAs[Long]("_from_version")).toSet shouldBe Set(0L)
  }

  test("additive widening: a resumed checkpoint serves the new column (old spans NULL-filled on replay)") {
    val root = initSource(10)
    val cp = Files.createTempDirectory("graft-cdfsrc-cp5").toString
    drain(root, cp) should have size 10
    // widen with a new column (additive evolution)
    LakeTable.merge(spark, root,
      Seq((3L, "v3c", "extra")).toDF("k", "v", "w"))
    // each drain() builds a fresh stream over the same checkpoint: the
    // schema re-pins WIDENED, and checkpoint recovery replays the
    // committed bootstrap span (whose rows predate w) — the NULL-fill
    // reconciliation is what lets that replay resolve
    val rows = drain(root, cp)
    rows should not be empty
    rows.head.schema.fieldNames should contain("w")
    val post = rows.filter(r =>
      r.getAs[String]("_change_type") == "update_postimage")
    post.map(r => (r.getAs[Long]("k"), r.getAs[String]("w"))) shouldBe
      Seq((3L, "extra"))
  }

  /** Drain with `maxVersionsPerTrigger = 1` under AvailableNow: every
    * emitted row and every batch's (from, to) span.
    */
  private def drainCapped(root: String, cp: String,
      startingVersion: Option[Long] = None): (Seq[Row], Set[(Long, Long)]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val spans = scala.collection.mutable.Set.empty[(Long, Long)]
    val reader = spark.readStream.format("graft-lake-cdf")
      .option("root", root).option("maxVersionsPerTrigger", "1")
    startingVersion.foreach(v => reader.option("startingVersion", v.toString))
    val q = reader.load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        buf.synchronized {
          buf ++= rows
          spans ++= rows.map(r => (r.getAs[Long]("_from_version"),
            r.getAs[Long]("_to_version")))
        }
        ()
      }
      .start()
    q.awaitTermination()
    (buf.toSeq, spans.toSet)
  }

  private def kv(rows: Seq[Row]): Seq[(Long, String, String)] =
    rows.map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[String]("_change_type"))).sorted

  test("rate-capped stream steps over an aborted slot instead of wedging on it") {
    val root = initSource(10) // v0
    val cp = Files.createTempDirectory("graft-cdfsrc-cp9").toString
    drainCapped(root, cp)._1 should have size 10 // bootstrap at v0
    intercept[RuntimeException] {
      graft.sinks.LakeTxn.atomically(spark, root) { t =>
        t.merge(root, Seq((5L, "POISON")).toDF("k", "v"))
        sys.error("abort after staging")
      }
    }
    // slot 1 holds the aborted member; the cap-1 candidate lands on it
    intercept[IllegalArgumentException](
      LakeTable.manifest(spark, root, Some(1L)))
    LakeTable.merge(spark, root, Seq((3L, "v3b")).toDF("k", "v")) // v2
    LakeTable.merge(spark, root, Seq((100L, "v100")).toDF("k", "v")) // v3
    LakeTable.manifest(spark, root).version shouldBe 3L
    val (rows, spans) = drainCapped(root, cp)
    spans shouldBe Set((0L, 2L), (2L, 3L))
    kv(rows) shouldBe Seq((3L, "v3", "update_preimage"),
      (3L, "v3b", "update_postimage"), (100L, "v100", "insert"))
    // a restart from the same checkpoint rides on to the new head
    LakeTable.merge(spark, root, Seq((101L, "v101")).toDF("k", "v")) // v4
    val (rows2, spans2) = drainCapped(root, cp)
    spans2 shouldBe Set((3L, 4L))
    kv(rows2) shouldBe Seq((101L, "v101", "insert"))
    // a fresh changes-only stream from v0 crosses the aborted slot too
    val cp2 = Files.createTempDirectory("graft-cdfsrc-cp10").toString
    val (rows3, spans3) = drainCapped(root, cp2, startingVersion = Some(0L))
    spans3 shouldBe Set((0L, 2L), (2L, 3L), (3L, 4L))
    kv(rows3) shouldBe Seq((3L, "v3", "update_preimage"),
      (3L, "v3b", "update_postimage"), (100L, "v100", "insert"),
      (101L, "v101", "insert"))
    kv(rows3).exists(_._2 == "POISON") shouldBe false
  }

  test("rate-capped stream serves a one-table multi-member transaction as one span") {
    val root = initSource(10) // v0
    val cp = Files.createTempDirectory("graft-cdfsrc-cp11").toString
    drainCapped(root, cp)._1 should have size 10
    // one transaction, TWO members on this table: slots 1 and 2
    graft.sinks.LakeTxn.atomically(spark, root) { t =>
      t.merge(root, Seq((3L, "t3")).toDF("k", "v"))
      t.merge(root, Seq((4L, "t4")).toDF("k", "v"))
    }
    LakeTable.manifest(spark, root).version shouldBe 2L
    val (rows, spans) = drainCapped(root, cp)
    // a cap of one version must not serve half the transaction
    spans shouldBe Set((0L, 2L))
    kv(rows).filter(_._3 == "update_postimage") shouldBe
      Seq((3L, "t3", "update_postimage"), (4L, "t4", "update_postimage"))
  }

  test("parseOffset reads every checkpointed offset form; only the vector form is rendered") {
    import LakeCdfSource.{parseOffset, renderOffset}
    parseOffset("7", 1) shouldBe IndexedSeq(7L)
    parseOffset("""{"a":3,"b":5}""", 2) shouldBe IndexedSeq(3L, 5L)
    parseOffset("""{"v":[1,2,3]}""", 3) shouldBe IndexedSeq(1L, 2L, 3L)
    renderOffset(IndexedSeq(7L)).json shouldBe """{"v":[7]}"""
    renderOffset(IndexedSeq(3L, 5L)).json shouldBe """{"v":[3,5]}"""
    parseOffset(renderOffset(IndexedSeq(1L, 2L, 3L)).json, 3) shouldBe
      IndexedSeq(1L, 2L, 3L)
    // an arity that differs from the stream's roots is refused
    intercept[IllegalArgumentException](parseOffset("7", 2))
    intercept[IllegalArgumentException](parseOffset("""{"a":3,"b":5}""", 3))
    intercept[IllegalArgumentException](parseOffset("""{"v":[1,2]}""", 1))
    // malformed input is refused
    Seq("", "x", "1.5", """{"v":[]}""", """{"v":[1,x]}""", """{"a":3}""",
      """{"w":[1]}""", """{"a":3,"b":}""").foreach { bad =>
      intercept[IllegalArgumentException](parseOffset(bad, 1))
    }
  }

  test("a checkpoint holding the bare-number offset form resumes exactly once") {
    val root = initSource(10) // v0
    val cp = Files.createTempDirectory("graft-cdfsrc-cp12").toString
    drain(root, cp) should have size 10
    LakeTable.merge(spark, root, Seq((3L, "v3b")).toDF("k", "v")) // v1
    drain(root, cp) should have size 2
    // rewrite the newest offsets/ entry to the single-table form written
    // before the vector form (and drop its checksum so the log reads it)
    val dir = new java.io.File(cp, "offsets")
    val last = dir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val lines = Files.readAllLines(last.toPath)
    lines.get(lines.size - 1) shouldBe """{"v":[1]}"""
    lines.set(lines.size - 1, "1")
    Files.write(last.toPath, String.join("\n", lines)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(dir, s".${last.getName}.crc").delete()
    LakeTable.merge(spark, root, Seq((100L, "v100")).toDF("k", "v")) // v2
    val rows = drain(root, cp)
    rows.map(_.toSeq).sortBy(_.mkString("|")) shouldBe
      LakeTable.changes(spark, root, 1L, 2L).collect()
        .map(_.toSeq).sortBy(_.mkString("|"))
    kv(rows) shouldBe Seq((100L, "v100", "insert"))
    drain(root, cp) shouldBe empty
  }

  // ---- transaction-consistent pair mirroring (mirrorTxnGroup, N = 2) ----

  private def initPair(): (String, String) = {
    val a = Files.createTempDirectory("graft-pairA").toString
    val b = Files.createTempDirectory("graft-pairB").toString
    LakeTable.init(spark.range(20).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), a, Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(5).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), b, Seq("dk"),
      numBuckets = 2)
    (a, b)
  }

  private def runMirrorTxn(srcA: String, tgtA: String, srcB: String,
      tgtB: String, cp: String): Unit = {
    val q = LakeStreaming.mirrorTxnGroup(spark, Seq((srcA, tgtA), (srcB, tgtB)))
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("pair mirror: a cross-table transaction arrives in BOTH mirrors or in NEITHER — never torn") {
    val (a, b) = initPair()
    val tgtA = Files.createTempDirectory("graft-pairTgtA").toString
    val tgtB = Files.createTempDirectory("graft-pairTgtB").toString
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgtA, Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgtB, Seq("dk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-pair-cp").toString
    runMirrorTxn(a, tgtA, b, tgtB, cp) // bootstrap both snapshots
    LakeTable.read(spark, tgtA).count() shouldBe 20
    LakeTable.read(spark, tgtB).count() shouldBe 5

    // one committed transaction touching both tables
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
    }
    // one aborted transaction staging poison into both
    try graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((4L, -1e9)).toDF("fk", "amt"))
      t.merge(b, Seq((1L, "POISON")).toDF("dk", "seg"))
      sys.error("injected failure before commit")
    } catch { case _: RuntimeException => () }
    runMirrorTxn(a, tgtA, b, tgtB, cp)
    LakeTable.read(spark, tgtA).filter(col("fk") === 3)
      .head().getDouble(1) shouldBe 999.0
    LakeTable.read(spark, tgtB).filter(col("dk") === 2)
      .head().getString(1) shouldBe "MOVED"
    LakeTable.read(spark, tgtA).filter(col("amt") < 0).count() shouldBe 0
    LakeTable.read(spark, tgtB).filter(col("seg") === "POISON")
      .count() shouldBe 0
    // re-drain: exactly-once, nothing moves
    runMirrorTxn(a, tgtA, b, tgtB, cp)
    LakeTable.read(spark, tgtA).count() shouldBe 20
    LakeTable.read(spark, tgtB).count() shouldBe 5
  }

  test("pair mirror rate limit: a backlog drains as bounded spans, transactions still never split") {
    val (a, b) = initPair()
    val tgtA = Files.createTempDirectory("graft-pairRlTgtA").toString
    val tgtB = Files.createTempDirectory("graft-pairRlTgtB").toString
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgtA, Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgtB, Seq("dk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-pairRl-cp").toString
    var batches = 0
    def drainCapped(): Unit = {
      val q = LakeStreaming.mirrorTxnGroup(spark, Seq((a, tgtA), (b, tgtB)),
        maxVersionsPerTrigger = Some(1L))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainCapped() // bootstrap (uncapped single unit)
    // backlog: two plain commits per side plus one cross-table txn
    LakeTable.merge(spark, a, Seq((1L, 11.0)).toDF("fk", "amt"))
    LakeTable.merge(spark, a, Seq((2L, 22.0)).toDF("fk", "amt"))
    LakeTable.merge(spark, b, Seq((0L, "segX")).toDF("dk", "seg"))
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
    }
    drainCapped() // rate-limited: several bounded spans, never a torn one
    LakeTable.read(spark, tgtA).filter(col("fk") === 3)
      .head().getDouble(1) shouldBe 999.0
    LakeTable.read(spark, tgtB).filter(col("dk") === 2)
      .head().getString(1) shouldBe "MOVED"
    LakeTable.read(spark, tgtA).filter(col("fk") === 1)
      .head().getDouble(1) shouldBe 11.0
    LakeTable.read(spark, tgtB).filter(col("dk") === 0)
      .head().getString(1) shouldBe "segX"
  }

  test("consistentCutN clamps a 2-root candidate that would split a transaction") {
    val (a, b) = initPair()
    def cut(prev: IndexedSeq[Long], cand: IndexedSeq[Long]) =
      LakeCdfSource.consistentCutN(spark, Seq(a, b), prev, cand)
    val headA0 = LakeTable.manifest(spark, a).version
    val headB0 = LakeTable.manifest(spark, b).version
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
    }
    val vA = LakeTable.manifest(spark, a).version
    val vB = LakeTable.manifest(spark, b).version
    // the torn candidate a racing commit produces: A's head includes the
    // txn member, B's candidate (polled earlier) does not — the cut must
    // clamp A back below its member
    cut(IndexedSeq(headA0, headB0), IndexedSeq(vA, vB - 1)) shouldBe
      IndexedSeq(vA - 1, vB - 1)
    // symmetric direction
    cut(IndexedSeq(headA0, headB0), IndexedSeq(vA - 1, vB)) shouldBe
      IndexedSeq(vA - 1, vB - 1)
    // both members inside: nothing clamps
    cut(IndexedSeq(headA0, headB0), IndexedSeq(vA, vB)) shouldBe
      IndexedSeq(vA, vB)
    // non-txn commits never clamp
    LakeTable.merge(spark, a, Seq((5L, 50.0)).toDF("fk", "amt"))
    val vA2 = LakeTable.manifest(spark, a).version
    cut(IndexedSeq(vA, vB), IndexedSeq(vA2, vB)) shouldBe IndexedSeq(vA2, vB)
  }

  test("consistentCutN keeps a same-table multi-member transaction whole") {
    val (a, b) = initPair()
    val h0 = LakeTable.manifest(spark, a).version
    val hB = LakeTable.manifest(spark, b).version
    // one transaction, TWO members on table a (consecutive slots)
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 1.0)).toDF("fk", "amt"))
      t.merge(a, Seq((4L, 2.0)).toDF("fk", "amt"))
    }
    val vA = LakeTable.manifest(spark, a).version // the second member
    // a candidate covering only the FIRST member must clamp below it —
    // half a chain is a state the source never served
    LakeCdfSource.consistentCutN(spark, Seq(a, b), IndexedSeq(h0, hB),
      IndexedSeq(vA - 1, hB)) shouldBe IndexedSeq(h0, hB)
    // covering both members passes through unclamped
    LakeCdfSource.consistentCutN(spark, Seq(a, b), IndexedSeq(h0, hB),
      IndexedSeq(vA, hB)) shouldBe IndexedSeq(vA, hB)
  }

  test("mirrorTxnGroup: a THREE-table transaction arrives whole in every mirror or in none") {
    val (a, b) = initPair()
    val c = Files.createTempDirectory("graft-groupC").toString
    LakeTable.init(spark.range(3).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), c, Seq("bk"),
      numBuckets = 2)
    val tgts = Seq("A", "B", "C").map(x =>
      Files.createTempDirectory(s"graft-groupTgt$x").toString)
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgts(0), Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgts(1), Seq("dk"),
      numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), tgts(2), Seq("bk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-group-cp").toString
    def drain(): Unit = {
      val q = LakeStreaming.mirrorTxnGroup(spark,
        Seq((a, tgts(0)), (b, tgts(1)), (c, tgts(2))))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // bootstrap all three snapshots at one consistent cut
    LakeTable.read(spark, tgts(0)).count() shouldBe 20
    LakeTable.read(spark, tgts(1)).count() shouldBe 5
    LakeTable.read(spark, tgts(2)).count() shouldBe 3

    // one committed transaction touching ALL THREE tables
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
      t.merge(c, Seq((1L, "BRIDGED")).toDF("bk", "tag"))
    }
    // one aborted transaction staging poison into all three
    try graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((4L, -1e9)).toDF("fk", "amt"))
      t.merge(b, Seq((1L, "POISON")).toDF("dk", "seg"))
      t.merge(c, Seq((0L, "POISON")).toDF("bk", "tag"))
      sys.error("injected failure before commit")
    } catch { case _: RuntimeException => () }
    drain()
    LakeTable.read(spark, tgts(0)).filter(col("fk") === 3)
      .head().getDouble(1) shouldBe 999.0
    LakeTable.read(spark, tgts(1)).filter(col("dk") === 2)
      .head().getString(1) shouldBe "MOVED"
    LakeTable.read(spark, tgts(2)).filter(col("bk") === 1)
      .head().getString(1) shouldBe "BRIDGED"
    LakeTable.read(spark, tgts(0)).filter(col("amt") < 0).count() shouldBe 0
    LakeTable.read(spark, tgts(1)).filter(col("seg") === "POISON")
      .count() shouldBe 0
    LakeTable.read(spark, tgts(2)).filter(col("tag") === "POISON")
      .count() shouldBe 0
    // re-drain: exactly-once, nothing moves
    drain()
    LakeTable.read(spark, tgts(0)).count() shouldBe 20
    LakeTable.read(spark, tgts(2)).count() shouldBe 3
  }

  test("pair mirror: additive widening on one member reaches its replica across a restart") {
    // the PINNED-SCHEMA contract, spec-pinned: a running pair/group
    // stream serves the schema captured at its creation — a column added
    // mid-flight is conformed away until the stream restarts (checkpoint
    // recovery re-derives the schema from the tables' current manifests,
    // and the offsets are schema-independent versions). After restart the
    // widened span replays/continues WITH the column, and the batch
    // applier projects onto the SOURCE schema, so merge's additive
    // widening carries it into the replica — projecting onto the
    // target's schema (the pre-r13 bug) dropped it forever.
    val (a, b) = initPair()
    val tgtA = Files.createTempDirectory("graft-widenTgtA").toString
    val tgtB = Files.createTempDirectory("graft-widenTgtB").toString
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgtA, Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgtB, Seq("dk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-widen-cp").toString
    runMirrorTxn(a, tgtA, b, tgtB, cp) // bootstrap both snapshots
    LakeTable.read(spark, tgtA).columns.toSeq shouldBe Seq("fk", "amt")

    // additive widening on member A between triggers
    LakeTable.merge(spark, a, Seq((2L, 5.0, "wide")).toDF("fk", "amt", "note"))
    // restart = a fresh AvailableNow query on the SAME checkpoint: the
    // re-derived stream schema now carries `note`, the span replays
    // deterministically from the committed offset
    runMirrorTxn(a, tgtA, b, tgtB, cp)
    val mirA = LakeTable.read(spark, tgtA)
    mirA.columns should contain("note")
    mirA.filter(col("fk") === 2).head().getAs[String]("note") shouldBe "wide"
    // pre-widening rows surface the column as NULL, exactly like the
    // source's own reads of pre-widening files
    mirA.filter(col("fk") === 3).head().getAs[String]("note") shouldBe null
    // the other member is untouched, and a re-drain moves nothing
    LakeTable.read(spark, tgtB).count() shouldBe 5
    runMirrorTxn(a, tgtA, b, tgtB, cp)
    LakeTable.read(spark, tgtA).filter(col("note").isNotNull)
      .count() shouldBe 1
  }

  test("group mirror: additive widening on ONE member reaches its replica across a restart, the other two untouched") {
    // the N-root twin of the pair widening spec above: the group source re-derives every member's schema from its
    // CURRENT manifest at (re)creation, and the vector offsets are
    // schema-independent versions — so a restart replays the widened
    // member's span WITH the new column while the other members' spans
    // and replicas are untouched, and a transaction committed AFTER the
    // widening still lands atomically across all three mirrors.
    val (a, b) = initPair()
    val c = Files.createTempDirectory("graft-groupWidenC").toString
    LakeTable.init(spark.range(3).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), c, Seq("bk"),
      numBuckets = 2)
    val tgts = Seq("A", "B", "C").map(x =>
      Files.createTempDirectory(s"graft-groupWidenTgt$x").toString)
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgts(0), Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgts(1), Seq("dk"),
      numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), tgts(2), Seq("bk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-groupWiden-cp").toString
    def drainGroup(): Unit = {
      val q = LakeStreaming.mirrorTxnGroup(spark,
        Seq((a, tgts(0)), (b, tgts(1)), (c, tgts(2))))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainGroup() // bootstrap all three snapshots at one consistent cut
    LakeTable.read(spark, tgts(2)).columns.toSeq shouldBe Seq("bk", "tag")

    // additive widening on the BRIDGE member only, between triggers
    LakeTable.merge(spark, c,
      Seq((1L, "brWIDE", "routed")).toDF("bk", "tag", "via"))
    // plus a 3-table transaction committed AFTER the widening: the
    // widened member's txn leg must arrive with the column in scope
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 777.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
      t.merge(c, Seq((2L, "brTXN", "txn-leg")).toDF("bk", "tag", "via"))
    }
    // restart = a fresh AvailableNow query on the SAME checkpoint: the
    // group source re-derives member schemas, the vector offset replays
    // the widened span deterministically
    drainGroup()
    val mirC = LakeTable.read(spark, tgts(2))
    mirC.columns should contain("via")
    mirC.filter(col("bk") === 1).head().getAs[String]("via") shouldBe "routed"
    mirC.filter(col("bk") === 2).head().getAs[String]("via") shouldBe "txn-leg"
    // pre-widening rows surface the column as NULL, like the source's
    // own reads of pre-widening files
    mirC.filter(col("bk") === 0).head().getAs[String]("via") shouldBe null
    // the OTHER two members are untouched by the widening: their schemas
    // are their own, and their txn legs landed exactly once
    LakeTable.read(spark, tgts(0)).columns.toSeq shouldBe Seq("fk", "amt")
    LakeTable.read(spark, tgts(1)).columns.toSeq shouldBe Seq("dk", "seg")
    LakeTable.read(spark, tgts(0)).filter(col("fk") === 3)
      .head().getDouble(1) shouldBe 777.0
    LakeTable.read(spark, tgts(1)).filter(col("dk") === 2)
      .head().getString(1) shouldBe "MOVED"
    // re-drain: exactly-once, nothing moves anywhere
    drainGroup()
    LakeTable.read(spark, tgts(0)).count() shouldBe 20
    LakeTable.read(spark, tgts(1)).count() shouldBe 5
    LakeTable.read(spark, tgts(2)).count() shouldBe 3
    LakeTable.read(spark, tgts(2)).filter(col("via").isNotNull)
      .count() shouldBe 2
  }

  test("mirrorTxnGroup rate limit: a 3-table backlog drains as bounded spans, the txn whole") {
    val (a, b) = initPair()
    val c = Files.createTempDirectory("graft-groupRlC").toString
    LakeTable.init(spark.range(3).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), c, Seq("bk"),
      numBuckets = 2)
    val tgts = Seq("A", "B", "C").map(x =>
      Files.createTempDirectory(s"graft-groupRlTgt$x").toString)
    LakeTable.init(spark.range(0).select(col("id").alias("fk"),
      (col("id") * 1.0).alias("amt")), tgts(0), Seq("fk"), numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("dk"),
      concat(lit("seg"), col("id")).alias("seg")), tgts(1), Seq("dk"),
      numBuckets = 2)
    LakeTable.init(spark.range(0).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), tgts(2), Seq("bk"),
      numBuckets = 2)
    val cp = Files.createTempDirectory("graft-groupRl-cp").toString
    def drainCapped(): Unit = {
      val q = LakeStreaming.mirrorTxnGroup(spark,
        Seq((a, tgts(0)), (b, tgts(1)), (c, tgts(2))),
        maxVersionsPerTrigger = Some(1L))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainCapped() // bootstrap (uncapped single unit)
    // backlog: plain commits on every member plus one THREE-table txn
    LakeTable.merge(spark, a, Seq((1L, 11.0)).toDF("fk", "amt"))
    LakeTable.merge(spark, b, Seq((0L, "segX")).toDF("dk", "seg"))
    LakeTable.merge(spark, c, Seq((2L, "brX")).toDF("bk", "tag"))
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
      t.merge(c, Seq((1L, "BRIDGED")).toDF("bk", "tag"))
    }
    drainCapped() // rate-limited: several bounded spans, never a torn one
    LakeTable.read(spark, tgts(0)).filter(col("fk") === 3)
      .head().getDouble(1) shouldBe 999.0
    LakeTable.read(spark, tgts(1)).filter(col("dk") === 2)
      .head().getString(1) shouldBe "MOVED"
    LakeTable.read(spark, tgts(2)).filter(col("bk") === 1)
      .head().getString(1) shouldBe "BRIDGED"
    LakeTable.read(spark, tgts(0)).filter(col("fk") === 1)
      .head().getDouble(1) shouldBe 11.0
    LakeTable.read(spark, tgts(2)).filter(col("bk") === 2)
      .head().getString(1) shouldBe "brX"
  }

  test("consistentCutN clamps a 3-root candidate that would split a transaction on ANY axis") {
    val (a, b) = initPair()
    val c = Files.createTempDirectory("graft-cut3C").toString
    LakeTable.init(spark.range(3).select(col("id").alias("bk"),
      concat(lit("br"), col("id")).alias("tag")), c, Seq("bk"),
      numBuckets = 2)
    val h0 = IndexedSeq(a, b, c).map(r => LakeTable.manifest(spark, r).version)
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
      t.merge(c, Seq((1L, "BRIDGED")).toDF("bk", "tag"))
    }
    val h1 = IndexedSeq(a, b, c).map(r => LakeTable.manifest(spark, r).version)
    def cut(cand: IndexedSeq[Long]) =
      LakeCdfSource.consistentCutN(spark, Seq(a, b, c), h0, cand)
    // the THIRD member beyond its candidate clamps the other two below
    // their members — the tear a 2-root cut cannot see
    cut(IndexedSeq(h1(0), h1(1), h1(2) - 1)) shouldBe
      IndexedSeq(h1(0) - 1, h1(1) - 1, h1(2) - 1)
    // middle member behind: same, on the other axes
    cut(IndexedSeq(h1(0), h1(1) - 1, h1(2))) shouldBe
      IndexedSeq(h1(0) - 1, h1(1) - 1, h1(2) - 1)
    // all three inside: nothing clamps
    cut(h1) shouldBe h1
    // the 2-root cut over two of the three members sees no tear: the
    // third member's table is outside its roots
    LakeCdfSource.consistentCutN(spark, Seq(a, b), IndexedSeq(h0(0), h0(1)),
      IndexedSeq(h1(0), h1(1))) shouldBe IndexedSeq(h1(0), h1(1))
  }

  test("consistentCutN clamps onto a LIVE slot — never an aborted one getBatch can't serve") {
    val (a, b) = initPair()
    val h0A = LakeTable.manifest(spark, a).version
    val h0B = LakeTable.manifest(spark, b).version
    // a dead slot right below the transaction: the naive v-1 clamp target
    intercept[RuntimeException] {
      graft.sinks.LakeTxn.atomically(spark, a) { t =>
        t.merge(a, Seq((8L, 88.0)).toDF("fk", "amt"))
        sys.error("abort after staging")
      }
    }
    graft.sinks.LakeTxn.atomically(spark, a) { t =>
      t.merge(a, Seq((3L, 999.0)).toDF("fk", "amt"))
      t.merge(b, Seq((2L, "MOVED")).toDF("dk", "seg"))
    }
    val vA = LakeTable.manifest(spark, a).version
    val vB = LakeTable.manifest(spark, b).version
    vA shouldBe h0A + 2 // the aborted slot occupies h0A + 1
    // B's candidate excludes its member, so A clamps below vA — but slot
    // vA-1 is the ABORTED one: an offset there wedges the stream (the
    // checkpointed cut feeds changes()/read(), which demand liveness).
    // The clamp must walk down to the live slot below.
    val cut = LakeCdfSource.consistentCutN(spark,
      Seq(a, b), IndexedSeq(h0A, h0B), IndexedSeq(vA, vB - 1))
    cut shouldBe IndexedSeq(h0A, vB - 1)
    noException should be thrownBy
      LakeTable.manifest(spark, a, Some(cut(0)))
    // a rate cap hands the cut RAW slot numbers (prev + n) that can land
    // on the dead slot directly: the initial candidates normalize too
    LakeCdfSource.consistentCutN(spark,
      Seq(a, b), IndexedSeq(h0A - 1, h0B), IndexedSeq(h0A + 1, h0B))
      .shouldBe(IndexedSeq(h0A, h0B))
    // knownLive (r15): a candidate the poller already verified live
    // skips the direct probe — same cut, one less manifest/outcome read
    // per root per poll in the uncapped steady state. A candidate BELOW
    // the known-live head (rate cap) still normalizes via the probe.
    LakeCdfSource.consistentCutN(spark,
      Seq(a, b), IndexedSeq(h0A, h0B), IndexedSeq(vA, vB - 1),
      knownLive = IndexedSeq(vA, vB)) shouldBe IndexedSeq(h0A, vB - 1)
    LakeCdfSource.consistentCutN(spark,
      Seq(a, b), IndexedSeq(h0A - 1, h0B), IndexedSeq(h0A + 1, h0B),
      knownLive = IndexedSeq(vA, vB)) shouldBe IndexedSeq(h0A, h0B)
  }
}
