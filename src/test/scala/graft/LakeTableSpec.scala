package graft

import graft.sinks.LakeTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType}

class LakeTableSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot() =
    java.nio.file.Files.createTempDirectory("laketable").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Double)] =
    df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  private val base = Seq(
    (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0),
    (5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0), (8L, "h", 8.0)
  ).toDF("id", "name", "score")

  test("init + read round-trips; merge upserts and inserts; snapshot isolation holds") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    rows(LakeTable.read(spark, root)) shouldBe rows(base)

    val delta = Seq((2L, "B!", 20.0), (9L, "i", 9.0)).toDF("id", "name", "score")
    val v = LakeTable.merge(spark, root, delta)
    v shouldBe 1L
    val after = rows(LakeTable.read(spark, root))
    after(2L) shouldBe ("B!", 20.0)
    after(9L) shouldBe ("i", 9.0)
    after(5L) shouldBe ("e", 5.0)
    after.size shouldBe 9
    // time travel: version 0 still serves the pre-merge table
    rows(LakeTable.read(spark, root, Some(0L))) shouldBe rows(base)
  }

  test("copy-on-write: untouched buckets' files are carried by PATH, not rewritten") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val m0 = LakeTable.manifest(spark, root)
    LakeTable.merge(spark, root, Seq((1L, "A!", 10.0)).toDF("id", "name", "score"))
    val m1 = LakeTable.manifest(spark, root)
    val touched = m0.files.map(_._2).toSet -- m1.files.map(_._2).toSet // none vanish
    touched shouldBe Set.empty
    val b1 = Seq(1L).toDF("id")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"id"),
        org.apache.spark.sql.functions.lit(4))).head().getInt(0)
    val (hot0, cold0) = m0.files.partition(_._2 == b1)
    val (hot1, cold1) = m1.files.partition(_._2 == b1)
    cold1.toSet shouldBe cold0.toSet    // identical paths: files shared, not copied
    hot1.toSet.intersect(hot0.toSet) shouldBe Set.empty // hot bucket fully replaced
  }

  test("delete removes keyed rows via the same touched-bucket path") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    LakeTable.delete(spark, root, Seq(3L, 7L).toDF("id"))
    val after = rows(LakeTable.read(spark, root))
    after.keySet shouldBe Set(1L, 2L, 4L, 5L, 6L, 8L)
  }

  test("re-running the same merge converges (crash-retry safety)") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val delta = Seq((2L, "B!", 20.0), (9L, "i", 9.0)).toDF("id", "name", "score")
    LakeTable.merge(spark, root, delta)
    val once = rows(LakeTable.read(spark, root))
    LakeTable.merge(spark, root, delta) // the retry
    rows(LakeTable.read(spark, root)) shouldBe once
  }

  test("unpublished data files are invisible; vacuum reclaims them and old versions") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    // simulate a crash AFTER data files landed, BEFORE the manifest rename:
    // a poisoned row in an unreferenced UUID dir must never surface
    Seq((99L, "zz", 99.0)).toDF("id", "name", "score")
      .withColumn("__bucket", org.apache.spark.sql.functions.lit(0))
      .write.partitionBy("__bucket")
      .parquet(s"$root/data/dead-beef-orphan")
    rows(LakeTable.read(spark, root)).keySet should not contain 99L

    LakeTable.merge(spark, root, Seq((1L, "A!", 10.0)).toDF("id", "name", "score"))
    LakeTable.merge(spark, root, Seq((2L, "B!", 20.0)).toDF("id", "name", "score"))
    val latest = rows(LakeTable.read(spark, root))
    val removed = LakeTable.vacuum(spark, root, keepLast = 1)
    removed should not be empty
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    LakeTable.versions(fs, root) shouldBe Seq(2L)
    // the orphan dir is gone, the surviving version reads bit-identically
    fs.exists(new Path(s"$root/data/dead-beef-orphan")) shouldBe false
    rows(LakeTable.read(spark, root)) shouldBe latest
  }

  test("merge ties: orderCol picks the winner among same-key delta rows") {
    val root = newRoot()
    LakeTable.init(Seq((1L, "a", 1.0)).toDF("id", "name", "score"),
      root, Seq("id"), numBuckets = 2)
    val delta = Seq((1L, "late", 5.0), (1L, "early", 2.0)).toDF("id", "name", "score")
    LakeTable.merge(spark, root, delta, orderCol = Some("score"))
    rows(LakeTable.read(spark, root))(1L) shouldBe ("late", 5.0)
  }

  test("vacuumOlderThan keeps the trailing-window versions plus the head") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)
    LakeTable.merge(spark, root, Seq((1L, "A!", 10.0)).toDF("id", "name", "score"))
    Thread.sleep(25)
    val windowStart = System.currentTimeMillis
    LakeTable.merge(spark, root, Seq((2L, "B!", 20.0)).toDF("id", "name", "score"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single-writer single-clock lifecycle: the skew margin is an
    // operator knob and 0 gives the exact window (the default 5 min
    // margin would rightly keep these milliseconds-old versions)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.lake.vacuumClockSkewMs", 0L)
    try {
      // window covers only v2 -> v0/v1 vacuumed, head kept
      LakeTable.vacuumOlderThan(spark, root,
        System.currentTimeMillis - windowStart)
      LakeTable.versions(fs, root) shouldBe Seq(2L)
      rows(LakeTable.read(spark, root)).keySet should contain allOf (1L, 2L)
      // a zero window still keeps the head (never vacuums the table away)
      LakeTable.vacuumOlderThan(spark, root, 0L)
      LakeTable.versions(fs, root) shouldBe Seq(2L)
    } finally conf.unset("graft.lake.vacuumClockSkewMs")
  }

  test("fastCount answers from metadata when exact, declines when it can't") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4,
      statsCols = Seq("score"))
    LakeTable.fastCount(spark, root) shouldBe Some(8L)
    LakeTable.merge(spark, root,
      Seq((9L, "i", 9.0), (2L, "B!", 20.0)).toDF("id", "name", "score"))
    LakeTable.fastCount(spark, root) shouldBe Some(9L)     // carried + fresh
    LakeTable.fastCount(spark, root, Some(0L)) shouldBe Some(8L) // time travel
    // outstanding deletion vectors make metadata inexact -> decline
    LakeTable.deleteMor(spark, root, Seq(1L).toDF("id"))
    LakeTable.fastCount(spark, root) shouldBe None
    // folding the vectors restores the metadata answer
    LakeTable.compactDeletes(spark, root)
    LakeTable.fastCount(spark, root) shouldBe Some(8L)
    // a table with no stats sidecar never pretends
    val bare = newRoot()
    LakeTable.init(base, bare, Seq("id"), numBuckets = 2)
    LakeTable.fastCount(spark, bare) shouldBe None
    // a bloom-only table answers too: the single metadata pass counts
    // rows whenever ANY indexed column is declared
    val bloomy = newRoot()
    LakeTable.init(base, bloomy, Seq("id"), numBuckets = 2,
      bloomCols = Seq("name"))
    LakeTable.fastCount(spark, bloomy) shouldBe Some(8L)
    // and it answers from the MANIFEST's ref totals alone — with every
    // segment file moved aside (and the parse cache dropped), the count
    // still serves while an actual read would fail: zero segment loads,
    // the COUNT(*) contract at 10⁷ files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new Path(root, "_segments"), new Path(root, "_segments_aside"))
    LakeTable.clearSegmentCache()
    LakeTable.fastCount(spark, root) shouldBe Some(8L)
    fs.rename(new Path(root, "_segments_aside"), new Path(root, "_segments"))
  }

  test("readForJoin: file-length metadata decides broadcast vs shuffle join") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)
    // tableBytes agrees with a direct FS walk of the live files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = LakeTable.manifest(spark, root)
    val walked = m.files.map(f =>
      fs.getFileStatus(new Path(root, f._1)).getLen).sum
    LakeTable.tableBytes(spark, root) shouldBe walked
    walked should be > 0L

    val other = spark.range(0, 1000).select(col("id"), lit("x").alias("tag"))
    def planOf(dim: org.apache.spark.sql.DataFrame): String =
      other.join(dim, "id").queryExecution.executedPlan.toString
    // under the threshold: broadcast-hinted regardless of planner stats
    planOf(LakeTable.readForJoin(spark, root)) should
      include ("BroadcastHashJoin")
    // a zero threshold never broadcasts from the hint (the tiny test scan
    // may still auto-broadcast, so pin the hint itself instead)
    LakeTable.readForJoin(spark, root, thresholdBytes = 0L)
      .queryExecution.logical.toString should not include "Hint broadcast"
    LakeTable.readForJoin(spark, root)
      .queryExecution.logical.toString should include ("Hint broadcast")
  }

  test("fastNdv: metadata-only NDV from unioned per-file sketches, declines when inexact") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4,
      ndvCols = Seq("name", "score"))
    // HLL is EXACT at these cardinalities (sparse mode far below 2^12)
    LakeTable.fastNdv(spark, root, "name") shouldBe Some(8L)
    LakeTable.fastNdv(spark, root, "score") shouldBe Some(8L)
    // delta: insert 9/"i", update 2 -> "B!". Copy-on-write rewrites the
    // touched buckets (their fresh files are re-sketched), untouched
    // buckets carry their sketches by path — NDV tracks LIVE data
    LakeTable.merge(spark, root,
      Seq((9L, "i", 9.0), (2L, "B!", 2.0)).toDF("id", "name", "score"))
    LakeTable.fastNdv(spark, root, "name") shouldBe Some(9L)  // a,B!,c..h,i
    LakeTable.fastNdv(spark, root, "score") shouldBe Some(9L) // 1..9
    // time travel reads the old sidecar
    LakeTable.fastNdv(spark, root, "name", Some(0L)) shouldBe Some(8L)
    // a column not declared in ndvCols declines
    LakeTable.fastNdv(spark, root, "id") shouldBe None
    // outstanding deletion vectors: deleted rows are still in the
    // sketches -> decline; folding them in restores the answer
    LakeTable.deleteMor(spark, root, Seq(9L).toDF("id"))
    LakeTable.fastNdv(spark, root, "name") shouldBe None
    LakeTable.compactDeletes(spark, root)
    LakeTable.fastNdv(spark, root, "name") shouldBe Some(8L)  // "i" gone
    // a bare table (no ndvCols) never pretends
    val bare = newRoot()
    LakeTable.init(base, bare, Seq("id"), numBuckets = 2)
    LakeTable.fastNdv(spark, bare, "name") shouldBe None
  }

  test("fastNdv r15: O(refs) manifest fold — zero segment parses; pre-r15 refs fall back") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4,
      ndvCols = Seq("name", "score"))
    // a delta commit: the touched refs shrink (merged sketches
    // recomputed over kept entries), untouched refs carry theirs
    LakeTable.merge(spark, root,
      Seq((9L, "i", 9.0), (2L, "B!", 2.0)).toDF("id", "name", "score"))
    // PHYSICAL proof the ask is manifest-only: hide the whole segment
    // plane and drop the parse cache — the answer must not change,
    // because the per-ref merged sketches live in the manifest
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new Path(root, "_segments"), new Path(root, "_segments_aside"))
    LakeTable.clearSegmentCache()
    LakeTable.fastNdv(spark, root, "name") shouldBe Some(9L)
    LakeTable.fastNdv(spark, root, "score") shouldBe Some(9L)
    // the hook pins the fold shape: refs folded, ZERO entries resolved
    val (folded, resolved) = LakeTable.lastNdvRefs.get
    folded should be > 0
    resolved shouldBe 0
    fs.rename(new Path(root, "_segments_aside"), new Path(root, "_segments"))
    // a pre-r15 manifest (refs without merged sketches) forces the
    // entry-resolving path: strip the "sk" arrays from the head
    // manifest on disk and re-ask — same answer, degraded shape
    val head = LakeTable.manifest(spark, root).version
    val mp = new Path(root, s"_versions/$head.json")
    val raw = { val in = fs.open(mp)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close() }
    raw should include (""""sk":[""")
    val stripped = raw.replaceAll(""""sk":\[[^\]]*\],""", "")
    fs.delete(mp, false)
    val out = fs.create(mp)
    try out.write(stripped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    LakeTable.fastNdv(spark, root, "name") shouldBe Some(9L)
    LakeTable.lastNdvRefs.get._2 should be > 0 // entry path ran
  }

  test("timestamp time travel: readAsOf pins the snapshot live at the cutoff") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    Thread.sleep(5)
    val afterInit = System.currentTimeMillis
    Thread.sleep(5)
    LakeTable.merge(spark, root, Seq((2L, "B!", 20.0)).toDF("id", "name", "score"))
    // a cutoff between the two publishes resolves to v0 content
    LakeTable.versionAsOf(spark, root, afterInit) shouldBe 0L
    rows(LakeTable.readAsOf(spark, root, afterInit)) shouldBe rows(base)
    // "now" resolves to the head
    rows(LakeTable.readAsOf(spark, root, System.currentTimeMillis))(2L) shouldBe
      ("B!", 20.0)
    // before the table existed: loud failure, not an empty frame
    an[IllegalArgumentException] should be thrownBy
      LakeTable.versionAsOf(spark, root, 0L)
  }

  test("versionAsOf walks newest first: the same slot as filter-all-then-max over aborted and undecided txn slots") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)            // v0
    LakeTable.merge(spark, root,
      Seq((11L, "A", 1.0)).toDF("id", "name", "score"))              // v1
    try graft.sinks.LakeTxn.atomically(spark, root) { t =>
      t.merge(root, Seq((12L, "P", -1.0)).toDF("id", "name", "score"))
      sys.error("injected failure before commit")
    } catch { case _: RuntimeException => () }                       // v2 aborted
    LakeTable.merge(spark, root,
      Seq((13L, "C", 3.0)).toDF("id", "name", "score"))              // v3
    LakeTable.mergeTagged(spark, root,
      Seq((14L, "G", 4.0)).toDF("id", "name", "score"), None,
      Some(root + "/_txn/ghost-never-committed.json"))               // v4 undecided
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    LakeTable.versions(fs, root) shouldBe Seq(0L, 1L, 2L, 3L, 4L)
    def stamp(v: Long, ts: Long): Unit = {
      val p = new Path(root, s"_versions/$v.json")
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(s.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val t0 = 1000000L
    (0L to 4L).foreach(v => stamp(v, t0 + 10 * v))
    // the reference rule: open every slot, keep the largest eligible one
    def reference(asOf: Long): Option[Long] = LakeTable.versions(fs, root).filter { v =>
      val o = graft.sinks.MetaFile.read(fs, new Path(root, s"_versions/$v.json"))
      graft.sinks.MetaFile.num(o, "ts") <= asOf && LakeTable.liveOf(spark, LakeTable.manifestAt(spark, root, v))
    }.maxOption
    reference(t0 + 25) shouldBe Some(1L) // the aborted v2 is skipped
    reference(t0 + 45) shouldBe Some(3L) // the undecided v4 is skipped
    (t0 - 1 to t0 + 45).foreach { asOf =>
      withClue(s"asOf=$asOf: ") {
        reference(asOf) match {
          case Some(v) => LakeTable.versionAsOf(spark, root, asOf) shouldBe v
          case None => an[IllegalArgumentException] should be thrownBy
              LakeTable.versionAsOf(spark, root, asOf)
        }
      }
    }
  }

  test("bloom sidecar: scan equality is exact and opens fewer files") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = newRoot()
    // 4k rows, 8 buckets × rolled files; `name` is a non-key, non-clustered
    // high-cardinality column (500 distinct values, ~8 rows each)
    val big = spark.range(4096).select(col("id"),
      concat(lit("user-"), (col("id") % 500).cast("string")).alias("name"),
      (col("id") * 1.5).alias("score"))
    LakeTable.init(big, root, Seq("id"), numBuckets = 8,
      maxRecordsPerFile = 256L, bloomCols = Seq("name"))
    val m = LakeTable.manifest(spark, root)
    def byName(v: String) = LakeTable.scan(spark, root).filter(col("name") === v)
    val pruned = keptFiles(byName("user-123"))
    // ~16 of 4096/256=16+ files can contain 8 rows of one value; the bloom
    // must keep all true-positive files and skip most of the rest
    pruned.size should be < m.files.size
    val got = byName("user-123")
      .select("id").collect().map(_.getLong(0)).toSet
    got shouldBe (0L until 4096L).filter(_ % 500 == 123).toSet

    // a merge re-measures ONLY the rewritten bucket's files; carried files
    // keep their blooms, and the probe stays exact across the delivery
    LakeTable.merge(spark, root,
      Seq((123L, "fresh-value", 0.0)).toDF("id", "name", "score"))
    byName("fresh-value")
      .select("id").collect().map(_.getLong(0)).toSet shouldBe Set(123L)
    val after = byName("user-123")
      .select("id").collect().map(_.getLong(0)).toSet
    after shouldBe ((0L until 4096L).filter(_ % 500 == 123).toSet - 123L)

    // a value that never existed prunes everything (no false-positive rows)
    byName("user-99999").count() shouldBe 0L
  }

  test("fsck: clean table ok; missing referenced file flagged; orphan debris found then vacuumed") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = newRoot()
    val df = spark.range(100).select(col("id"), (col("id") * 2.0).alias("v"))
    LakeTable.init(df, root, Seq("id"), numBuckets = 4,
      statsCols = Seq("v"))
    LakeTable.merge(spark, root,
      spark.range(5).select(col("id"), lit(0.0).alias("v")))
    val clean = LakeTable.fsck(spark, root)
    clean.ok shouldBe true
    clean.missingFiles shouldBe empty
    clean.orphanFiles shouldBe empty
    clean.statsGaps shouldBe empty

    // plant crash debris: a stray parquet in a fresh UUID dir, never
    // referenced by any manifest → ORPHAN warning, table still ok
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val strayDir = new org.apache.hadoop.fs.Path(root,
      "data/deadbeef-stray/__bucket=0")
    fs.mkdirs(strayDir)
    fs.create(new org.apache.hadoop.fs.Path(strayDir, "part-junk.parquet"),
      true).close()
    val withOrphan = LakeTable.fsck(spark, root)
    withOrphan.ok shouldBe true
    withOrphan.orphanFiles should have size 1
    withOrphan.orphanFiles.head should include("deadbeef-stray")
    // vacuum reclaims the debris; fsck converges back to clean
    LakeTable.vacuum(spark, root, keepLast = 10)
    LakeTable.fsck(spark, root).orphanFiles shouldBe empty

    // delete a referenced data file out from under the table → MISSING,
    // the one condition that breaks reads, and ok flips false
    val victim = LakeTable.manifest(spark, root).files.head._1
    fs.delete(new org.apache.hadoop.fs.Path(root, victim), false)
    val broken = LakeTable.fsck(spark, root)
    broken.ok shouldBe false
    broken.missingFiles should contain(victim)
  }

  test("IN filters prune by the sidecar union; uncovered keeps all") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = newRoot()
    val big = spark.range(4096).select(col("id"),
      concat(lit("user-"), (col("id") % 500).cast("string")).alias("name"),
      (col("id") * 1.5).alias("score"))
    LakeTable.init(big, root, Seq("id"), numBuckets = 8,
      maxRecordsPerFile = 256L, bloomCols = Seq("name"))
    val m = LakeTable.manifest(spark, root)
    def byNames(vs: Seq[String]) =
      LakeTable.scan(spark, root).filter(col("name").isin(vs: _*))
    val vals = Seq("user-123", "user-7", "user-99999")
    // pruned union keeps every true-positive file, skips most others
    val pruned = keptFiles(byNames(vals))
    pruned.size should be < m.files.size
    vals.take(2).foreach { v =>
      keptFiles(byNames(Seq(v))).foreach(p => pruned should contain(p))
    }
    val got = byNames(vals)
      .select("id").collect().map(_.getLong(0)).toSet
    got shouldBe (0L until 4096L)
      .filter(i => i % 500 == 123 || i % 500 == 7).toSet
    // empty probe set: zero files, zero rows
    keptFiles(byNames(Nil)) shouldBe empty
    byNames(Nil).count() shouldBe 0L
    // a column with no sidecar coverage keeps every live file: the
    // filter stays exact, only unpruned
    keptFiles(LakeTable.scan(spark, root).filter(col("score") === 1.5))
      .size shouldBe m.files.size
  }

  test("optimizeZOrder: box probes prune on EVERY z column; content and history intact") {
    import org.apache.spark.sql.functions.col
    val root = newRoot()
    // a 64x64 grid, one bucket, rolled into 16 files. The initial layout
    // sorts on x alone: every file then spans the FULL y range, so a
    // y-only (or y-selective box) probe cannot prune at all.
    val grid = spark.range(4096).select(col("id"),
      (col("id") % 64).alias("x"),
      org.apache.spark.sql.functions.shiftright(col("id"), 6).alias("y"))
    LakeTable.init(grid, root, Seq("id"), numBuckets = 1,
      sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 256L)
    val live = LakeTable.manifest(spark, root).files.size
    live shouldBe 16
    def boxScan() = LakeTable.scan(spark, root)
      .filter(col("x").between(0, 15) && col("y").between(0, 15))
    def boxRows() = boxScan()
      .select("id").collect().map(_.getLong(0)).toSet
    val want = (0L until 4096L)
      .filter(i => i % 64 <= 15 && i / 64 <= 15).toSet
    boxRows() shouldBe want
    // x-sorted layout: the y predicate prunes nothing beyond x's files
    val xOnly = keptFiles(boxScan()).size

    val v = LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    // content identical, old layout still readable via time travel
    LakeTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet shouldBe (0L until 4096L).toSet
    LakeTable.read(spark, root, Some(v - 1)).count() shouldBe 4096L
    // the box now opens a small corner of the z space — strictly fewer
    // files than the x-sorted layout needed, and far under the live set
    boxRows() shouldBe want
    keptFiles(boxScan())
    val (opened, total) = LakeTable.lastIndexScan.get
    total shouldBe LakeTable.manifest(spark, root).files.size
    opened should be < xOnly
    opened.toDouble should be <= total / 2.0
    // a y-ONLY slice also prunes now (impossible under the x sort)
    val ySlice = LakeTable.scan(spark, root).filter(col("y").between(0, 7))
    ySlice.count() shouldBe 512L
    keptFiles(ySlice).size should be < total
    // misuse fails loudly: z columns must have zone maps to prune by
    an[IllegalArgumentException] should be thrownBy
      LakeTable.optimizeZOrder(spark, root, Seq("x", "id"))
    // and the table stays maintainable after the rewrite
    LakeTable.merge(spark, root,
      spark.range(4096, 4100).select(col("id"),
        (col("id") % 64).alias("x"),
        org.apache.spark.sql.functions.shiftright(col("id"), 6).alias("y")))
    LakeTable.read(spark, root).count() shouldBe 4100L
  }

  test("optimizeZOrderIncremental: untouched buckets carry by path, dv'd buckets fold, no-op when tight") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftright}
    val root = newRoot()
    def grid(r: org.apache.spark.sql.DataFrame) = r.select(col("id"),
      (col("id") % 64).alias("x"), shiftright(col("id"), 6).alias("y"))
    LakeTable.init(grid(spark.range(4096).toDF("id")), root, Seq("id"),
      numBuckets = 4, sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 256L)
    // no marker yet: the incremental pass refuses, naming the full one
    an[RuntimeException] should be thrownBy
      LakeTable.optimizeZOrderIncremental(spark, root)
    val v1 = LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    // already tight: no-op, no version published
    LakeTable.optimizeZOrderIncremental(spark, root) shouldBe v1
    val zFiles = LakeTable.manifest(spark, root).files
    // a delivery confined to ONE bucket (keys pre-filtered on the same
    // hash the table buckets by) plus a MoR delete in that same bucket
    val ins = grid(spark.range(4096, 5120).toDF("id"))
      .filter(pmod(hash(col("id")), lit(4)) === 1)
    val insIds = ins.select("id").collect().map(_.getLong(0)).toSet
    insIds should not be empty
    LakeTable.merge(spark, root, ins)
    val delIds = spark.range(4096).toDF("id")
      .filter(pmod(hash(col("id")), lit(4)) === 1).limit(16)
      .select("id").collect().map(_.getLong(0)).toSet
    LakeTable.deleteMor(spark, root, delIds.toSeq.toDF("id"))
    val v2 = LakeTable.optimizeZOrderIncremental(spark, root)
    val m2 = LakeTable.manifest(spark, root)
    m2.version shouldBe v2
    m2.dvFiles shouldBe empty
    // buckets 0/2/3 never went z-stale: their files carried BY PATH
    val carried = zFiles.filter(_._2 != 1)
    carried should not be empty
    carried.foreach(f => m2.files should contain(f))
    // content exact: inserts present, deletes gone
    val want = ((0L until 4096L).toSet ++ insIds) -- delIds
    LakeTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet shouldBe want
    // box probes still prune through the maintained zone maps
    val box = LakeTable.scan(spark, root)
      .filter(col("x").between(0, 15) && col("y").between(0, 15))
    box.select("id").collect().map(_.getLong(0)).toSet shouldBe
      want.filter(i => i % 64 <= 15 && (i >> 6) <= 15)
    keptFiles(box).size should be < m2.files.size
    // tight again: no-op
    LakeTable.optimizeZOrderIncremental(spark, root) shouldBe v2
    // the marker chain head survives vacuum even when ITS version leaves
    // retention (it is a chain head, not per-version state)
    LakeTable.merge(spark, root, grid(spark.range(5120, 5200).toDF("id")))
    LakeTable.vacuum(spark, root, 1)
    val v4 = LakeTable.optimizeZOrderIncremental(spark, root)
    v4 should be > v2
    LakeTable.read(spark, root).count() shouldBe (want.size + 80L)
    // maintenance is layout-preserving: folding a MoR delete rewrites
    // its bucket Z-SORTED under the frozen axes and joins the marker —
    // the incremental pass then has nothing left to do
    LakeTable.deleteMor(spark, root, Seq(5150L).toDF("id"))
    LakeTable.compactDeletes(spark, root)
    val v5 = LakeTable.manifest(spark, root).version
    LakeTable.optimizeZOrderIncremental(spark, root) shouldBe v5
    LakeTable.read(spark, root).count() shouldBe (want.size + 79L)
  }

  test("optimizeZOrderAuto re-bootstraps when the distribution leaves the frozen axes behind") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftright}
    val root = newRoot()
    def grid(r: org.apache.spark.sql.DataFrame, xScale: Long) = r.select(
      col("id"), (col("id") % 64 * xScale).alias("x"),
      shiftright(col("id"), 6).alias("y"))
    LakeTable.init(grid(spark.range(4096).toDF("id"), 1L), root, Seq("id"),
      numBuckets = 2, sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 256L)
    LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    // an IN-RANGE bucket-confined delivery: auto takes the O(delta)
    // incremental path — the untouched bucket's z files carry by path
    val zf1 = LakeTable.manifest(spark, root).files
    LakeTable.merge(spark, root, grid(spark.range(4096, 4160).toDF("id"), 1L)
      .filter(pmod(hash(col("id")), lit(2)) === 1))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y"))
    val m1 = LakeTable.manifest(spark, root)
    val carried = zf1.filter(_._2 == 0)
    carried should not be empty
    carried.foreach(f => m1.files should contain(f))
    // a delivery 100x beyond the axes: auto detects the drift from the
    // zone maps alone and re-bootstraps — a FULL re-lay, nothing carries
    LakeTable.merge(spark, root, grid(spark.range(8192, 8256).toDF("id"), 100L))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y"))
    val m2 = LakeTable.manifest(spark, root)
    m1.files.toSet.intersect(m2.files.toSet) shouldBe empty
    // the refreshed axes serve the widened space: a box over the far end
    // answers exactly and still prunes
    val far = LakeTable.scan(spark, root)
      .filter(col("x").between(3000, 6300) && col("y").between(128, 129))
    far.collect().map(_.getLong(0)).toSet shouldBe
      (8192L until 8256L).filter(i => i % 64 * 100 >= 3000 &&
        (i >> 6) >= 128 && (i >> 6) <= 129).toSet
    keptFiles(far).size should be < m2.files.size
    // and auto is back on the incremental path under the new axes
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y")) shouldBe
      m2.version
  }

  test("z-marker crash window: manifest published, marker write lost — the next auto pass converges") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftright}
    val root = newRoot()
    def grid(r: org.apache.spark.sql.DataFrame) = r.select(col("id"),
      (col("id") % 64).alias("x"), shiftright(col("id"), 6).alias("y"))
    def killMarker(v: Long): Unit = {
      val p = java.nio.file.Paths.get(root, "_zorder", s"$v.json")
      assert(java.nio.file.Files.deleteIfExists(p), s"no marker at v$v")
    }
    def ids() = LakeTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet
    LakeTable.init(grid(spark.range(4096).toDF("id")), root, Seq("id"),
      numBuckets = 2, sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 256L)
    // CASE 1 — the FIRST optimize dies between publish(manifest) and
    // writeZMarker: the data is live and z-sorted but no marker exists.
    // Zone maps are per-version sidecars published BEFORE the marker, so
    // box reads stay exact (and still prune — the files ARE z-laid);
    // the auto pass simply re-bootstraps.
    val v1 = LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    killMarker(v1)
    val want0 = (0L until 4096L).toSet
    val box = LakeTable.scan(spark, root)
      .filter(col("x").between(0, 15) && col("y").between(0, 15))
    box.select("id").collect().map(_.getLong(0)).toSet shouldBe
      want0.filter(i => i % 64 <= 15 && (i >> 6) <= 15)
    keptFiles(box).size should be <
      LakeTable.manifest(spark, root).files.size
    val v2 = LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y"))
    v2 should be > v1
    ids() shouldBe want0
    // recovered: tight table, auto is a no-op again
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y")) shouldBe v2
    // CASE 2 — the INCREMENTAL pass has NO such window anymore: the
    // tightness stamps ride the atomic manifest commit itself (segment
    // entries, [[SegEntry.zg]]), so there is no second marker write to
    // lose — the newest marker stays the bootstrap's O(1) layout record
    // and the chain is convergent by construction.
    val zf = LakeTable.manifest(spark, root).files
    LakeTable.merge(spark, root, grid(spark.range(4096, 4160).toDF("id"))
      .filter(pmod(hash(col("id")), lit(2)) === 1))
    val v3 = LakeTable.optimizeZOrderIncremental(spark, root)
    v3 should be > v2
    // nothing landed under _zorder for v3 — nothing a crash could lose
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_zorder", s"$v3.json")) shouldBe false
    // bucket 0 never went stale: carried by path, stamps intact
    val cold = zf.filter(_._2 == 0)
    cold should not be empty
    cold.foreach(f => LakeTable.manifest(spark, root).files should contain(f))
    val want1 = want0 ++ grid(spark.range(4096, 4160).toDF("id"))
      .filter(pmod(hash(col("id")), lit(2)) === 1)
      .select("id").collect().map(_.getLong(0))
    ids() shouldBe want1
    // tight: auto is a no-op — the commit-resident stamps ARE the state
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y")) shouldBe v3
    // CASE 3 — a MAINTENANCE rewrite (layout-preserving compactDeletes)
    // also stamps its z-sorted output inside its own atomic commit: no
    // trailing carryZMarker write exists to lose (pre-r14 this was a
    // real crash window — stale marker, one recovery rewrite), and the
    // compacted table is immediately tight
    LakeTable.deleteMor(spark, root, Seq(10L, 20L).toDF("id"))
    val v5 = LakeTable.compactDeletes(spark, root)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_zorder", s"$v5.json")) shouldBe false
    ids() shouldBe (want1 - 10L - 20L)
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y")) shouldBe v5
  }

  test("z layout is segment-resident: O(1) marker, ref-local incremental derivation, verbatim tight refs") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftright}
    val root = newRoot()
    def grid(r: org.apache.spark.sql.DataFrame) = r.select(col("id"),
      (col("id") % 64).alias("x"), shiftright(col("id"), 6).alias("y"))
    LakeTable.init(grid(spark.range(4096).toDF("id")), root, Seq("id"),
      numBuckets = 4, sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 256L)
    val v1 = LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    // the marker names the LAYOUT, not the files — O(1) bytes at any
    // table size (the pre-r14 form listed every z-tight file)
    val mkJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_zorder", s"$v1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    mkJson should include(""""gen":""")
    mkJson should include(""""files":[]""")
    // every fresh ref is wholly stamped: the manifest carries the
    // tightness summary (zg) the next pass skips whole refs with
    LakeTable.manifest(spark, root).segments.foreach(_.zg shouldBe v1)
    // a one-bucket delivery: the incremental pass parses ONLY the
    // delivery's ref — the init ref never loads (no dv'd bucket), and
    // the commit republishes it VERBATIM on the same attestation
    val ins = grid(spark.range(4096, 5120).toDF("id"))
      .filter(pmod(hash(col("id")), lit(4)) === 1)
    LakeTable.merge(spark, root, ins)
    val v2 = LakeTable.optimizeZOrderIncremental(spark, root)
    LakeTable.lastZIncrRefs shouldBe Some((1, 1)) // (parsed, skipped)
    LakeTable.lastCommitRefs shouldBe Some((1, 1)) // (shrunk, verbatim)
    // the re-laid delivery joined the stamped set inside that one commit
    LakeTable.manifest(spark, root).segments.foreach(_.zg shouldBe v1)
    // steady state: everything tight, NOTHING parses, no-op
    LakeTable.optimizeZOrderIncremental(spark, root) shouldBe v2
    LakeTable.lastZIncrRefs shouldBe Some((0, 2))
    // content stayed exact throughout
    val want = (0L until 4096L).toSet ++
      ins.select("id").collect().map(_.getLong(0)).toSet
    LakeTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet shouldBe want
    // and the clone carries the layout as the same O(1) record: the
    // copied entries keep their stamps, so the branch's first
    // incremental pass is ref-local too (and a no-op: all tight)
    val dst = newRoot() + "-clone"
    LakeTable.cloneShallow(spark, root, dst)
    LakeTable.optimizeZOrderIncremental(spark, dst) shouldBe 0L
    // the clone's one commit consolidated the entries into one ref —
    // wholly stamped, so nothing parses there either
    LakeTable.lastZIncrRefs shouldBe Some((0, 1))
  }

  test("axes drift is still detected when a declined-tie ref summary hides the extremum") {
    import org.apache.spark.sql.functions.col
    val root = newRoot()
    def gridOf(r: org.apache.spark.sql.DataFrame) = r.select(col("id"),
      col("id").alias("x"), (col("id") % 8).alias("y"))
    LakeTable.init(gridOf(spark.range(101).toDF("id")), root, Seq("id"),
      numBuckets = 1, sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 1L)
    LakeTable.optimizeZOrder(spark, root, Seq("x", "y")) // axes x:[0,100]
    val m1 = LakeTable.manifest(spark, root)
    // a delivery whose two per-file maxes are 2^53 and 2^53+1: distinct
    // longs whose double views compare 0, so the delivery ref's EXACT
    // max summary declines (None) — the manifest alone no longer shows
    // the table's true extremum, though it is ~9e13x past the axis
    LakeTable.merge(spark, root, gridOf(
      Seq(9007199254740992L, 9007199254740993L).toDF("id")))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y"))
    // the summary gap forced the drift check down to the entry path
    // (folding only the covered refs would have reported hi=100, no
    // drift, and quietly clamped all future data into one boundary
    // bucket) — detected, so auto re-bootstrapped: nothing carried
    LakeTable.lastDriftExact shouldBe Some(false)
    val m2 = LakeTable.manifest(spark, root)
    m1.files.toSet.intersect(m2.files.toSet) shouldBe empty
    // refreshed axes cover the new extremum: the tight table is a no-op
    // again (the tie still declines the summary, so the check keeps
    // using the entry path — slower but never wrong)
    LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y")) shouldBe
      m2.version
    LakeTable.read(spark, root).count() shouldBe 103L
  }

  test("optimizeZOrderAuto survives alterIndexing re-declaring statsCols under a live marker") {
    import org.apache.spark.sql.functions.{col, shiftright}
    val root = newRoot()
    val grid = spark.range(4096).select(col("id"),
      (col("id") % 64).alias("x"), shiftright(col("id"), 6).alias("y"))
    LakeTable.init(grid, root, Seq("id"), numBuckets = 2,
      sortCols = Seq("x"), statsCols = Seq("x", "y"),
      maxRecordsPerFile = 512L)
    LakeTable.optimizeZOrder(spark, root, Seq("x", "y"))
    // a z column leaves statsCols while the marker persists: the auto
    // pass must NOT crash on the misaligned sidecar index — the invalid
    // marker re-bootstraps, and the full pass's own z⊆statsCols contract
    // reports the genuinely unservable request loudly
    LakeTable.alterIndexing(spark, root, statsCols = Seq("y"))
    val ex = intercept[IllegalArgumentException] {
      LakeTable.optimizeZOrderAuto(spark, root, Seq("x", "y"))
    }
    ex.getMessage should include("statsCols")
    // a request the NEW statsCols can serve re-bootstraps cleanly under
    // the invalid marker (different columns — nothing to carry)
    LakeTable.alterIndexing(spark, root, statsCols = Seq("y", "id"))
    val v = LakeTable.optimizeZOrderAuto(spark, root, Seq("y", "id"))
    LakeTable.manifest(spark, root).version shouldBe v
    LakeTable.read(spark, root).count() shouldBe 4096L
    // re-declare the SAME columns reordered: the marker stays valid,
    // positions re-resolve against the re-measured sidecar, and a tight
    // table is the incremental no-op (no version published)
    val v2 = LakeTable.alterIndexing(spark, root, statsCols = Seq("id", "y"))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("y", "id")) shouldBe v2
  }

  test("optimizeZOrderAuto detects axes drift on a DATE z column") {
    import org.apache.spark.sql.functions.{col, date_add, hash, lit, pmod, shiftright, to_date}
    val root = newRoot()
    // a two-month date axis (the time-series shape z-order exists for)
    def days(r: org.apache.spark.sql.DataFrame, offset: Int) = r.select(
      col("id"),
      date_add(to_date(lit("2024-01-01")),
        (pmod(col("id"), lit(60)) + lit(offset)).cast("int")).alias("d"),
      shiftright(col("id"), 6).alias("y"))
    LakeTable.init(days(spark.range(4096).toDF("id"), 0), root, Seq("id"),
      numBuckets = 2, sortCols = Seq("d"), statsCols = Seq("d", "y"),
      maxRecordsPerFile = 256L)
    LakeTable.optimizeZOrder(spark, root, Seq("d", "y"))
    // an in-range delivery (same date window, one bucket): incremental —
    // the untouched bucket's z files carry by path
    val zf = LakeTable.manifest(spark, root).files
    LakeTable.merge(spark, root,
      days(spark.range(4096, 4160).toDF("id"), 0)
        .filter(pmod(hash(col("id")), lit(2)) === 1))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("d", "y"))
    val m1 = LakeTable.manifest(spark, root)
    val carried = zf.filter(_._2 == 0)
    carried should not be empty
    carried.foreach(f => m1.files should contain(f))
    // a delivery a YEAR past the axis: the ISO zone strings parse to
    // epoch days, the drift check fires, auto re-bootstraps (full
    // re-lay — nothing carries) instead of clamping every new day into
    // the boundary z bucket forever
    LakeTable.merge(spark, root, days(spark.range(8192, 8256).toDF("id"), 365))
    LakeTable.optimizeZOrderAuto(spark, root, Seq("d", "y"))
    // the drift check answered from EXACT manifest ref summaries alone —
    // zero segment parses on the scheduled-maintenance path
    LakeTable.lastDriftExact shouldBe Some(true)
    val m2 = LakeTable.manifest(spark, root)
    m1.files.toSet.intersect(m2.files.toSet) shouldBe empty
    // the refreshed axes serve the widened window exactly, with pruning
    val far = LakeTable.scan(spark, root).filter(
      col("d").between(lit("2024-12-01").cast("date"),
        lit("2026-01-01").cast("date")) && col("y").between(128, 129))
    far.select("id").collect().map(_.getLong(0)).toSet shouldBe
      (8192L until 8256L).filter(i => (i >> 6) >= 128 && (i >> 6) <= 129)
        .toSet
    keptFiles(far).size should be < m2.files.size
    // and auto is back on the incremental path under the new axes
    LakeTable.optimizeZOrderAuto(spark, root, Seq("d", "y")) shouldBe
      m2.version
  }

  test("segment plane: O(delta) commits, metadata-only ops carry refs verbatim, fsck audits segments") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = newRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segFiles(): Set[String] = {
      val d = new org.apache.hadoop.fs.Path(root, "_segments")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).toSet
    }
    LakeTable.init(
      spark.range(200).select(col("id"), (col("id") * 2.0).alias("v")),
      root, Seq("id"), numBuckets = 4, statsCols = Seq("v"))
    val afterInit = segFiles()
    afterInit should have size 1

    // a MERGE writes exactly ONE new segment (the delta), and carried
    // refs shrink by bucket — never a whole-table metadata rewrite
    LakeTable.merge(spark, root,
      spark.range(3).select(col("id"), lit(-1.0).alias("v")))
    val afterMerge = segFiles()
    (afterMerge -- afterInit) should have size 1
    val m1 = LakeTable.manifest(spark, root)
    // every entry's recorded size is its file's on-disk length (fresh
    // files are sized by their writer's own listing)
    val (_, live) = LakeTable.liveEntriesOf(spark, root, m1.version)
    live should not be empty
    live.foreach(e => e.bytes shouldBe
      fs.getFileStatus(new org.apache.hadoop.fs.Path(root, e.path)).getLen)

    // a MoR delete is a metadata-only commit: same refs, same segment
    // files, nothing measured
    LakeTable.deleteMor(spark, root, spark.range(5).select(col("id")))
    segFiles() shouldBe afterMerge
    val m2 = LakeTable.manifest(spark, root)
    m2.segments.map(_.path) shouldBe m1.segments.map(_.path)

    // restore republishes the target's refs verbatim — zero new segments
    LakeTable.restore(spark, root, 0L)
    segFiles() shouldBe afterMerge

    // fsck: a planted orphan segment is REPORTED (warning, table ok) and
    // a deleted REFERENCED segment breaks reads loudly (ok = false)
    val orphan = new org.apache.hadoop.fs.Path(root,
      s"_segments/${java.util.UUID.randomUUID}.json")
    val out = fs.create(orphan, false)
    out.write("{\"stats_cols\":[],\"bloom_cols\":[],\"ndv_cols\":[],\"files\":[]}"
      .getBytes); out.close()
    val rep = LakeTable.fsck(spark, root)
    rep.ok shouldBe true
    rep.orphanSegments should have size 1
    // vacuum keeps every version yet reclaims exactly the orphan
    LakeTable.vacuum(spark, root, keepLast = 100)
    LakeTable.fsck(spark, root).orphanSegments shouldBe empty
    val victim = LakeTable.manifest(spark, root).segments.head.path
    fs.delete(new org.apache.hadoop.fs.Path(root, victim), false)
    val broken = LakeTable.fsck(spark, root)
    broken.ok shouldBe false
    broken.missingFiles should contain(victim)
  }

  test("compactMetadata: consolidates all live refs into one segment, zero data I/O, content intact") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = newRoot()
    LakeTable.init(
      spark.range(300).select(col("id"), (col("id") * 2.0).alias("v")),
      root, Seq("id"), numBuckets = 8, statsCols = Seq("v"))
    // accrete refs with narrow deliveries (few buckets touched each)
    LakeTable.merge(spark, root,
      spark.range(2).select(col("id"), lit(-1.0).alias("v")))
    LakeTable.merge(spark, root,
      spark.range(5, 7).select(col("id"), lit(-2.0).alias("v")))
    val before = LakeTable.manifest(spark, root)
    before.segments.size should be > 1
    val dataBefore = before.files.toSet
    val v = LakeTable.compactMetadata(spark, root)
    val after = LakeTable.manifest(spark, root)
    after.version shouldBe v
    after.segments should have size 1
    // METADATA-only: the data file set is untouched, content identical,
    // pruning metadata survives the consolidation verbatim
    after.files.toSet shouldBe dataBefore
    LakeTable.read(spark, root).count() shouldBe 300
    LakeTable.fastCount(spark, root) shouldBe Some(300L)
    LakeTable.readStats(spark, root, v).get.keySet shouldBe
      dataBefore.map(_._1)
    // no-op on an already-compact table
    LakeTable.compactMetadata(spark, root) shouldBe v
    // time travel to pre-compaction versions still resolves
    LakeTable.read(spark, root, Some(before.version)).count() shouldBe 300
  }

  test("legacy inline-file manifest survives metadata-only commits and seeds later merges") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val m = LakeTable.manifest(spark, root)
    // hand-write a PRE-r12 head: inline `files` array, no segment refs —
    // the manifest shape every pre-segment-plane table still carries
    val legacy = s"""{"ts":1,"version":1,"keys":["id"],"num_buckets":4,""" +
      s""""schema_ddl":"${m.schemaDdl}","sort_cols":[],"stats_cols":[],""" +
      s""""bloom_cols":[],"ndv_cols":[],"max_records":0,"cdf_record":0,""" +
      s""""dv_files":[],"files":[${m.files.map { case (p, b) =>
        s"""{"path":"$p","bucket":$b}""" }.mkString(",")}]}"""
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(root, "_versions/1.json"), false)
    out.write(legacy.getBytes("UTF-8")); out.close()
    rows(LakeTable.read(spark, root)) shouldBe rows(base)

    // metadata-only commit on the legacy head (deleteMor republishes the
    // manifest verbatim): the inline file list must survive the rerender —
    // a segments-only render would publish an EMPTY table here
    LakeTable.deleteMor(spark, root, Seq(1L).toDF("id"))
    rows(LakeTable.read(spark, root)).keySet shouldBe (2L to 8L).toSet

    // restore TO the legacy version is the same rerender path
    LakeTable.restore(spark, root, 1L)
    rows(LakeTable.read(spark, root)) shouldBe rows(base)

    // and a copy-on-write merge on the legacy base upgrades it to the
    // segment plane without losing the carried content
    LakeTable.merge(spark, root, Seq((9L, "i", 9.0)).toDF("id", "name", "score"))
    val after = rows(LakeTable.read(spark, root))
    after.keySet shouldBe (1L to 9L).toSet
    LakeTable.manifest(spark, root).segments should not be empty
  }

  test("a delta commit loads only bucket-intersecting refs; the rest republish verbatim") {
    val root = newRoot()
    // two keys landing in DIFFERENT buckets of an 8-bucket layout
    val bucketOf = (id: Long) => spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit(id)), //
        org.apache.spark.sql.functions.lit(8))).head().getInt(0)
    val ids = (1L to 100L)
    val a = ids.find(i => bucketOf(i) == 0).get
    val b = ids.find(i => bucketOf(i) == 5).get
    // 100 keys so every bucket holds files (the init ref must COVER b's
    // bucket for the load-vs-verbatim split below to be deterministic)
    LakeTable.init(ids.map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "score"), root, Seq("id"), numBuckets = 8)
    // second segment: a delivery touching only a's bucket
    LakeTable.merge(spark, root, Seq((a, "a2", 1.0)).toDF("id", "name", "score"))
    val m = LakeTable.manifest(spark, root)
    m.segments.size shouldBe 2
    // now touch ONLY b's bucket: the init ref (covers bucket 5) must
    // load and shrink; a's delta ref (bucket 0 only) republishes
    // verbatim with no segment resolution — the O(delta) commit contract
    LakeTable.merge(spark, root, Seq((b, "b2", 2.0)).toDF("id", "name", "score"))
    LakeTable.lastCommitRefs shouldBe Some((1, 1))
    // content is exact either way
    rows(LakeTable.read(spark, root))(a) shouldBe ("a2", 1.0)
    rows(LakeTable.read(spark, root))(b) shouldBe ("b2", 2.0)
  }

  test("segments chunk at the entry cap: bounded shards, exact reads, floor-aware compaction") {
    val root = newRoot()
    LakeTable.maxSegmentEntriesOverride = Some(8)
    try {
      // 100 keys / 4 buckets / maxRecordsPerFile=4 -> ~28 files, so the
      // init must shard into ceil(files/8) bucket-ordered segments
      val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble))
        .toDF("id", "name", "score")
      LakeTable.init(wide, root, Seq("id"), numBuckets = 4,
        statsCols = Seq("score"), maxRecordsPerFile = 4L)
      val m0 = LakeTable.manifest(spark, root)
      val floor = LakeTable.minSegments(m0)
      m0.segments.size shouldBe floor
      floor should be > 1
      m0.segments.foreach(_.files should be <= 8)
      // every read path serves exactly across the shards
      rows(LakeTable.read(spark, root)).keySet shouldBe (1L to 100L).toSet
      LakeTable.fastCount(spark, root) shouldBe Some(100L)
      LakeTable.scan(spark, root)
        .filter(org.apache.spark.sql.functions.col("score") <= 10.0)
        .count() shouldBe 10L
      // a single-key delivery touches ONE bucket: only the shards
      // covering it load, the rest republish verbatim
      LakeTable.merge(spark, root, Seq((1L, "X", -1.0)).toDF("id", "name", "score"))
      val (loaded, verbatim) = LakeTable.lastCommitRefs.get
      (loaded + verbatim) shouldBe floor
      loaded should be < floor
      rows(LakeTable.read(spark, root))(1L) shouldBe ("X", -1.0)
      // compactMetadata consolidates back TO the floor, never below,
      // and a second run is a version-preserving no-op
      val v = LakeTable.compactMetadata(spark, root)
      val m1 = LakeTable.manifest(spark, root)
      m1.segments.size shouldBe LakeTable.minSegments(m1)
      LakeTable.compactMetadata(spark, root) shouldBe v
      LakeTable.fastCount(spark, root) shouldBe Some(100L)
    } finally LakeTable.maxSegmentEntriesOverride = None
  }

  test("dense IN probe sets: zones still prune, bloom veto self-caps") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = newRoot()
    val wide = spark.range(0, 20000).select(col("id"),
      concat(lit("n"), col("id")).alias("name"),
      (col("id") % 100).cast("double").alias("score"))
    // ascending ids + rolling -> narrow per-file id zones
    LakeTable.init(wide, root, Seq("id"), numBuckets = 1,
      sortCols = Seq("id"), statsCols = Seq("id"), bloomCols = Seq("name"),
      maxRecordsPerFile = 1024L)
    val m = LakeTable.manifest(spark, root)
    m.files.size should be > 15
    // a probe set far ABOVE the bloom cap (12k values) but confined to a
    // range: the zone check binary-searches the sorted set, so files
    // outside [0, 11999] are still dismissed — large V must not force
    // keep-all on a zone-covered column
    val byIds = LakeTable.scan(spark, root).filter(
      LakeTable.inSet("id", LongType, 0L until 12000L))
    keptFiles(byIds).size should be < m.files.size
    // and never a wrong dismissal: the exact scan over the kept files
    // returns every probed row
    byIds.count() shouldBe 12000L
    // a bloom-ONLY column above the probe cap keeps ALL files (the veto
    // is an optional tightener; skipping it is conservative, and the
    // caller's exact predicate still runs)
    val names = (0L until 12000L).map(i => s"n$i")
    keptFiles(LakeTable.scan(spark, root).filter(
      LakeTable.inSet("name", StringType, names))).size shouldBe m.files.size
    // below the cap the bloom veto still prunes the bloom-only column
    keptFiles(LakeTable.scan(spark, root).filter(col("name").isin("n17")))
      .size should be < m.files.size
  }

  test("filters dismiss whole segments through manifest summaries") {
    import org.apache.spark.sql.functions.col
    val root = newRoot()
    // delivery-correlated values: each commit's segment carries a tight
    // zone SUMMARY in the manifest, so a range probe can dismiss other
    // deliveries' refs without parsing their segment files — the same
    // manifest-level skip, for range and equality filters alike (the
    // MV-retraction read path)
    LakeTable.init((1L to 20L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "score"), root, Seq("id"), numBuckets = 4,
      statsCols = Seq("score"))
    LakeTable.merge(spark, root, Seq((100L, "a", 100.0)).toDF("id", "name", "score"))
    LakeTable.merge(spark, root, Seq((200L, "b", 200.0)).toDF("id", "name", "score"))
    LakeTable.manifest(spark, root).segments.size shouldBe 3
    val byRange = LakeTable.scan(spark, root)
      .filter(col("score").between(150.0, 300.0))
    val hit = keptFiles(byRange)
    // only the third delivery's ref resolved; the init ref ([1,20]) and
    // the first delivery's ([...,100]) dismissed through their summaries
    LakeTable.lastIndexSegments shouldBe Some((1, 3))
    byRange.collect().map(_.getLong(0)).toSeq shouldBe Seq(200L)
    hit should not be empty
    // equality probes dismiss the same way
    val byEq = LakeTable.scan(spark, root).filter(col("score").isin(200.0))
    keptFiles(byEq) should not be empty
    LakeTable.lastIndexSegments shouldBe Some((1, 3))
    byEq.collect().map(_.getLong(0)).toSeq shouldBe Seq(200L)
  }

  test("vacuum reads O(keep window) manifests, not O(all versions)") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    // a long-lived table: 30 deliveries
    (1 to 30).foreach(i => LakeTable.merge(spark, root,
      Seq((i.toLong % 8 + 1, s"v$i", i.toDouble)).toDF("id", "name", "score")))
    val latest = rows(LakeTable.read(spark, root))
    LakeTable.vacuum(spark, root, keepLast = 3)
    // the newest-first walk stopped after classifying 3 live slots —
    // the 28 dropped versions were never parsed (the pre-r13 sweep
    // resolved every slot's outcome: 31 reads here, thousands on a
    // long-retention production table)
    LakeTable.lastVacuumManifestReads shouldBe Some(3)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    LakeTable.versions(fs, root) shouldBe Seq(28L, 29L, 30L)
    rows(LakeTable.read(spark, root)) shouldBe latest
    LakeTable.fsck(spark, root).ok shouldBe true
  }

  test("vacuum's orphan sweep is age-gated: fresh debris spared, aged debris reclaimed") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // debris exactly like an in-flight commit's pre-publish files: an
    // unreferenced data file and an unreferenced segment file, just written
    val orphanData = new Path(root, "data/in-flight-uuid/__bucket=0/part-0.parquet")
    fs.mkdirs(orphanData.getParent)
    val o1 = fs.create(orphanData, false); o1.write(Array[Byte](1)); o1.close()
    val orphanSeg = new Path(root, "_segments/in-flight-seg.json")
    val o2 = fs.create(orphanSeg, false); o2.write(Array[Byte](1)); o2.close()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.lake.vacuumGraceMs", 60000L)
    try {
      // inside the grace window: both spared — a concurrent writer may be
      // about to publish a manifest referencing them
      LakeTable.vacuum(spark, root, keepLast = 10)
      fs.exists(orphanData) shouldBe true
      fs.exists(orphanSeg) shouldBe true
      // age both past the window: genuinely dead debris, reclaimed
      val old = System.currentTimeMillis - 120000L
      fs.setTimes(orphanData, old, old)
      fs.setTimes(orphanSeg, old, old)
      val removed = LakeTable.vacuum(spark, root, keepLast = 10)
      removed should contain allOf (
        "data/in-flight-uuid/__bucket=0/part-0.parquet",
        "_segments/in-flight-seg.json")
      fs.exists(orphanData) shouldBe false
      fs.exists(orphanSeg) shouldBe false
    } finally conf.setLong("graft.lake.vacuumGraceMs", 0L)
    // the table itself was never touched
    rows(LakeTable.read(spark, root)) shouldBe rows(base)
  }

  test("vacuumOlderThan survives clock skew: a skew-stamped slot neither ends the walk nor evicts the in-window slot below it") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)            // v0
    LakeTable.merge(spark, root, Seq((1L, "A", 1.0)).toDF("id", "name", "score")) // v1
    LakeTable.merge(spark, root, Seq((2L, "B", 2.0)).toDF("id", "name", "score")) // v2
    LakeTable.merge(spark, root, Seq((3L, "C", 3.0)).toDF("id", "name", "score")) // v3
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(v: Long, ts: Long): Unit = {
      val p = new Path(root, s"_versions/$v.json")
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(s.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // multi-host skew: v2 (a slow-clock writer) stamps BELOW the cutoff
    // while the OLDER slot v1 (a fast-clock writer) stamps inside the
    // window; v0 is genuinely ancient (past the skew margin)
    val now = System.currentTimeMillis
    stamp(0L, now - 400000L) // beyond cutoff - skew: ends the walk
    stamp(1L, now)           // in window, sitting BELOW the skewed slot
    stamp(2L, now - 70000L)  // out of window by its stamp, inside margin
    stamp(3L, now)
    LakeTable.vacuumOlderThan(spark, root, 60000L)
    // the walk must not stop at v2 (pre-fix it did, vacuuming v1 — a
    // version inside maxAgeMillis); v1 stays, and v2 above it stays by
    // position; only the genuinely ancient v0 goes
    LakeTable.versions(fs, root) shouldBe Seq(1L, 2L, 3L)
    // the symmetric direction: a margin-stamped slot with NO in-window
    // slot below it is still KEPT — its slow-clock stamp may understate
    // a true publish time inside the window, and retention errs on
    // keeping (the pre-fix rule vacuumed it on its stamp alone)
    val root2 = newRoot()
    LakeTable.init(base, root2, Seq("id"), numBuckets = 2)              // v0
    LakeTable.merge(spark, root2, Seq((1L, "A", 1.0)).toDF("id", "name", "score")) // v1
    LakeTable.merge(spark, root2, Seq((2L, "B", 2.0)).toDF("id", "name", "score")) // v2
    val fs2 = new Path(root2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp2(v: Long, ts: Long): Unit = {
      val p = new Path(root2, s"_versions/$v.json")
      val in = fs2.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      fs2.delete(p, false)
      val out = fs2.create(p, false)
      try out.write(s.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val now2 = System.currentTimeMillis
    stamp2(0L, now2 - 400000L) // beyond the margin: goes
    stamp2(1L, now2 - 70000L)  // inside the margin, nothing in-window below
    stamp2(2L, now2)
    LakeTable.vacuumOlderThan(spark, root2, 60000L)
    LakeTable.versions(fs2, root2) shouldBe Seq(1L, 2L)
  }

  test("vacuumOlderThan counts LIVE slots only: an aborted txn slot inside the window doesn't inflate retention") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)            // v0
    LakeTable.merge(spark, root,
      Seq((11L, "A", 1.0)).toDF("id", "name", "score"))              // v1
    LakeTable.merge(spark, root,
      Seq((12L, "B", 2.0)).toDF("id", "name", "score"))              // v2
    try graft.sinks.LakeTxn.atomically(spark, root) { t =>
      t.merge(root, Seq((13L, "P", -1.0)).toDF("id", "name", "score"))
      sys.error("injected failure before commit")
    } catch { case _: RuntimeException => () }                       // v3 aborted
    LakeTable.merge(spark, root,
      Seq((14L, "C", 4.0)).toDF("id", "name", "score"))              // v4
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(v: Long, ts: Long): Unit = {
      val p = new Path(root, s"_versions/$v.json")
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(s.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val now = System.currentTimeMillis
    stamp(0L, now - 400000L)
    stamp(1L, now - 400000L) // both genuinely ancient (past the margin)
    // v2, v3 (aborted), v4 keep their real in-window stamps. The window
    // holds TWO live slots; the count handed to vacuum is in vacuum's
    // own live-slot currency, so exactly v2 and v4 stay — the pre-fix
    // raw-walk count (3) would have retained v1, a version OLDER than
    // the requested age, because an aborted slot inflated the window
    LakeTable.vacuumOlderThan(spark, root, 60000L)
    LakeTable.versions(fs, root) shouldBe Seq(2L, 4L)
    // the kept older version still reads (its files survived), and the
    // aborted delta never landed anywhere
    LakeTable.read(spark, root, Some(2L)).count() shouldBe 10L
    LakeTable.read(spark, root).count() shouldBe 11L
  }

  test("vacuumOlderThan: an UNDECIDED txn slot in the window counts as retained — race-safe, never a lost in-window version") {
    // an in-flight outcome can flip to COMMIT between this walk and the
    // delegated vacuum's own keep walk; if the count excluded it, the
    // newly-live slot would consume a keep that belonged to the window's
    // deepest live version. Counting it risks only one extra retained
    // older version for a cycle (here: the ancient v0 survives).
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)            // v0
    LakeTable.merge(spark, root,
      Seq((11L, "A", 1.0)).toDF("id", "name", "score"))              // v1
    LakeTable.merge(spark, root,
      Seq((12L, "B", 2.0)).toDF("id", "name", "score"))              // v2
    LakeTable.mergeTagged(spark, root,
      Seq((13L, "G", 3.0)).toDF("id", "name", "score"), None,
      Some(root + "/_txn/ghost-never-committed.json"))               // v3 in-flight
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(v: Long, ts: Long): Unit = {
      val p = new Path(root, s"_versions/$v.json")
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(s.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    stamp(0L, System.currentTimeMillis - 400000L) // genuinely ancient
    // window holds v1, v2 (live) and v3 (undecided) -> retained = 3 ->
    // vacuum keeps three LIVE slots: v2, v1, AND v0 — nothing dropped
    LakeTable.vacuumOlderThan(spark, root, 60000L)
    LakeTable.versions(fs, root) shouldBe Seq(0L, 1L, 2L, 3L)
  }

  test("vacuum's empty-dir prune is age-gated on the DIRECTORY itself: a just-mkdir'd still-empty data dir survives") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exactly what an in-flight write job does first: mkdir its fresh
    // uuid data dir (files land moments later) — empty, so every
    // children-based age check is vacuously true
    val inFlight = new Path(root, s"data/${java.util.UUID.randomUUID}")
    fs.mkdirs(inFlight)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.lake.vacuumGraceMs", 60000L)
    try {
      LakeTable.vacuum(spark, root, keepLast = 10)
      fs.exists(inFlight) shouldBe true // spared: younger than the grace
      // aged past the window with still nothing inside = abandoned mkdir
      val old = System.currentTimeMillis - 120000L
      fs.setTimes(inFlight, old, old)
      LakeTable.vacuum(spark, root, keepLast = 10)
      fs.exists(inFlight) shouldBe false
    } finally conf.setLong("graft.lake.vacuumGraceMs", 0L)
    rows(LakeTable.read(spark, root)) shouldBe rows(base)
  }

  test("refSummary: an interior 0-compare tie doesn't decline an unambiguous extremum; a tie AT the extremum still does") {
    import org.apache.spark.sql.types.LongType
    def e(mn: String): LakeTable.SegEntry = LakeTable.SegEntry(
      s"p-$mn", 0, 1L, 1L, IndexedSeq(Some(mn)), IndexedSeq(Some(mn)),
      IndexedSeq.empty, IndexedSeq.empty)
    // 2^53 and 2^53 + 1 are distinct longs whose double views compare 0
    // — the beyond-double-precision tie the decline discipline exists for
    val tieA = "9007199254740992"; val tieB = "9007199254740993"
    // the tie is INTERIOR to the scan (the true min "1" comes last):
    // order-dependent detection declined this; the extremum is unambiguous
    LakeTable.refSummary(Seq(e(tieB), e(tieA), e("1")), LongType, 0, -1)
      .shouldBe(Some("1"))
    // same entries, any order — order independence is the contract
    LakeTable.refSummary(Seq(e("1"), e(tieB), e(tieA)), LongType, 0, -1)
      .shouldBe(Some("1"))
    // but a tie AT the final extremum is genuinely unorderable: decline
    LakeTable.refSummary(Seq(e(tieB), e(tieA)), LongType, 0, -1)
      .shouldBe(None)
    LakeTable.refSummary(Seq(e("1"), e(tieA), e(tieB)), LongType, 0, 1)
      .shouldBe(None)
    // and the max side sees the interior tie the same way
    LakeTable.refSummary(Seq(e(tieA), e(tieB), e("99007199254740993")),
      LongType, 0, 1).shouldBe(Some("99007199254740993"))
  }
}
