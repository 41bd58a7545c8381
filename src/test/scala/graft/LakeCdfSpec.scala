package graft

import graft.sinks.{LakeTable, MaterializedView}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-shot cross-thread gate for the interleaved-writer test: the first
  * task-side call announces arrival and parks until the driver side
  * releases it; later calls (the retry's re-evaluations) pass through.
  * Same-JVM static state — exactly what local-mode executors share.
  */
object WriterGate {
  import java.util.concurrent.CountDownLatch
  @volatile private var arrived = new CountDownLatch(1)
  @volatile private var release = new CountDownLatch(1)
  @volatile private var used = false
  def reset(): Unit = { arrived = new CountDownLatch(1)
    release = new CountDownLatch(1); used = false }
  def awaitOnce(): Unit = synchronized { if (!used) { used = true
    arrived.countDown()
    require(release.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "WriterGate: release never arrived") } }
  def awaitArrival(): Unit =
    require(arrived.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "WriterGate: writer A never reached its source evaluation")
  def open(): Unit = release.countDown()
}

/** Change-data-feed, incremental materialized view, and pruned-read
  * (bucket lookup + zone map) behavior of [[LakeTable]].
  */
class LakeCdfSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot() =
    java.nio.file.Files.createTempDirectory("lakecdf").toString

  private val base = Seq(
    (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0),
    (5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0), (8L, "h", 8.0)
  ).toDF("id", "name", "score")

  private def feedSet(df: DataFrame): Set[(Long, String, Double, String)] =
    df.select($"id", $"name", $"score", $"_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet

  test("changes() classifies insert / delete / update pre+post; unchanged rows emit nothing") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    LakeTable.merge(spark, root,
      Seq((2L, "B!", 20.0), (9L, "i", 9.0)).toDF("id", "name", "score")) // v1
    LakeTable.delete(spark, root, Seq(5L).toDF("id"))                    // v2

    feedSet(LakeTable.changes(spark, root, 0L, 2L)) shouldBe Set(
      (2L, "b", 2.0, "update_preimage"), (2L, "B!", 20.0, "update_postimage"),
      (9L, "i", 9.0, "insert"),
      (5L, "e", 5.0, "delete"))

    // single-step feeds see only that step's changes
    feedSet(LakeTable.changes(spark, root, 1L, 2L)) shouldBe Set(
      (5L, "e", 5.0, "delete"))
    // degenerate: no versions apart → empty feed
    LakeTable.changes(spark, root, 1L, 1L).count() shouldBe 0L
  }

  test("changes() nets out churn that cancels (merge then delete of the same key)") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    LakeTable.merge(spark, root, Seq((9L, "i", 9.0)).toDF("id", "name", "score"))
    LakeTable.delete(spark, root, Seq(9L).toDF("id"))
    feedSet(LakeTable.changes(spark, root, 0L, 2L)) shouldBe Set.empty
  }

  test("changes() reads only buckets whose file sets differ") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    LakeTable.merge(spark, root, Seq((1L, "A!", 10.0)).toDF("id", "name", "score"))
    val mf = LakeTable.manifest(spark, root, Some(0L))
    val mt = LakeTable.manifest(spark, root, Some(1L))
    val b1 = base.limit(1).select(pmod(hash($"id"), lit(4))).head().getInt(0)
    LakeTable.changedBuckets(mf, mt) shouldBe Set(b1)
  }

  test("materialized view: incremental refresh is exact vs full recompute across insert/update/delete") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    LakeTable.init(base, tRoot, Seq("id"), numBuckets = 4)
    // groups: odd/even; sums must survive retraction exactly
    val withGrp = (df: DataFrame) => df.withColumn("grp", ($"id" % 2).cast("string"))
    val tRoot2 = newRoot()
    LakeTable.init(withGrp(base), tRoot2, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot2, mvRoot, Seq("grp"), Seq("score"))

    LakeTable.merge(spark, tRoot2, withGrp(
      Seq((2L, "B!", 20.0), (9L, "i", 9.0)).toDF("id", "name", "score")))
    LakeTable.delete(spark, tRoot2, Seq(5L, 7L).toDF("id"))
    MaterializedView.refresh(spark, tRoot2, mvRoot)

    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt", $"sum_score".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = LakeTable.read(spark, tRoot2)
      .groupBy("grp").agg(count(lit(1)).alias("cnt"),
        sum($"score".cast("decimal(38,6)")).cast("double").alias("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe want
  }

  test("materialized view min/max: grow-only folds the delta, retraction recomputes the group") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val withGrp = (df: DataFrame) => df.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(withGrp(base), tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"))
    def view(): Map[String, (Double, Double)] =
      MaterializedView.read(spark, mvRoot)
        .select($"grp", $"min_score", $"max_score")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // base: odd grp has {1,3,5,7}, even {2,4,6,8}
    view() shouldBe Map("1" -> (1.0, 7.0), "0" -> (2.0, 8.0))

    // grow-only wave: inserts only — extrema fold without touching the base
    LakeTable.merge(spark, tRoot, withGrp(
      Seq((11L, "k", 11.0), (10L, "j", 0.5)).toDF("id", "name", "score")))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    view() shouldBe Map("1" -> (1.0, 11.0), "0" -> (0.5, 8.0))

    // retraction wave: delete BOTH of odd's extrema (1.0 and 11.0) and
    // even's min (0.5) — the new extrema are unknowable from the delta,
    // so the touched groups recompute from the base snapshot
    LakeTable.delete(spark, tRoot, Seq(1L, 11L, 10L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    view() shouldBe Map("1" -> (3.0, 7.0), "0" -> (2.0, 8.0))

    // mixed wave: an update MOVES a max down (retraction path) while an
    // insert raises the other group's max (grow path) in the same refresh
    LakeTable.merge(spark, tRoot, withGrp(
      Seq((7L, "g!", 3.5), (12L, "l", 99.0)).toDF("id", "name", "score")))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    view() shouldBe Map("1" -> (3.0, 5.0), "0" -> (2.0, 99.0))

    // the whole history's view equals a from-scratch recompute
    val want = LakeTable.read(spark, tRoot).groupBy("grp")
      .agg(min($"score").alias("mn"), max($"score").alias("mx"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    view() shouldBe want
  }

  test("materialized view: a group retracted to zero rows disappears; a refresh with no changes is a no-op") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val df = Seq((1L, "only", 1.0)).toDF("id", "name", "score")
      .withColumn("grp", lit("solo"))
    LakeTable.init(df, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    LakeTable.delete(spark, tRoot, Seq(1L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    MaterializedView.read(spark, mvRoot).count() shouldBe 0L
    val v = MaterializedView.refresh(spark, tRoot, mvRoot)
    MaterializedView.refresh(spark, tRoot, mvRoot) shouldBe v
  }

  test("materialized view: crashed refresh (published but unmarked) is not double-applied on retry") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val df = base.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(df, tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    LakeTable.merge(spark, tRoot, Seq((2L, "B!", 20.0)).toDF("id", "name", "score")
      .withColumn("grp", lit("0")))

    // simulate the crash: publish a refresh's view version WITHOUT its
    // sync marker — exactly the state a crash between the two leaves
    val sync0 = LakeTable.manifest(spark, mvRoot).version
    val feed = LakeTable.changes(spark, tRoot, 0L, 1L)
    val sign = when($"_change_type".isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val delta = feed.groupBy("grp").agg(sum(sign).alias("d_cnt"),
      sum($"score".cast("decimal(38,6)") * sign).cast("decimal(38,6)")
        .alias("d_sum_score"))
    val cur = LakeTable.lookup(spark, mvRoot, delta.select("grp"), Some(sync0))
    val merged = delta.join(cur, Seq("grp"), "full_outer").select($"grp",
      (coalesce($"cnt", lit(0L)) + coalesce($"d_cnt", lit(0L))).alias("cnt"),
      (coalesce($"sum_score", lit(0).cast("decimal(38,6)")) +
        coalesce($"d_sum_score", lit(0).cast("decimal(38,6)")))
        .cast("decimal(38,6)").alias("sum_score"))
    LakeTable.applyChanges(spark, mvRoot, merged.filter($"cnt" > 0),
      merged.filter($"cnt" <= 0).select("grp"), Some(sync0)) // no marker!

    // the real refresh must land on the marked snapshot, not the orphan
    MaterializedView.refresh(spark, tRoot, mvRoot)
    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt", $"sum_score".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = LakeTable.read(spark, tRoot)
      .groupBy("grp").agg(count(lit(1)).alias("cnt"),
        sum($"score".cast("decimal(38,6)")).cast("double").alias("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe want
  }

  test("lookup reads only the probe keys' buckets and returns exactly their rows") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val got = LakeTable.lookup(spark, root, Seq(2L, 5L, 99L).toDF("id"))
      .select($"id", $"name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    got shouldBe Set((2L, "b"), (5L, "e"))
  }

  test("zone maps: clustered write prunes files for a narrow range; results match the full scan") {
    val root = newRoot()
    val wide = (1L to 2000L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    LakeTable.init(wide, root, Seq("id"), numBuckets = 2,
      sortCols = Seq("score"), statsCols = Seq("score"),
      maxRecordsPerFile = 128L)
    val all = LakeTable.manifest(spark, root).files.map(_._1)
    all.size should be > 8 // maxRecordsPerFile rolled multiple files/bucket

    val narrow = LakeTable.scan(spark, root).filter($"score".between(100.0, 150.0))
    keptFiles(narrow).size should be < all.size / 2 // the zone map actually prunes

    val got = narrow.select($"id").as[Long].collect().toSet
    got shouldBe (100L to 150L).toSet
  }

  test("additive schema evolution: merge with a new column widens; old files read back as NULL") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val evolved = Seq((2L, "B!", 20.0, "eu"), (9L, "i", 9.0, "us"))
      .toDF("id", "name", "score", "region")
    LakeTable.merge(spark, root, evolved)
    val got = LakeTable.read(spark, root)
      .select($"id", $"name", $"region")
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    got(2L) shouldBe ("B!", Some("eu"))
    got(9L) shouldBe ("i", Some("us"))
    got(5L) shouldBe ("e", None) // untouched bucket, never rewritten
    // dropped/retyped columns and partial rows are refused loudly
    an[IllegalArgumentException] should be thrownBy
      LakeTable.merge(spark, root, Seq((1L, "x")).toDF("id", "name"))
    an[IllegalArgumentException] should be thrownBy
      LakeTable.merge(spark, root,
        Seq((1L, "x", "oops", "eu")).toDF("id", "name", "score", "region"))
  }

  test("changes() across a widening: pre-images of old rows carry NULL for the new column") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    LakeTable.merge(spark, root,
      Seq((2L, "B!", 20.0, "eu")).toDF("id", "name", "score", "region"))
    val feed = LakeTable.changes(spark, root, 0L, 1L)
      .select($"id", $"name", $"region", $"_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3))).toSet
    feed shouldBe Set(
      (2L, "b", None, "update_preimage"),
      (2L, "B!", Some("eu"), "update_postimage"))
  }

  test("merge-on-read delete: O(keys) publish, every read path subtracts; rewrite folds the vectors") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val dataFilesBefore = LakeTable.manifest(spark, root).files.toSet
    LakeTable.deleteMor(spark, root, Seq(3L, 7L).toDF("id"))
    val m1 = LakeTable.manifest(spark, root)
    m1.files.toSet shouldBe dataFilesBefore // no data file touched
    m1.dvFiles should not be empty
    LakeTable.read(spark, root).select($"id").as[Long].collect().toSet shouldBe
      Set(1L, 2L, 4L, 5L, 6L, 8L)
    // lookup honors the vectors too
    LakeTable.lookup(spark, root, Seq(3L, 4L).toDF("id"))
      .select($"id").as[Long].collect().toSet shouldBe Set(4L)
    // CDF sees the MoR delete as a plain delete
    feedSet(LakeTable.changes(spark, root, 0L, 1L)) shouldBe Set(
      (3L, "c", 3.0, "delete"), (7L, "g", 7.0, "delete"))
    // a CoW rewrite of a dv'd bucket folds its vector in
    val v2 = LakeTable.compactDeletes(spark, root)
    LakeTable.manifest(spark, root, Some(v2)).dvFiles shouldBe empty
    LakeTable.read(spark, root).select($"id").as[Long].collect().toSet shouldBe
      Set(1L, 2L, 4L, 5L, 6L, 8L)
    // net feed across delete+compaction is still just the deletes
    feedSet(LakeTable.changes(spark, root, 0L, v2)) shouldBe Set(
      (3L, "c", 3.0, "delete"), (7L, "g", 7.0, "delete"))
  }

  test("materialized view refresh consumes merge-on-read deletes") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val df = base.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(df, tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    LakeTable.deleteMor(spark, tRoot, Seq(2L, 4L, 6L, 8L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    got shouldBe Map("1" -> 4L) // the even group retracted to zero and vanished
  }

  test("restore publishes an old version's content as the new head without copying data") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    val before = LakeTable.read(spark, root).collect().toSet
    LakeTable.merge(spark, root, Seq((2L, "BAD", -1.0)).toDF("id", "name", "score"))
    val v2 = LakeTable.restore(spark, root, 0L)
    v2 shouldBe 2L
    LakeTable.read(spark, root).collect().toSet shouldBe before
    // zero data written: the restored head references version 0's files
    LakeTable.manifest(spark, root, Some(v2)).files.toSet shouldBe
      LakeTable.manifest(spark, root, Some(0L)).files.toSet
    // the table keeps working past the restore
    LakeTable.merge(spark, root, Seq((9L, "i", 9.0)).toDF("id", "name", "score"))
    LakeTable.read(spark, root).count() shouldBe 9L
  }

  test("restore carries every sidecar: metadata answers stay O(delta) afterwards") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2,
      statsCols = Seq("score"), bloomCols = Seq("name"),
      ndvCols = Seq("name"))
    val ndv0 = LakeTable.fastNdv(spark, root, "name")
    ndv0.isDefined shouldBe true
    LakeTable.merge(spark, root, Seq((2L, "BAD", -1.0)).toDF("id", "name", "score"))
    val v2 = LakeTable.restore(spark, root, 0L)
    // every sidecar carried to the restored head: fastNdv still answers
    // (a gap would decline AND force the next commit to re-sketch the
    // whole table), fsck reports no gaps at all
    LakeTable.fastNdv(spark, root, "name") shouldBe ndv0
    val rep = LakeTable.fsck(spark, root)
    rep.statsGaps shouldBe empty
    rep.bloomGaps shouldBe empty
    rep.ndvGaps shouldBe empty
    // and the post-restore commit carries, not re-measures: its sidecar
    // keeps answering without a full re-sketch
    LakeTable.merge(spark, root, Seq((9L, "i", 9.0)).toDF("id", "name", "score"))
    LakeTable.fastNdv(spark, root, "name").isDefined shouldBe true
    LakeTable.fsck(spark, root).ndvGaps shouldBe empty
    v2 shouldBe 2L
  }

  test("materialized view follows a restore: the feed across the rollback retracts the bad delivery") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val df = base.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(df, tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    def view(): Map[String, (Long, Double)] =
      MaterializedView.read(spark, mvRoot)
        .select($"grp", $"cnt", $"sum_score".cast("double"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val good = view()
    // bad delivery lands AND is consumed by the view
    LakeTable.merge(spark, tRoot, Seq((2L, "BAD", 999.0)).toDF("id", "name", "score")
      .withColumn("grp", lit("0")))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    view() should not be good
    // restore the table; the next refresh applies the INVERSE feed
    LakeTable.restore(spark, tRoot, 0L)
    MaterializedView.refresh(spark, tRoot, mvRoot)
    view() shouldBe good
  }

  test("compactSmallFiles bounds per-bucket file counts; content and vectors fold unchanged") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2)
    // pile single-row merges onto the same keys (each adds files per bucket)
    (1 to 5).foreach(i =>
      LakeTable.merge(spark, root, Seq((1L, s"v$i", i.toDouble)).toDF("id", "name", "score")))
    LakeTable.deleteMor(spark, root, Seq(4L).toDF("id"))
    val expect = LakeTable.read(spark, root).collect().toSet
    LakeTable.compactSmallFiles(spark, root, maxFilesPerBucket = 1)
    val m = LakeTable.manifest(spark, root)
    m.dvFiles shouldBe empty
    m.files.groupBy(_._2).values.map(_.size).max should be <= 1
    LakeTable.read(spark, root).collect().toSet shouldBe expect
    // under the bound already → no-op version
    LakeTable.compactSmallFiles(spark, root, maxFilesPerBucket = 1) shouldBe m.version
  }

  test("zone maps survive a merge: carried files keep their stats, fresh files are measured") {
    val root = newRoot()
    val wide = (1L to 500L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    LakeTable.init(wide, root, Seq("id"), numBuckets = 4,
      sortCols = Seq("score"), statsCols = Seq("score"),
      maxRecordsPerFile = 64L)
    LakeTable.merge(spark, root, Seq((42L, "X", 9999.0)).toDF("id", "name", "score"))
    val m = LakeTable.manifest(spark, root)
    val stats = LakeTable.readStats(spark, root, m.version).get
    // every live file has a zone entry after the merge
    m.files.map(_._1).toSet shouldBe stats.keySet
    // and the updated row is only found in the fresh high range
    val got = LakeTable.scan(spark, root).filter($"score".between(9000.0, 10000.0))
      .select($"id").as[Long].collect().toSet
    got shouldBe Set(42L)
    // the stale zone (42's old position) no longer returns it
    LakeTable.scan(spark, root).filter($"score".between(41.5, 42.5))
      .count() shouldBe 0L
  }

  test("optimistic concurrency: two interleaved writers both land, the loser retries") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    // writer A reads the head (v0), then its source evaluation PARKS on
    // the gate — the textbook lost-update window. Writer B commits v1
    // while A is parked; A's publish then loses the v1 claim and must
    // retry against B's table. Before r9, POSIX rename silently replaced
    // B's manifest and B's delta vanished.
    WriterGate.reset()
    val aSource = Seq((100L, "a-delta", 100.0)).toDF("id", "name", "score")
      .as[(Long, String, Double)]
      .map { r => WriterGate.awaitOnce(); r }
      .toDF("id", "name", "score")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(LakeTable.merge(spark, root, aSource))
    WriterGate.awaitArrival()
    val vB = LakeTable.merge(spark, root,
      Seq((200L, "b-delta", 200.0)).toDF("id", "name", "score"))
    WriterGate.open()
    val vA = Await.result(a, scala.concurrent.duration.Duration("120s"))
    vB shouldBe 1L
    vA shouldBe 2L // the loser retried and landed AFTER the winner
    val names = LakeTable.read(spark, root)
      .filter($"id" >= 100L).select($"name").as[String].collect().toSet
    names shouldBe Set("a-delta", "b-delta") // neither delta was dropped
    // every intermediate version stays readable (nothing was overwritten)
    LakeTable.read(spark, root, Some(1L)).filter($"id" === 100L)
      .count() shouldBe 0L
    LakeTable.read(spark, root, Some(1L)).filter($"id" === 200L)
      .count() shouldBe 1L
  }

  test("string zone maps compare in string order: digit-string stats never mis-prune") {
    // regression (r10 advice): a file holding {"2","10"} records
    // min="10"/max="2" under STRING ordering; the old both-parse-numeric
    // compare evaluated 10 > 2 and PRUNED the file for probe "2" —
    // wrong rows out of a pruned IN scan, not just scan width.
    val root = newRoot()
    val rows = Seq((1L, "2", 1.0), (2L, "10", 2.0), (3L, "aa", 3.0),
      (4L, "zz", 4.0)).toDF("id", "grp", "score")
    LakeTable.init(rows, root, Seq("id"), numBuckets = 1,
      sortCols = Seq("grp"), statsCols = Seq("grp"), maxRecordsPerFile = 2L)
    // both digit-string probes hit their file; the zone still prunes the
    // {"aa","zz"} file, so the fix didn't degrade to keep-all
    def byGrp(g: String) = LakeTable.scan(spark, root).filter($"grp".isin(g))
    byGrp("2").select($"id").as[Long].collect() shouldBe Array(1L)
    byGrp("10").select($"id").as[Long].collect() shouldBe Array(2L)
    keptFiles(byGrp("2")).size shouldBe 1
    // range scan over the same string column agrees with its exact
    // filter's string comparison ("10" <= "2" lexicographically)
    LakeTable.scan(spark, root).filter($"grp".between("10", "2"))
      .select($"id").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("pinned-base write fails loudly on a commit race instead of clobbering the winner") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4)
    // writer A applies changes PINNED to v0; its source evaluation parks
    // after the version listing. Writer B lands v1 meanwhile. A's claim
    // of v1 must surface as a race and NOT retry: a pinned retry would
    // rebuild the file list from the stale base and drop B's delta.
    WriterGate.reset()
    val upserts = Seq((100L, "pinned", 100.0)).toDF("id", "name", "score")
      .as[(Long, String, Double)]
      .map { r => WriterGate.awaitOnce(); r }
      .toDF("id", "name", "score")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(LakeTable.applyChanges(spark, root, upserts,
      Seq.empty[Long].toDF("id"), baseVersion = Some(0L)))
    WriterGate.awaitArrival()
    LakeTable.merge(spark, root,
      Seq((200L, "winner", 200.0)).toDF("id", "name", "score")) shouldBe 1L
    WriterGate.open()
    val thrown = intercept[Exception] {
      Await.result(a, scala.concurrent.duration.Duration("120s"))
    }
    def raceish(t: Throwable): Boolean = t match {
      case null => false
      case _: LakeTable.CommitRaceException => true
      case t => raceish(t.getCause)
    }
    assert(raceish(thrown), s"expected CommitRaceException, got $thrown")
    // the winner's delta is intact and the pinned write left no trace
    val head = LakeTable.read(spark, root)
    head.filter($"id" === 200L).count() shouldBe 1L
    head.filter($"id" === 100L).count() shouldBe 0L
  }

  test("interleaved refreshes from one sync point converge without double-apply") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val withGrp = (df: DataFrame) => df.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(withGrp(base), tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    LakeTable.merge(spark, tRoot, withGrp(
      Seq((100L, "x", 10.0), (101L, "y", 20.0)).toDF("id", "name", "score")))
    // two refreshes race from the same sync point: the view write is
    // pinned, so the loser's commit race triggers a re-base (re-read the
    // sync marker, usually a no-op) instead of a stale-base retry. Both
    // calls must SUCCEED and the result must equal one application of
    // the feed — a double-apply would double cnt/sum.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      Future(MaterializedView.refresh(spark, tRoot, mvRoot)),
      Future(MaterializedView.refresh(spark, tRoot, mvRoot)))
    fs.foreach(f => Await.result(f, scala.concurrent.duration.Duration("180s")))
    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt", $"sum_score".cast("double"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = LakeTable.read(spark, tRoot).groupBy("grp")
      .agg(count(lit(1)).alias("cnt"), sum($"score").alias("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got shouldBe want
  }

  test("MV vacuum bounds sync markers and keeps the synced version readable") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val withGrp = (df: DataFrame) => df.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(withGrp(base), tRoot, Seq("id"), numBuckets = 4)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"))
    for (i <- 1 to 4) {
      LakeTable.merge(spark, tRoot, withGrp(
        Seq((100L + i, s"d$i", i * 1.0)).toDF("id", "name", "score")))
      MaterializedView.refresh(spark, tRoot, mvRoot)
    }
    val syncDir = new Path(mvRoot, "_sync")
    val hfs = syncDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markers() = hfs.listStatus(syncDir)
      .count(_.getPath.getName.endsWith(".json"))
    markers() shouldBe 5 // init + 4 refreshes, one per table version
    val (dropped, _) = MaterializedView.vacuum(spark, mvRoot, keepLast = 2)
    dropped shouldBe 3
    markers() shouldBe 2
    // the view still serves through the retained marker, exactly
    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = LakeTable.read(spark, tRoot).groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe want
    // and another delivery + refresh still advances it
    LakeTable.merge(spark, tRoot, withGrp(
      Seq((200L, "post", 9.0)).toDF("id", "name", "score")))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    MaterializedView.read(spark, mvRoot)
      .agg(sum($"cnt")).head().getLong(0) shouldBe
      LakeTable.read(spark, tRoot).count()
  }

  test("multisetSubtract cancels one copy per deleted value, any element type, in one wide projection") {
    import graft.functions.ArrayFunctions.multisetSubtract
    val df = Seq((Seq(1.0, 2.0, 2.0, 3.0), Seq(2.0, 5.0)))
      .toDF("xs", "ds")
    df.select(multisetSubtract($"xs", $"ds").alias("r"))
      .as[Seq[Double]].head() shouldBe Seq(1.0, 2.0, 3.0)
    // strings too (ordering-based equivalence, not numeric-only)
    Seq((Seq("a", "b", "b"), Seq("b", "b", "b")))
      .toDF("xs", "ds")
      .select(multisetSubtract($"xs", $"ds").alias("r"))
      .as[Seq[String]].head() shouldBe Seq("a")
    // regression: TWO independent subtractions + downstream merges in ONE
    // projection — the lambda-HOF formulation this replaced mis-evaluated
    // exactly here (one subtraction came back wrong when the expressions
    // shared a projection), which made MV exhaustion fire spuriously
    val wide = Seq((Seq(1.0, 2.0, 3.0), Seq(2.0), Seq(9.0, 8.0, 7.0), Seq(7.0)))
      .toDF("lo", "dlo", "hi", "dhi")
      .select(
        org.apache.spark.sql.functions.size(
          multisetSubtract($"lo", $"dlo")).alias("slo"),
        org.apache.spark.sql.functions.size(
          multisetSubtract($"hi", $"dhi")).alias("shi"),
        slice(array_sort(concat(multisetSubtract($"lo", $"dlo"), array(lit(0.5)))),
          1, 3).alias("mlo"),
        slice(reverse(array_sort(concat(multisetSubtract($"hi", $"dhi"),
          array(lit(10.0))))), 1, 3).alias("mhi"))
      .head()
    (wide.getInt(0), wide.getInt(1)) shouldBe ((2, 2))
    wide.getSeq[Double](2) shouldBe Seq(0.5, 1.0, 3.0)
    wide.getSeq[Double](3) shouldBe Seq(10.0, 9.0, 8.0)
  }

  test("min/max reserve absorbs in-reserve retractions: no base recompute job, values exact") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val withGrp = (df: DataFrame) => df.withColumn("grp", ($"id" % 2).cast("string"))
    LakeTable.init(withGrp(base), tRoot, Seq("id"), numBuckets = 4)
    // reserveDepth 8 > group size: every retraction is inside the reserve
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"), reserveDepth = 8)
    // delete odd grp's min AND max in one wave — classic forced-recompute
    // shape, but the reserve knows the successors
    LakeTable.delete(spark, tRoot, Seq(1L, 7L).toDF("id"))
    LakeTable.lastIndexScan = None
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 8)
    MaterializedView.lastExhausted shouldBe 0
    LakeTable.lastIndexScan shouldBe None // no recompute scan was planned
    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"min_score", $"max_score")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got shouldBe Map("1" -> (3.0, 5.0), "0" -> (2.0, 8.0))
  }

  test("min/max reserve exhaustion recomputes through sidecar-pruned files only") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    // 40 rows, 4 groups, base CLUSTERED on the group column with zone
    // maps declared on it — the layout a min/max view should ask of its
    // base (class doc): the exhausted-group recompute can then prune
    val rows = (1L to 40L).map(i => (i, (i % 4).toString, i.toDouble))
      .toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 4,
      sortCols = Seq("grp"), statsCols = Seq("grp"), maxRecordsPerFile = 4L)
    // depth 1: deleting a single group minimum wipes its low reserve
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"), reserveDepth = 1)
    LakeTable.delete(spark, tRoot, Seq(1L).toDF("id")) // grp "1" min (1.0)
    LakeTable.lastIndexScan = None
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 1)

    MaterializedView.lastExhausted shouldBe 1
    // the recompute leg opened strictly fewer files than the manifest
    // holds (file-count pin): zone maps on grp exclude files whose grp
    // range can't contain "1"
    val (opened, total) = LakeTable.lastIndexScan.get
    opened should be < total
    opened should be > 0

    val got = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt", $"min_score", $"max_score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val want = LakeTable.read(spark, tRoot).groupBy("grp")
      .agg(count(lit(1)).alias("cnt"), min($"score").alias("mn"),
        max($"score").alias("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    got shouldBe want
  }

  test("shallow reserve drops inserts past its tail: delete-insert-delete reads true min") {
    // regression (r10 advice): group {2,3,3.8,4} at k=2 → rlo [2,3].
    // delete 2 → [3]; insert 3.9 — 3.8 is an UNCOVERED survivor between
    // the tail and the insert, so merging 3.9 would break the sorted
    // prefix; delete 3 must then surface 3.8, not 3.9. The coverage
    // count (__rn) is what tells the shallow merge 3.9 is unsafe.
    val tRoot = newRoot(); val mvRoot = newRoot()
    val rows = Seq((1L, "g", 2.0), (2L, "g", 3.0), (3L, "g", 3.8),
      (4L, "g", 4.0)).toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"), reserveDepth = 2)
    def mm(): (Double, Double) = {
      val r = MaterializedView.read(spark, mvRoot)
        .select($"min_score", $"max_score").head()
      (r.getDouble(0), r.getDouble(1))
    }
    LakeTable.delete(spark, tRoot, Seq(1L).toDF("id")) // delete 2.0
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    MaterializedView.lastExhausted shouldBe 0
    mm()._1 shouldBe 3.0
    LakeTable.merge(spark, tRoot, Seq((5L, "g", 3.9)).toDF("id", "grp", "score"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    mm()._1 shouldBe 3.0
    LakeTable.delete(spark, tRoot, Seq(2L).toDF("id")) // delete 3.0
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    mm()._1 shouldBe 3.8 // NOT 3.9 — the buggy merge reported 3.9 here
    // and the mirrored HI direction: {2,3,3.8,4,3.9} rhi [4,3.9] after
    // the deletes above is exercised by the same refreshes — check it
    mm()._2 shouldBe 4.0
    // full history equals a from-scratch recompute
    val want = LakeTable.read(spark, tRoot).groupBy("grp")
      .agg(min($"score"), max($"score")).head()
    mm() shouldBe ((want.getDouble(1), want.getDouble(2)))
  }

  test("covered small group keeps absorbing: inserts above tail merge when reserve is the whole group") {
    // coverage counting must NOT over-drop: a group smaller than k is
    // fully covered, so an insert above the tail extends the prefix and
    // a later delete of the head absorbs O(delta) with no recompute.
    val tRoot = newRoot(); val mvRoot = newRoot()
    val rows = Seq((1L, "g", 5.0)).toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"), reserveDepth = 4)
    LakeTable.merge(spark, tRoot, Seq((2L, "g", 7.0)).toDF("id", "grp", "score"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 4)
    LakeTable.delete(spark, tRoot, Seq(1L).toDF("id")) // delete 5.0
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 4)
    MaterializedView.lastExhausted shouldBe 0 // 7.0 was merged, not dropped
    val r = MaterializedView.read(spark, mvRoot)
      .select($"min_score", $"max_score").head()
    (r.getDouble(0), r.getDouble(1)) shouldBe ((7.0, 7.0))
  }

  test("min/max reserve shrinks across deliveries, then exhausts and refills") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val rows = (1L to 12L).map(i => (i, (i % 2).toString, i.toDouble))
      .toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      minMaxCols = Seq("score"), reserveDepth = 2)
    def mins(): Map[String, Double] = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"min_score")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // delivery 1: delete grp "1"'s min (1.0) — reserve [1,3] shrinks to [3]
    LakeTable.delete(spark, tRoot, Seq(1L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    MaterializedView.lastExhausted shouldBe 0
    mins()("1") shouldBe 3.0
    // delivery 2: delete the survivor (3.0) — reserve wiped → exhausted,
    // recompute refills from the base and lands on 5.0
    LakeTable.delete(spark, tRoot, Seq(3L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    MaterializedView.lastExhausted shouldBe 1
    mins()("1") shouldBe 5.0
    // delivery 3: after the refill, another in-reserve delete absorbs again
    LakeTable.delete(spark, tRoot, Seq(5L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 2)
    MaterializedView.lastExhausted shouldBe 0
    mins()("1") shouldBe 7.0
    // the whole history equals a from-scratch recompute
    val want = LakeTable.read(spark, tRoot).groupBy("grp")
      .agg(min($"score").alias("mn"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    mins() shouldBe want
  }

  test("served lowk/topk are the true sorted prefix at current reserve coverage") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val rows = (1 to 10).map(i => (i.toLong, "g", i.toDouble))
      .toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      numBuckets = 2, minMaxCols = Seq("score"), reserveDepth = 3)
    def served(): (Seq[Double], Seq[Double]) = {
      val r = MaterializedView.read(spark, mvRoot)
        .select($"lowk_score", $"topk_score").head()
      (r.getSeq[Double](0), r.getSeq[Double](1))
    }
    served() shouldBe ((Seq(1.0, 2.0, 3.0), Seq(10.0, 9.0, 8.0)))
    // in-reserve delete, not exhausting: the low prefix SHRINKS to the
    // true 2 smallest survivors; the high side is untouched
    LakeTable.delete(spark, tRoot, Seq(2L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 3)
    MaterializedView.lastExhausted shouldBe 0
    served() shouldBe ((Seq(1.0, 3.0), Seq(10.0, 9.0, 8.0)))
    // an insert AT/below the shrunk prefix's tail merges (it provably
    // belongs to the prefix) — coverage grows back without any recompute
    LakeTable.merge(spark, tRoot, Seq((11L, "g", 2.5)).toDF("id", "grp", "score"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 3)
    MaterializedView.lastExhausted shouldBe 0
    served() shouldBe ((Seq(1.0, 2.5, 3.0), Seq(10.0, 9.0, 8.0)))
    // wiping the whole low reserve exhausts; the recompute refills to
    // FULL depth with the authoritative smallest survivors
    LakeTable.delete(spark, tRoot, Seq(1L, 11L, 3L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot, reserveDepth = 3)
    served() shouldBe ((Seq(4.0, 5.0, 6.0), Seq(10.0, 9.0, 8.0)))
  }

  test("variance MV: exact retraction, NULL below two values, constant group clamps at zero") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    // group "c" is CONSTANT at a fractional value whose square needs 8
    // decimals (1.2345² = 1.52399025): the per-row scale-6 rounding makes
    // the naive (Σx² − (Σx)²/n)/(n−1) come out a hair negative — the
    // serve clamp must report exactly 0, not a tiny negative or NaN sqrt
    val rows = Seq(
      (1L, "a", 10.0), (2L, "a", 14.0), (3L, "a", 18.0),
      (4L, "b", 7.5),
      (5L, "c", 1.2345), (6L, "c", 1.2345), (7L, "c", 1.2345)
    ).toDF("id", "grp", "score")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("score"),
      numBuckets = 2, varCols = Seq("score"))
    def served() = MaterializedView.read(spark, mvRoot)
      .select($"grp", $"cnt", $"var_score", $"stddev_score")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    val v0 = served()
    // a: var_samp{10,14,18} = 16, stddev 4
    v0("a")._2.get shouldBe 16.0 +- 1e-9
    v0("a")._3.get shouldBe 4.0 +- 1e-9
    // b: one value -> NULL (SQL var_samp), never NaN
    v0("b") shouldBe ((1L, None, None))
    // c: constant group -> clamped 0 exactly
    v0("c") shouldBe ((3L, Some(0.0), Some(0.0)))

    // delete one of a's values: the retraction is exact — the state the
    // view serves equals a from-scratch var_samp of the survivors, with
    // NO recompute leg (variance never flags exhaustion)
    LakeTable.delete(spark, tRoot, Seq(3L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    MaterializedView.lastExhausted shouldBe 0
    val v1 = served()
    v1("a")._1 shouldBe 2L
    v1("a")._2.get shouldBe 8.0 +- 1e-9 // var_samp{10,14}
    // delete down to one survivor: back to the NULL contract
    LakeTable.delete(spark, tRoot, Seq(2L).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    served()("a") shouldBe ((1L, None, None))
  }

  test("approx-distinct MV: insert-only deliveries union sketches, deletes recompute") {
    val tRoot = newRoot(); val mvRoot = newRoot()
    val rows = (1L to 60L).map(i => (i, (i % 2).toString, (i % 7).toString))
      .toDF("id", "grp", "u")
    LakeTable.init(rows, tRoot, Seq("id"), numBuckets = 2)
    MaterializedView.init(spark, tRoot, mvRoot, Seq("grp"), Seq("id"),
      approxNdCols = Seq("u"))
    def est(root: String = mvRoot): Map[String, Long] =
      MaterializedView.read(spark, root)
        .select($"grp", $"appx_nd_u")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // DataSketches HLL is exact at these cardinalities (LIST/SET mode)
    est() shouldBe Map("0" -> 7L, "1" -> 7L)

    // insert-only delivery: sketch union absorbs, no recompute job
    LakeTable.merge(spark, tRoot,
      Seq((101L, "0", "x1"), (102L, "0", "x2"), (103L, "1", "x1"))
        .toDF("id", "grp", "u"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    MaterializedView.lastExhausted shouldBe 0
    est() shouldBe Map("0" -> 9L, "1" -> 8L)

    // delete every row carrying u="3" (both groups): sketches cannot
    // retract, so both groups recompute from the base
    LakeTable.delete(spark, tRoot,
      (1L to 60L).filter(_ % 7 == 3).toDF("id"))
    MaterializedView.refresh(spark, tRoot, mvRoot)
    assert(MaterializedView.lastExhausted > 0)
    est() shouldBe Map("0" -> 8L, "1" -> 7L)

    // the maintained view matches an init-from-scratch twin
    val mv2 = newRoot()
    MaterializedView.init(spark, tRoot, mv2, Seq("grp"), Seq("id"),
      approxNdCols = Seq("u"))
    est(mv2) shouldBe est()
  }

  test("fastMinMax answers from the sidecar, declines under deletion vectors") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 4,
      statsCols = Seq("score", "name"))
    // delivery shifts scores UP: the true max must come from a fresh file
    LakeTable.merge(spark, root,
      Seq((101L, "zz", 108.0), (102L, "aa", 102.0))
        .toDF("id", "name", "score"))
    LakeTable.fastMinMax(spark, root, "score") shouldBe
      Some((Some("1.0"), Some("108.0")))
    LakeTable.fastMinMax(spark, root, "name") shouldBe
      Some((Some("a"), Some("zz")))
    // a non-stats column can't answer
    LakeTable.fastMinMax(spark, root, "id") shouldBe None
    // a MoR deletion vector may have removed an extremum: decline...
    LakeTable.deleteMor(spark, root, Seq(101L).toDF("id"))
    LakeTable.fastMinMax(spark, root, "score") shouldBe None
    // ...until the rewrite folds it in and the sidecar is exact again
    LakeTable.compactDeletes(spark, root)
    LakeTable.fastMinMax(spark, root, "score") shouldBe
      Some((Some("1.0"), Some("102.0")))
    // and the answer folds the manifests' EXACT ref summaries — with
    // every segment file moved aside (cache dropped) it still serves,
    // like fastCount: MIN/MAX over 10⁷ files in O(refs) driver work
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(root, "_segments"),
      new org.apache.hadoop.fs.Path(root, "_segments_aside"))
    LakeTable.clearSegmentCache()
    LakeTable.fastMinMax(spark, root, "score") shouldBe
      Some((Some("1.0"), Some("102.0")))
    // the deleted row's "zz" is gone from the folded extremum too
    LakeTable.fastMinMax(spark, root, "name") shouldBe
      Some((Some("a"), Some("h")))
    fs.rename(new org.apache.hadoop.fs.Path(root, "_segments_aside"),
      new org.apache.hadoop.fs.Path(root, "_segments"))
  }

  test("rebucket preserves content, folds deletion vectors, keeps the table writable") {
    val root = newRoot()
    LakeTable.init(base, root, Seq("id"), numBuckets = 2,
      statsCols = Seq("score"))
    LakeTable.merge(spark, root,
      Seq((9L, "i", 9.0), (10L, "j", 10.0)).toDF("id", "name", "score"))
    LakeTable.deleteMor(spark, root, Seq(4L).toDF("id"))
    val v = LakeTable.rebucket(spark, root, 8)
    val m = LakeTable.manifest(spark, root, Some(v))
    m.numBuckets shouldBe 8
    m.dvFiles shouldBe empty
    LakeTable.read(spark, root).select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 10L)
    // stats re-measured under the new layout, vectors folded: metadata
    // aggregates answer again
    LakeTable.fastCount(spark, root) shouldBe Some(9L)
    // merge + point lookup work against the new bucket count
    LakeTable.merge(spark, root, Seq((11L, "k", 11.0)).toDF("id", "name", "score"))
    LakeTable.lookup(spark, root, Seq(11L, 2L).toDF("id")).count() shouldBe 2
    // time travel across the boundary: the pre-rebucket version still
    // reads with ITS deletion vector applied
    LakeTable.read(spark, root, Some(v - 1)).count() shouldBe 9
  }

  test("alterIndexing onboards zone maps + blooms without rewriting data") {
    val root = newRoot()
    val rows = (1L to 2000L).map(i => (i, i % 50, i * 1.0))
      .toDF("id", "k", "v")
    LakeTable.init(rows, root, Seq("id"), numBuckets = 2,
      sortCols = Seq("k"), maxRecordsPerFile = 128L)
    def k3 = LakeTable.scan(spark, root).filter($"k".between(3, 3))
    // no statsCols at init: range pruning is unavailable, every file kept
    keptFiles(k3).size shouldBe LakeTable.manifest(spark, root).files.size
    val v = LakeTable.alterIndexing(spark, root, statsCols = Seq("k"),
      bloomCols = Seq("k"))
    val m = LakeTable.manifest(spark, root, Some(v))
    // same files, new indexing contract
    m.files shouldBe LakeTable.manifest(spark, root, Some(v - 1)).files
    m.statsCols shouldBe Seq("k")
    val pruned = keptFiles(k3)
    assert(pruned.size < m.files.size,
      s"expected zone pruning, kept ${pruned.size}/${m.files.size}")
    k3.count() shouldBe 40
    LakeTable.fastMinMax(spark, root, "k") shouldBe
      Some((Some("0"), Some("49")))
  }

  test("dynamicPrunedScan opens only the build keys' files; key bound falls back") {
    val root = newRoot()
    val fact = (1L to 4000L).map(i => (i, i % 40, i * 0.5))
      .toDF("id", "k", "v")
    LakeTable.init(fact, root, Seq("id"), numBuckets = 2,
      sortCols = Seq("k"), statsCols = Seq("k"), bloomCols = Seq("k"),
      maxRecordsPerFile = 256L)
    val dim = Seq(3L, 17L).toDF("k")

    val pruned = LakeTable.dynamicPrunedScan(spark, root, "k", dim)
    val opened = keptFiles(pruned).size
    val (_, total) = LakeTable.lastIndexScan.get
    assert(opened < total, s"expected a pruned scan, opened $opened/$total")
    val got = pruned.join(dim.withColumnRenamed("k", "dk"),
        $"k" === $"dk")
      .agg(count(lit(1)), sum($"v")).head()
    // k=3: Σ(3+40j)/2 = 99150; k=17: Σ(17+40j)/2 = 99850 (j = 0..99)
    (got.getLong(0), got.getDouble(1)) shouldBe ((200L, 199000.0))

    // past the key bound: full scan (no filter reaches the index)
    val wide = (0L until 40L).toDF("k")
    val full = LakeTable.dynamicPrunedScan(spark, root, "k", wide,
      maxKeys = 10)
    LakeTable.lastIndexScan = None
    keptFiles(full).size shouldBe total
    LakeTable.lastIndexScan shouldBe None
    full.count() shouldBe 4000L
  }
}
