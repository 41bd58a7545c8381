package graft

import graft.sinks.LakeTable
import org.apache.spark.sql.functions._

/** Shallow clone (`LakeTable.cloneShallow`): zero-copy branching. The
  * clone's manifest references the source's files ABSOLUTELY — no data
  * bytes move — sidecars carry with rewritten keys (pruning and
  * `fastCount` answer from the first read), writes diverge (clone-local
  * files only), the source never changes, and a compaction on the clone
  * detaches it into a self-contained table.
  */
class LakeCloneSpec extends SparkTestBase {
  import spark.implicits._

  private def roots(): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory("lclone").toString
    (s"$d/src", s"$d/dst")
  }

  private def parquetCount(root: String): Int = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) 0
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(_.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
  }

  private def content(root: String): Set[(Long, String, Double)] =
    LakeTable.read(spark, root)
      .select($"id", $"g", $"x").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"g${i % 3}", i * 1.5 + tag.length)).toDF("id", "g", "x")

  test("clone copies zero data files and serves the pinned snapshot") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 100, "a"), src, Seq("id"), numBuckets = 4,
      sortCols = Seq("x"), statsCols = Seq("x"), maxRecordsPerFile = 16L)
    val before = content(src)
    LakeTable.cloneShallow(spark, src, dst)
    assert(parquetCount(dst) == 0, "shallow clone must copy no data files")
    content(dst) shouldBe before
    assert(LakeTable.fsck(spark, dst).ok)
    // the stats sidecar carried: metadata-only COUNT answers immediately
    LakeTable.fastCount(spark, dst) shouldBe Some(100L)
    // and zone-map pruning works on the clone (narrow x range opens a
    // strict subset of the live files)
    val m = LakeTable.manifest(spark, dst)
    val pruned = keptFiles(LakeTable.scan(spark, dst).filter($"x".between(10.0, 20.0)))
    assert(pruned.size < m.files.size,
      s"expected pruning on the clone: ${pruned.size} vs ${m.files.size}")
  }

  test("the z-order marker travels: a cloned branch keeps incremental layout maintenance") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 200, "a"), src, Seq("id"), numBuckets = 2,
      sortCols = Seq("x"), statsCols = Seq("x", "id"), maxRecordsPerFile = 16L)
    LakeTable.optimizeZOrder(spark, src, Seq("id", "x"))
    LakeTable.cloneShallow(spark, src, dst)
    val v0Files = LakeTable.manifest(spark, dst).files
    // the branch takes a delivery, then maintains its OWN layout — the
    // carried marker means this is the O(delta) incremental pass, not a
    // bootstrap full rewrite: the still-tight source-referenced files of
    // the untouched bucket carry by (absolute) path
    val ins = rows(201 to 260, "b")
      .filter(pmod(hash($"id"), lit(2)) === 1)
    LakeTable.merge(spark, dst, ins)
    val v = LakeTable.optimizeZOrderIncremental(spark, dst)
    val m = LakeTable.manifest(spark, dst)
    m.version shouldBe v
    val carried = v0Files.filter(_._2 == 0)
    carried should not be empty
    carried.foreach(f => m.files should contain(f))
    // content exact and the source untouched
    content(dst) shouldBe (content(src) ++ ins.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))))
    assert(LakeTable.fsck(spark, src).ok)
    // detach is layout-preserving: the localized foreign rows were
    // written z-sorted under the marker's frozen axes and joined the
    // marker, so the branch is already tight — incremental no-ops
    val dv = LakeTable.detachClone(spark, dst)
    LakeTable.optimizeZOrderIncremental(spark, dst) shouldBe dv
    content(dst).size shouldBe (200 + ins.count())
  }

  test("cloning a PRE-optimize version does not copy the head's layout marker") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 200, "a"), src, Seq("id"), numBuckets = 2,
      sortCols = Seq("x"), statsCols = Seq("x", "id"), maxRecordsPerFile = 16L)
    // the head optimizes AFTER v0: the marker postdates the snapshot
    LakeTable.optimizeZOrder(spark, src, Seq("id", "x"))
    LakeTable.cloneShallow(spark, src, dst, version = Some(0L))
    // the cloned entries carry no tightness stamps, so a copied marker
    // would claim a layout the snapshot never had — the branch's first
    // incremental pass would silently full-rewrite under foreign axes.
    // Instead: no marker, and the incremental pass refuses loudly,
    // exactly like any pre-optimize table
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(dst, "_zorder")) shouldBe false
    an[RuntimeException] should be thrownBy
      LakeTable.optimizeZOrderIncremental(spark, dst)
    // the branch bootstraps its own layout normally
    LakeTable.optimizeZOrder(spark, dst, Seq("id", "x"))
    LakeTable.optimizeZOrderIncremental(spark, dst) shouldBe
      LakeTable.manifest(spark, dst).version
    content(dst) shouldBe rows(1 to 200, "a").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
  }

  test("clone-local optimize mints a generation past the inherited one: a restore never fakes tightness") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 200, "a"), src, Seq("id"), numBuckets = 2,
      sortCols = Seq("x"), statsCols = Seq("x", "id"), maxRecordsPerFile = 16L)
    // advance the SOURCE's version counter so its optimize lands on a
    // high slot — the clone's counter restarts at 0 and can catch up to
    // that number with its own commits
    LakeTable.merge(spark, src, rows(201 to 210, "a"))          // src v1
    LakeTable.merge(spark, src, rows(211 to 220, "a"))          // src v2
    LakeTable.merge(spark, src, rows(221 to 230, "a"))          // src v3
    LakeTable.optimizeZOrder(spark, src, Seq("id", "x"))        // src v4, gen 4
    LakeTable.cloneShallow(spark, src, dst)                     // dst v0
    // clone-local deliveries march the local counter to the inherited
    // generation's slot number, then a local full optimize RE-LAYS under
    // swapped z columns — landing on slot 4, the inherited gen's number
    LakeTable.merge(spark, dst, rows(231 to 240, "b"))          // dst v1
    LakeTable.merge(spark, dst, rows(241 to 250, "b"))          // dst v2
    LakeTable.merge(spark, dst, rows(251 to 260, "b"))          // dst v3
    val optV = LakeTable.optimizeZOrder(spark, dst, Seq("x", "id")) // dst v4
    optV shouldBe 4L
    val preRestore = content(dst)
    // restore to the PRE-optimize snapshot: its entries carry the
    // INHERITED source-layout stamps (gen 4). If the local optimize had
    // minted gen = slot = 4, those stamps would falsely match the head
    // marker's generation and the incremental pass would skip them
    // forever (silent permanent layout staleness). Generations are
    // collision-proof across the clone boundary, so the pass must SEE
    // the restored files as stale and re-lay them.
    LakeTable.restore(spark, dst, 3L)
    val restoredHead = LakeTable.manifest(spark, dst).version
    val incrV = LakeTable.optimizeZOrderIncremental(spark, dst)
    incrV should be > restoredHead // re-laid, not a no-op skip
    // the discriminator: NO ref may be skipped as tight — the restored
    // state predates the local layout entirely, so every ref must parse
    // and re-lay. Under the collision (gen = slot number = inherited
    // gen) the carried source-layout refs read as wholly tight and are
    // silently skipped, forever.
    LakeTable.lastZIncrRefs.map(_._2) shouldBe Some(0)
    content(dst) shouldBe preRestore // optimize passes never change rows
    // and once re-laid under the local layout, incremental no-ops
    LakeTable.optimizeZOrderIncremental(spark, dst) shouldBe
      LakeTable.manifest(spark, dst).version
  }

  test("writes diverge: clone-local files only, source untouched and vice versa") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 50, "a"), src, Seq("id"), numBuckets = 2)
    LakeTable.cloneShallow(spark, src, dst)
    val srcBefore = content(src)
    val srcFilesBefore = parquetCount(src)
    // clone gains rows; every fresh file must live under the CLONE root
    LakeTable.merge(spark, dst, rows(51 to 60, "bb"))
    content(src) shouldBe srcBefore
    parquetCount(src) shouldBe srcFilesBefore
    assert(parquetCount(dst) > 0, "clone writes land under the clone root")
    assert(content(dst) == content(src) ++
      rows(51 to 60, "bb").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
    // source evolves independently; the clone keeps serving its branch
    val dstAfterMerge = content(dst)
    LakeTable.delete(spark, src, (1L to 10L).toDF("id"))
    content(dst) shouldBe dstAfterMerge
    assert(content(src) == srcBefore.filterNot(_._1 <= 10L))
    // the clone's rewritten buckets must not have clobbered source reads
    assert(LakeTable.fsck(spark, src).ok)
    assert(LakeTable.fsck(spark, dst).ok)
  }

  test("deletion vectors carry: a MoR-deleted source clones its live rows") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 40, "a"), src, Seq("id"), numBuckets = 2)
    LakeTable.deleteMor(spark, src, (1L to 5L).toDF("id"))
    LakeTable.cloneShallow(spark, src, dst)
    content(dst) shouldBe content(src)
    content(dst).map(_._1).intersect((1L to 5L).toSet) shouldBe Set.empty
  }

  test("compaction detaches the clone; source vacuum can no longer break it") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 60, "a"), src, Seq("id"), numBuckets = 2,
      maxRecordsPerFile = 8L)
    LakeTable.cloneShallow(spark, src, dst)
    LakeTable.merge(spark, dst, rows(61 to 70, "bb"))
    val want = content(dst)
    // rebucket rewrites ALL current content into clone-local files
    LakeTable.rebucket(spark, dst, 4)
    val m = LakeTable.manifest(spark, dst)
    assert(m.files.forall(f => !f._1.contains("/src/")),
      s"detached clone still references source files: ${m.files.map(_._1)}")
    // source churns + vacuums away the cloned version's files
    LakeTable.merge(spark, src, rows(1 to 60, "ccc"))
    LakeTable.vacuum(spark, src, keepLast = 1)
    // the clone's HEAD is self-contained — reads keep working
    content(dst) shouldBe want
    // but its pre-detach versions still reference the vacuumed source
    // files: fsck pins the documented hazard (time travel to them fails)
    assert(!LakeTable.fsck(spark, dst).ok,
      "fsck must report the broken pre-detach references")
    // dropping the pre-detach history completes the detach
    LakeTable.vacuum(spark, dst, keepLast = 1)
    assert(LakeTable.fsck(spark, dst).ok)
    content(dst) shouldBe want
  }

  test("detachClone rewrites only the foreign bytes; local files and sidecars carry") {
    val (src, dst) = roots()
    // MoR-delete BEFORE the clone: the clone carries FOREIGN deletion
    // vectors that detach must localize, not just foreign data files
    LakeTable.init(rows(1 to 60, "a"), src, Seq("id"), numBuckets = 2,
      statsCols = Seq("x"), maxRecordsPerFile = 16L)
    LakeTable.deleteMor(spark, src, (1L to 5L).toDF("id"))
    LakeTable.cloneShallow(spark, src, dst)
    // branch writes: local files (with measured sidecar entries) and a
    // local deletion vector
    LakeTable.merge(spark, dst, rows(61 to 80, "bb"))
    LakeTable.deleteMor(spark, dst, Seq(70L).toDF("id"))
    val preM = LakeTable.manifest(spark, dst)
    val preLocalFiles = preM.files.map(_._1).filter(_.startsWith("data/")).toSet
    val want = content(dst)

    val v = LakeTable.detachClone(spark, dst)
    val m = LakeTable.manifest(spark, dst)
    m.version shouldBe v
    // fully self-contained head: every data file AND deletion vector local
    assert((m.files ++ m.dvFiles).forall(_._1.startsWith("data/")),
      s"detached head still references foreign paths: ${m.files ++ m.dvFiles}")
    // the branch's own files were NOT rewritten — same paths carry
    assert(preLocalFiles.subsetOf(m.files.map(_._1).toSet),
      "detach must carry clone-local files untouched")
    content(dst) shouldBe want
    // already-detached: no-op, same version
    LakeTable.detachClone(spark, dst) shouldBe v
    // the full independence claim: detach + history vacuum survives any
    // source churn/vacuum
    LakeTable.vacuum(spark, dst, keepLast = 1)
    LakeTable.merge(spark, src, rows(1 to 60, "ccc"))
    LakeTable.vacuum(spark, src, keepLast = 1)
    content(dst) shouldBe want
    assert(LakeTable.fsck(spark, dst).ok)
    // zone maps still prune on the detached table (sidecars carried for
    // local files, measured for the rewrite)
    val pruned = keptFiles(LakeTable.scan(spark, dst).filter($"x".between(10.0, 20.0)))
    assert(pruned.size < m.files.size)
  }

  test("clone of a clone references the original files, not the middle clone") {
    val (src, mid) = roots()
    val dst2 = mid + "2"
    LakeTable.init(rows(1 to 30, "a"), src, Seq("id"), numBuckets = 2)
    LakeTable.cloneShallow(spark, src, mid)
    LakeTable.cloneShallow(spark, mid, dst2)
    val m = LakeTable.manifest(spark, dst2)
    assert(m.files.forall(f => f._1.contains("/src/")),
      s"expected original-file references, got ${m.files.map(_._1)}")
    content(dst2) shouldBe content(src)
  }

  test("cloning a pinned older version branches history") {
    val (src, dst) = roots()
    LakeTable.init(rows(1 to 20, "a"), src, Seq("id"), numBuckets = 2)
    val v0 = LakeTable.manifest(spark, src).version
    LakeTable.merge(spark, src, rows(21 to 30, "bb"))
    LakeTable.cloneShallow(spark, src, dst, Some(v0))
    content(dst) shouldBe rows(1 to 20, "a").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
  }
}
