package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.sinks.LakeTable

/** Point lookups with a driver-resident probe ([[LakeTable.lookup]]): a
  * probe whose optimized plan is a `LocalRelation` is resolved on the
  * driver — bucket ids folded without a job, key membership one `InSet`
  * over the key struct — so the read is ONE job. Every case twin-checks
  * that path against the same probe after `.repartition(2)`, which takes
  * the distributed path (bucket-id probe + deduplicated broadcast
  * semi-join), and against a hand-computed model.
  */
class LakeLookupSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name).toString
    new java.io.File(p).delete(); p
  }

  /** (result, jobs it scheduled): only jobs carrying this call's tag
    * count, so a straggler from an earlier test can not leak in.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .flatMap(p => Option(p.getProperty("graft.spec.tag")))
            .contains(tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val r = body
      org.apache.spark.graftbridge.GraftCoreBridge.waitListenerBusEmpty(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(l)
    }
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  /** The local path's rows and job count, after checking them against
    * the distributed twin of the same probe.
    */
  private def twinLookup(root: String, probe: DataFrame,
      version: Option[Long] = None): (Seq[Row], Int) = {
    val (local, jobs) =
      jobsOf(rowsOf(LakeTable.lookup(spark, root, probe, version)))
    val dist = rowsOf(LakeTable.lookup(spark, root, probe.repartition(2),
      version))
    sorted(local) shouldBe sorted(dist)
    (local, jobs)
  }

  // composite key (region, id) with NULL parts on both sides
  private val base: Seq[(Option[String], Option[Long], String)] =
    (1L to 40L).map(i => (Some(s"r${i % 3}"), Some(i), s"v$i")) ++ Seq(
      (None, Some(7L), "null-region-7"),
      (Some("r1"), None, "r1-null-id"),
      (None, None, "both-null"))

  private def baseDf: DataFrame = base.toDF("region", "id", "v")

  private def probeDf(ps: Seq[(Option[String], Option[Long])]): DataFrame =
    ps.toDF("region", "id")

  private def model(rows: Seq[(Option[String], Option[Long], String)],
      ps: Seq[(Option[String], Option[Long])]): Seq[String] =
    rows.filter(r => ps.contains((r._1, r._2)))
      .map(r => Row(r._1.orNull, r._2.getOrElse(null), r._3).toString)
      .sorted

  test("a local probe with NULL key parts, duplicate and absent keys " +
      "returns the distributed path's rows in exactly one job") {
    val root = tmp("lookup_nulls")
    LakeTable.init(baseDf, root, Seq("region", "id"), numBuckets = 8)
    val ps = Seq(
      (Some("r1"), Some(1L)), (Some("r1"), Some(1L)), // duplicate
      (Some("r2"), Some(5L)),
      (None, Some(7L)), (None, Some(7L)),             // NULL region, dup
      (Some("r1"), None),                             // NULL id
      (None, None),                                   // both NULL
      (Some("r0"), Some(1L)),                         // absent: wrong region
      (None, Some(8L)),                               // absent: NULL region
      (Some("zz"), Some(999L)))                       // absent outright
    val (got, jobs) = twinLookup(root, probeDf(ps))
    sorted(got) shouldBe model(base, ps)
    got.length shouldBe 5
    jobs shouldBe 1
  }

  test("outstanding deletion vectors are subtracted on the local path") {
    val root = tmp("lookup_dv")
    LakeTable.init(baseDf, root, Seq("region", "id"), numBuckets = 8)
    val dead = Seq[(Option[String], Option[Long])](
      (Some("r1"), Some(4L)), (None, Some(7L)), (Some("r1"), None))
    LakeTable.deleteMor(spark, root, probeDf(dead))
    LakeTable.manifest(spark, root).dvFiles should not be empty
    val ps = Seq[(Option[String], Option[Long])](
      (Some("r1"), Some(4L)), (None, Some(7L)), (Some("r1"), None),
      (None, None), (Some("r2"), Some(2L)))
    val (got, _) = twinLookup(root, probeDf(ps))
    sorted(got) shouldBe model(base.filterNot(r => dead.contains((r._1, r._2))), ps)
    got.length shouldBe 2
  }

  test("a pinned version reads that snapshot on the local path") {
    val root = tmp("lookup_pinned")
    LakeTable.init(baseDf, root, Seq("region", "id"), numBuckets = 8)
    val v0 = LakeTable.manifest(spark, root).version
    LakeTable.merge(spark, root, Seq[(Option[String], Option[Long], String)](
      (Some("r1"), Some(1L), "changed"), (Some("r9"), Some(100L), "new"))
      .toDF("region", "id", "v"))
    val ps = Seq[(Option[String], Option[Long])](
      (Some("r1"), Some(1L)), (Some("r9"), Some(100L)))
    val (old, oldJobs) = twinLookup(root, probeDf(ps), Some(v0))
    sorted(old) shouldBe model(base, ps)
    oldJobs shouldBe 1
    val (head, _) = twinLookup(root, probeDf(ps))
    head.map(_.getString(2)).sorted shouldBe Seq("changed", "new")
  }

  test("a 20,000-key local probe matches the distributed path in one job") {
    val root = tmp("lookup_wide")
    val table = (1L to 30000L).map(i => (i * 2, s"v$i")).toDF("id", "v")
    LakeTable.init(table, root, Seq("id"), numBuckets = 16)
    // 20,000 keys: the odd ones (10,000) are absent
    val keys = (1L to 20000L).map(_ + 10000L)
    val (got, jobs) = twinLookup(root, keys.toDF("id"))
    got.map(_.getLong(0)).sorted shouldBe keys.filter(_ % 2 == 0)
    jobs shouldBe 1
  }

  test("int probes on a bigint key up-cast on both paths") {
    val root = tmp("lookup_upcast")
    LakeTable.init((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), root,
      Seq("id"), numBuckets = 8)
    val probe = Seq(3, 17, 64, 150, 999).toDF("id")
    val want = Seq(3L, 17L, 64L, 150L)
    val (got, jobs) = twinLookup(root, probe)
    got.map(_.getLong(0)).sorted shouldBe want
    jobs shouldBe 1
    rowsOf(LakeTable.lookup(spark, root, probe.repartition(2)))
      .map(_.getLong(0)).sorted shouldBe want
    // a key type that does not up-cast is refused, not misrouted
    an[IllegalArgumentException] should be thrownBy
      LakeTable.lookup(spark, root, Seq("3").toDF("id"))
  }

  test("touchedBuckets over a local source runs no job and matches the " +
      "distributed probe") {
    val src = probeDf(Seq((Some("r1"), Some(1L)), (None, Some(7L)),
      (Some("r1"), None), (None, None), (Some("r2"), Some(5L))))
    val keys = Seq("region", "id")
    val (local, jobs) = jobsOf(LakeTable.touchedBuckets(src, keys, 8))
    jobs shouldBe 0
    val (dist, distJobs) =
      jobsOf(LakeTable.touchedBuckets(src.repartition(2), keys, 8))
    local shouldBe dist
    distJobs should be > 0
  }

  test("a distributed probe keeps its plan: bucket-id probe, broadcast " +
      "build and scan") {
    val root = tmp("lookup_dist")
    LakeTable.init(baseDf, root, Seq("region", "id"), numBuckets = 8)
    val ps = Seq[(Option[String], Option[Long])](
      (Some("r1"), Some(1L)), (None, Some(7L)), (Some("zz"), Some(999L)))
    val probe = probeDf(ps).repartition(2)
    val (got, jobs) =
      jobsOf(rowsOf(LakeTable.lookup(spark, root, probe)))
    sorted(got) shouldBe model(base, ps)
    jobs shouldBe 7
  }
}
