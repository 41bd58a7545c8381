package graft

import org.apache.spark.sql.functions._
import graft.sinks.{LakeTable, MaterializedView}

/** The round-16 probe-batching contract ([[LakeTable.TouchedHint]]): a
  * commit whose caller already aggregated the delta's bucket ids in an
  * action it ran anyway (a stream batch's kinds probe, a view refresh's
  * shared probe) skips its own `lake:touched` collect — same rows
  * published, one fewer scheduler round-trip per commit — and a hint
  * derived under a DIFFERENT layout is ignored, never trusted.
  */
class ProbeHintSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name).toString
    new java.io.File(p).delete(); p
  }

  test("mergeTagged with a matching TouchedHint publishes the same rows " +
      "and schedules no lake:touched job") {
    val rootA = tmp("hint_a"); val rootB = tmp("hint_b")
    val base = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    LakeTable.init(base, rootA, Seq("id"), numBuckets = 8)
    LakeTable.init(base, rootB, Seq("id"), numBuckets = 8)
    val delta = (150 to 260).map(i => (i.toLong, s"w$i")).toDF("id", "v")
      .localCheckpoint()

    // the buckets the delta hashes to, computed the way a batching caller
    // would (one aggregate action of its own)
    val touched = LakeTable.touchedBuckets(delta, Seq("id"), 8)
    touched should not be empty

    val (_, p) = QueryProfile.measure(spark) {
      LakeTable.mergeTagged(spark, rootA, delta, None, None,
        Some(LakeTable.TouchedHint(Seq("id"), 8, touched)))
      LakeTable.mergeTagged(spark, rootB, delta, None, None, None)
    }
    val probes = p.jobs.map(_.label).filter(_.startsWith("lake:touched"))

    val byRoot = probes.groupBy(identity)
    // hinted commit: no probe; unhinted twin: exactly one
    byRoot.keys.count(_.contains("hint_a")) shouldBe 0
    byRoot.keys.count(_.contains("hint_b")) shouldBe 1

    val a = LakeTable.read(spark, rootA).orderBy("id").collect().toSeq
    val b = LakeTable.read(spark, rootB).orderBy("id").collect().toSeq
    a shouldBe b
    a.length shouldBe 260
  }

  test("a layout-mismatched TouchedHint is ignored: the commit falls back " +
      "to probing and still publishes the right rows") {
    val root = tmp("hint_mismatch")
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    LakeTable.init(base, root, Seq("id"), numBuckets = 8)
    val delta = Seq((5L, "X"), (101L, "Y")).toDF("id", "v")
    // wrong numBuckets AND a bucket set that could not cover the delta —
    // if the guard failed, bucket 5's rewrite would drop the delta rows
    val stale = LakeTable.TouchedHint(Seq("id"), 4, Set(0))
    LakeTable.mergeTagged(spark, root, delta, None, None, Some(stale))
    val got = LakeTable.read(spark, root)
      .filter(col("id").isin(5L, 101L)).orderBy("id")
      .select("v").as[String].collect().toSeq
    got shouldBe Seq("X", "Y")
  }

  test("MaterializedView refresh shares ONE probe between its lookup and " +
      "its publish (no lake:touched job against the view root)") {
    val base = tmp("hint_mv_base"); val mv = tmp("hint_mv_view")
    val rows = (1 to 300).map(i => (i.toLong, s"g${i % 5}", i * 1.5))
      .toDF("id", "grp", "x")
    LakeTable.init(rows, base, Seq("id"), numBuckets = 8)
    MaterializedView.init(spark, base, mv, Seq("grp"), Seq("x"),
      numBuckets = 4, minMaxCols = Seq("x"))
    LakeTable.merge(spark, base,
      (301 to 340).map(i => (i.toLong, s"g${i % 5}", i * 2.0))
        .toDF("id", "grp", "x"))
    LakeTable.delete(spark, base,
      (1 to 60).map(_.toLong).toDF("id"))

    val (_, p) = QueryProfile.measure(spark) {
      MaterializedView.refresh(spark, base, mv)
    }
    val ds = p.jobs.map(_.label)
      .filter(d => d.startsWith("lake:touched") || d == "mv:touched")
    val mvName = new java.io.File(mv).getName
    // the view's read AND write ride the one mv:touched probe action
    // (AQE may split that single action into >1 job — the contract is
    // that NO probe is scheduled against the view root anymore)
    ds.count(_ == "mv:touched") should be >= 1
    ds.count(d => d.startsWith("lake:touched") && d.contains(mvName)) shouldBe 0

    // and the maintained state equals a full recompute
    val got = MaterializedView.read(spark, mv)
      .select(col("grp"), col("cnt"),
        round(col("sum_x").cast("double"), 3).alias("s"),
        round(col("min_x"), 3).alias("mn"), round(col("max_x"), 3).alias("mx"))
      .orderBy("grp").collect().toSeq
    val want = LakeTable.read(spark, base).groupBy("grp")
      .agg(count(lit(1)).alias("cnt"),
        round(sum(col("x")).cast("double"), 3).alias("s"),
        round(min(col("x")), 3).alias("mn"), round(max(col("x")), 3).alias("mx"))
      .orderBy("grp").collect().toSeq
    got shouldBe want
  }
}
