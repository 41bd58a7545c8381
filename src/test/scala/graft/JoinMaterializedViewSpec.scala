package graft

import graft.sinks.{JoinMaterializedView, LakeTable}
import org.apache.spark.sql.functions._

class JoinMaterializedViewSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  // fact(id, custkey, amount) ⋈ dim(custkey, segment) GROUP BY segment
  private def factDf(rows: (Long, Long, Double)*) =
    rows.toDF("id", "custkey", "amount")
  private def dimDf(rows: (Long, String)*) =
    rows.toDF("custkey", "segment")

  private def served(mvRoot: String): Map[String, (Long, BigDecimal)] =
    JoinMaterializedView.read(spark, mvRoot).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  private def recomputed(factRoot: String,
      dimRoot: String): Map[String, (Long, BigDecimal)] = {
    val f = referenceRead(factRoot)
    val d = referenceRead(dimRoot)
    f.join(d, f("custkey") === d("custkey"), "inner")
      .groupBy(col("segment"))
      .agg(count(lit(1)).alias("cnt"),
        sum(col("amount").cast("decimal(38,6)")).cast("decimal(38,6)")
          .alias("s"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
  }

  test("incremental join view == full recompute across fact and dim deliveries") {
    val factRoot = newRoot("jmv_fact"); val dimRoot = newRoot("jmv_dim")
    val mvRoot = newRoot("jmv_view")
    LakeTable.init(factDf(
      (1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 4.0), (4L, 30L, 8.0),
      (5L, 99L, 100.0) // fk with NO dim row: outside the view until 99 lands
    ), factRoot, Seq("id"), numBuckets = 4, statsCols = Seq("custkey"))
    LakeTable.init(dimDf(
      (10L, "A"), (20L, "A"), (30L, "B")
    ), dimRoot, Seq("custkey"), numBuckets = 2)

    JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
      "custkey", Seq("segment"), Seq("amount"), numBuckets = 2)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot)("A") shouldBe ((3L, BigDecimal("7.000000")))

    // fact delivery: insert + update (amount change) — dim quiet, so the
    // dim leg is skipped entirely
    LakeTable.merge(spark, factRoot,
      factDf((6L, 20L, 16.0), (1L, 10L, 1.5)))
    LakeTable.lastIndexScan = None
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    LakeTable.lastIndexScan shouldBe None // the dim leg planned no fact scan
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot)("A") shouldBe ((4L, BigDecimal("23.500000")))

    // dim delivery: segment MOVE (20: A -> B) re-attributes old fact rows
    // between groups; late-arriving pk 99 pulls the waiting fact row in
    LakeTable.merge(spark, dimRoot, dimDf((20L, "B"), (99L, "C")))
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot)("B") shouldBe ((3L, BigDecimal("28.000000")))
    served(mvRoot)("C") shouldBe ((1L, BigDecimal("100.000000")))

    // retraction to zero: deleting the only B-segment dim rows removes
    // the group from the view outright
    LakeTable.delete(spark, dimRoot, Seq(20L, 30L).toDF("custkey"))
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot).keySet should not contain "B"

    // no-op refresh: both tables current -> same view version, no write
    val v = JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot) shouldBe v
  }

  test("both sides change in one refresh: the cross term is counted exactly once") {
    val factRoot = newRoot("jmv2_fact"); val dimRoot = newRoot("jmv2_dim")
    val mvRoot = newRoot("jmv2_view")
    LakeTable.init(factDf((1L, 10L, 1.0), (2L, 20L, 2.0)),
      factRoot, Seq("id"), numBuckets = 2)
    LakeTable.init(dimDf((10L, "A"), (20L, "B")),
      dimRoot, Seq("custkey"), numBuckets = 2)
    JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
      "custkey", Seq("segment"), Seq("amount"), numBuckets = 2)

    // ΔF references a key ΔD is simultaneously inserting (30), a key ΔD is
    // moving (20: B->C), and a stable key (10) — every ΔF⋈ΔD shape at once
    LakeTable.merge(spark, factRoot,
      factDf((3L, 30L, 4.0), (4L, 20L, 8.0), (5L, 10L, 16.0)))
    LakeTable.merge(spark, dimRoot, dimDf((30L, "C"), (20L, "C")))
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot)("C") shouldBe ((3L, BigDecimal("14.000000")))
    served(mvRoot).keySet should not contain "B"
  }

  test("NULL group key: a delta lands ON the stored NULL-group row, not beside it") {
    val factRoot = newRoot("jmv4_fact"); val dimRoot = newRoot("jmv4_dim")
    val mvRoot = newRoot("jmv4_view")
    // dim attribute NULL for key 10: five fact rows accumulate under the
    // NULL group at init; a later delivery must ADD to that state — a
    // non-null-safe merge would leave delta and stored row unmatched and
    // the keyed upsert would overwrite cnt=5 with cnt=1
    LakeTable.init(factDf((1L to 5L).map(i => (i, 10L, i.toDouble)): _*),
      factRoot, Seq("id"), numBuckets = 2)
    LakeTable.init(Seq((10L, null.asInstanceOf[String]), (20L, "A"))
      .toDF("custkey", "segment"), dimRoot, Seq("custkey"), numBuckets = 2)
    JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
      "custkey", Seq("segment"), Seq("amount"), numBuckets = 2)
    served(mvRoot)(null) shouldBe ((5L, BigDecimal("15.000000")))

    LakeTable.merge(spark, factRoot, factDf((6L, 10L, 2.0)))
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot)(null) shouldBe ((6L, BigDecimal("17.000000")))

    // and the NULL group retires like any other when its dim row goes
    LakeTable.delete(spark, dimRoot, Seq(10L).toDF("custkey"))
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    served(mvRoot).keySet should not contain null
  }

  test("init rejects group columns named into the aggregate namespace") {
    val factRoot = newRoot("jmv5_fact"); val dimRoot = newRoot("jmv5_dim")
    LakeTable.init(factDf((1L, 10L, 1.0)), factRoot, Seq("id"),
      numBuckets = 2)
    LakeTable.init(Seq((10L, "A")).toDF("custkey", "sum_segment"),
      dimRoot, Seq("custkey"), numBuckets = 2)
    // refresh reconstructs sumCols by the sum_ prefix: a group column
    // named sum_* would be misclassified on the FIRST refresh — init
    // must reject it rather than accept an unrefreshable view
    an[IllegalArgumentException] should be thrownBy
      JoinMaterializedView.init(spark, factRoot, dimRoot,
        newRoot("jmv5_view"), "custkey", Seq("sum_segment"), Seq("amount"),
        numBuckets = 2)
  }

  test("dim leg prunes fact files through the fact's zone-map sidecar") {
    val factRoot = newRoot("jmv3_fact"); val dimRoot = newRoot("jmv3_dim")
    val mvRoot = newRoot("jmv3_view")
    // fact clustered on custkey, rolled into small files so each key
    // range lives in few files; 1 bucket makes the file count deterministic
    val bigFact = (1L to 400L).map(i => (i, i % 20, i.toDouble))
    LakeTable.init(bigFact.toDF("id", "custkey", "amount"), factRoot,
      Seq("id"), numBuckets = 1, sortCols = Seq("custkey"),
      statsCols = Seq("custkey"), maxRecordsPerFile = 50L)
    LakeTable.init((0L until 20L).map(i => (i, if (i < 10) "A" else "B"))
      .toDF("custkey", "segment"), dimRoot, Seq("custkey"), numBuckets = 2)
    JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
      "custkey", Seq("segment"), Seq("amount"), numBuckets = 2)

    LakeTable.merge(spark, dimRoot, dimDf((3L, "B")))
    LakeTable.lastIndexScan = None
    JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    served(mvRoot) shouldBe recomputed(factRoot, dimRoot)
    // the dim leg opened a strict subset of the fact's live files
    val (opened, live) = LakeTable.lastIndexScan.get
    live should be > 1
    opened should be < live
  }
}
