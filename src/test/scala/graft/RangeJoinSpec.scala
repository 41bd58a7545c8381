package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("binned range join equals the naive theta join") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_acctbal"))
    val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"),
        (col("s_acctbal") - 50.0).alias("lo"), (col("s_acctbal") + 50.0).alias("hi"))

    val binned = RangeJoin.pointInInterval(cust, supp, "c_acctbal", "lo", "hi", 100.0)
      .select("c_custkey", "s_suppkey")
    val naive = cust.join(supp,
        col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
      .select("c_custkey", "s_suppkey")

    binned.count() shouldBe naive.count()
    binned.except(naive).count() shouldBe 0
    naive.except(binned).count() shouldBe 0
  }

  test("binned range join plans as a hash join, not nested-loop/cartesian") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_acctbal"))
    val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"),
        (col("s_acctbal") - 50.0).alias("lo"), (col("s_acctbal") + 50.0).alias("hi"))
    val plan = RangeJoin.pointInInterval(cust, supp, "c_acctbal", "lo", "hi", 100.0)
      .queryExecution.executedPlan.toString()
    plan should not include "BroadcastNestedLoop"
    plan.toLowerCase should not include "cartesian"
    plan should include("HashJoin")
  }

  test("as-of via union-stream last-value window equals the join formulation, plans join-free") {
    // q_join_asof's production plan (union stream + running last click) must
    // match the semantically-obvious-but-quadratic purchases⋈clicks plan:
    // latest click per user with c_ts <= p_ts, ties to the max click_id.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // ts has shipped as both TIMESTAMP(NANOS) (reads as long under the
    // legacy conf) and TIMESTAMP(MICROS) across testdata generations
    val ev = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").alias("purchase_id"), col("user_id"), col("ts").alias("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").alias("click_id"), col("user_id"), col("ts").alias("c_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id")).orderBy(col("c_ts").desc, col("click_id").desc)
    val joined = purchases.join(clicks, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("purchase_id"), col("click_id"))

    val prod = SparkEntry.byName("q_join_asof").run(spark, sfDir)

    prod.count() shouldBe joined.count()
    prod.except(joined).count() shouldBe 0
    joined.except(prod).count() shouldBe 0
    val plan = prod.queryExecution.executedPlan.toString()
    plan should not include "Join" // one window sort, zero pair fan-out
  }

  test("interval spanning many bins still matches every contained point") {
    import spark.implicits._
    val points = Seq(1.0, 5.0, 99.0, 250.0, 999.0).toDF("p").withColumn("pid", col("p"))
    val intervals = Seq((0.0, 1000.0, "wide"), (90.0, 110.0, "narrow")).toDF("lo", "hi", "name")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 10.0)
      .groupBy("name").agg(count(lit(1)).alias("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out("wide") shouldBe 5L
    out("narrow") shouldBe 1L
  }

  test("overlap join: one emission per pair across shared bins, inclusive edges, hash-planned") {
    import spark.implicits._
    val l = Seq((1L, 0.0, 100.0),   // spans many bins; overlaps r1, r2
                (2L, 95.0, 96.0),   // inside r1
                (3L, 200.0, 210.0)  // touches r3 exactly at 210
      ).toDF("l_id", "l_lo", "l_hi")
    val r = Seq((10L, 50.0, 150.0), // shares bins 5..10 with l1 — must emit once
                (20L, 100.0, 100.0),// point-interval touching l1's right edge
                (30L, 210.0, 220.0) // inclusive-edge adjacency with l3
      ).toDF("r_id", "r_lo", "r_hi")
    val out = RangeJoin.overlapJoin(l, r, "l_lo", "l_hi", "r_lo", "r_hi", 10.0)
    val pairs = out.select($"l_id", $"r_id").as[(Long, Long)].collect().sorted
    pairs shouldBe Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 30L))

    // equals the naive theta join on random-ish data
    val bigL = spark.range(200).select(($"id" * 7 % 500).cast("double").alias("l_lo"))
      .withColumn("l_hi", $"l_lo" + 15.0).withColumn("l_id", monotonically_increasing_id())
    val bigR = spark.range(200).select(($"id" * 13 % 500).cast("double").alias("r_lo"))
      .withColumn("r_hi", $"r_lo" + 9.0).withColumn("r_id", monotonically_increasing_id())
    val binned = RangeJoin.overlapJoin(bigL, bigR, "l_lo", "l_hi", "r_lo", "r_hi", 20.0)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    val naive = bigL.join(bigR,
        $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi")
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    binned shouldBe naive

    // the join is an equi hash join on the bin id, never a nested loop
    val plan = out.queryExecution.executedPlan.toString()
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }
}
