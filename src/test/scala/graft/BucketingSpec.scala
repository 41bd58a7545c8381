package graft

import graft.sinks.Bucketing
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val tmp = java.nio.file.Files.createTempDirectory("bucketing").toString

  test("co-bucketed equi-join plans with zero shuffle exchanges") {
    val orders   = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    Bucketing.writeBucketed(orders, "orders_b", s"$tmp/orders_b", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "lineitem_b", s"$tmp/lineitem_b", 4, Seq("l_orderkey"))

    // Force the sort-merge path so the assertion is about bucketing, not
    // broadcast thresholds.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.readTable(spark, "orders_b")
        .join(Bucketing.readTable(spark, "lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"))

      val plan = joined.queryExecution.executedPlan.toString()
      plan should include("SortMergeJoin")
      // The join itself must not shuffle either side: in the printed tree the
      // join's inputs appear AFTER the SortMergeJoin line, so no Exchange may
      // occur from there on (the final aggregate's exchange sits above).
      val joinInputs = plan.substring(plan.indexOf("SortMergeJoin"))
      joinInputs should not include "Exchange"

      // And it still computes the right answer.
      val direct = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).alias("n"))
      joined.except(direct).count() shouldBe 0
      direct.except(joined).count() shouldBe 0
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the registered q_join_bucketed joins its bucketed twins shuffle-free") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // after execution the adaptive plan prints final AND initial plans —
      // assert on the final section only
      def joinSubtree(p: org.apache.spark.sql.DataFrame): String = {
        val full  = p.queryExecution.executedPlan.toString
        val scope = full.split("== Initial Plan ==").head
        scope should include("SortMergeJoin")
        scope.substring(scope.indexOf("SortMergeJoin"))
      }
      val df = SparkEntry.byName("q_join_bucketed").run(spark, sfDir)
      val expected = df.collect().toSeq // materialize (first run writes tables)
      expected should not be empty
      joinSubtree(df) should not include "Exchange"

      // Force the CROSS-SESSION branch deterministically: drop the catalog
      // entries (external tables — files survive) and re-invoke; the query
      // must RE-REGISTER the committed files via bucketed DDL and still
      // produce identical rows with the shuffle-free plan.
      spark.catalog.listTables().collect()
        .map(_.name).filter(n => n.startsWith("cust_bkt_") || n.startsWith("ord_bkt_"))
        .foreach(n => spark.sql(s"DROP TABLE $n"))
      val again = SparkEntry.byName("q_join_bucketed").run(spark, sfDir)
      again.collect().toSeq shouldBe expected
      joinSubtree(again) should not include "Exchange"
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
