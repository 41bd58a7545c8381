package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity proof: materialize a 10× blow-up of the sf0.1 tables
  * (= sf1: ~6M-row lineitem, 50k docs, 1.2M events) and time the heaviest
  * registry queries at both scales. The claim every "100 TB posture" note
  * in this repo rests on is that the plans are linear in input size — this
  * main MEASURES it: a query whose warm time grows ≫10× on 10× data has a
  * superlinear term (pair fan-out, driver loop, broadcast overflow) that
  * sf0.1 hides.
  *
  * The blow-up keeps query semantics honest rather than photocopying rows:
  *  - fact keys (orderkey/custkey/suppkey/doc_id/vec_id/event_id/user_id)
  *    shift by a 10M stride per copy, so joins fan out 10× without key
  *    collisions; dimension tables (nation/region/part) stay fixed, like a
  *    real TPC-H scale-up.
  *  - document TEXT is re-tokenized per copy (every token gets a per-copy
  *    suffix), so copies are textually DISTINCT: near-dup structure scales
  *    10× instead of every doc gaining 9 exact twins (which would blow the
  *    LSH bucket distribution and measure a different workload).
  *  - events keep their timestamp distribution; 10× users at the same
  *    per-user activity — the as-of/sessionize partition count grows, the
  *    per-partition work does not.
  *
  * Emits one JSON line carrying a machine-readable per-entry table
  * (`entries`: [{query, copies, base:{cold,warm}, scaled:{cold,warm},
  * ratio, gate, pass}]) plus the legacy {"sf01","sf1","ratio"} maps the
  * merge driver (`tools/scale_iso.py`) consumes, and exits nonzero if
  * any entry FAILS ITS GATE.
  *
  * The gate is per-query, evaluated at the contract decade (10×):
  * default 3.0 — a linear plan with a sublinear fixed-overhead share
  * lands well under it (r10 median 1.34, max 2.11), while any
  * superlinear term (pair fan-out, driver loop, broadcast overflow)
  * blows straight through. Queries whose CONTRACT is O(table) work per
  * run declare an explicit exemption with the linear null hypothesis
  * (10.0) as their bound — see [[gates]]. Other copy counts (30×/100×
  * depth probes) report `gate: null` and never fail the run: their
  * honest bound would be data-shape-specific, and the 10× gate already
  * pins the growth class.
  */
object ScaleProof {

  private val stride = 10_000_000L

  /** Per-query warm-ratio gate at the 10× decade: (bound, why). */
  private[graft] val defaultGate = 3.0
  private[graft] val gates: Map[String, (Double, String)] = Map(
    // OPTIMIZE ZORDER rewrites the WHOLE table by contract — linear
    // (10.0) is the null hypothesis for 10x data, not ~1x
    "q_lake_zorder" -> (10.0, "full-table rewrite by contract"),
    // the incremental-optimize ORACLE lifecycle hash-scatters its
    // delivery by design (correctness surface: every bucket is touched);
    // the O(touched-bucket) claim is measured bucket-confined in
    // zorder_incremental_legs
    "q_lake_zorder_incr" -> (10.0, "oracle delivery hash-scatters by design"))

  private[graft] def gateFor(q: String): (Double, String) =
    gates.getOrElse(q, (defaultGate, "sublinear-or-linear growth contract"))

  /** Gate verdicts for a measured run: (query, ratio, bound) for every
    * entry that fails. Only the 10× decade is gated (see class doc). */
  private[graft] def gateFailures(copies: Int,
      ratios: Map[String, Double]): Seq[(String, Double, Double)] =
    if (copies != 10) Nil
    else ratios.toSeq.collect {
      case (q, r) if r > gateFor(q)._1 => (q, r, gateFor(q)._1)
    }

  /** Deliberately superlinear toy queries, runnable ONLY through the
    * scale proof (never registered in [[SparkEntry.registry]], so the
    * correctness driver and bench never see them). `toy_quadratic` is an
    * all-pairs theta self-join over documents — O(n²) by construction —
    * kept as the demonstration that the gate actually fails a
    * superlinear plan (ScaleGateSpec measures it at two scales and runs
    * [[gateFailures]] on the result).
    */
  private[graft] val toyQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map("toy_quadratic" -> ((s: SparkSession, dir: String) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), length(col("text")).alias("len"))
      d.alias("a").join(d.alias("b"), col("a.len") <= col("b.len"))
        .groupBy(col("a.doc_id")).agg(count(lit(1)).alias("geq"))
    }))

  /** The heaviest registry queries (bench ranking) — the scale gate. */
  private val heavyAll = Seq(
    "q_dedup_minhash", "q_corpus_funnel", "q_quality_classifier",
    "q_embedding_spread", "q_join_asof", "q_tpch_q1", "q_tpch_q3",
    "q_tpch_q5", "q_tpch_q6", "q_tpch_q10",
    "q_corpus_export", "q_split_leakage_safe", "q_ann_ivfpq_indexed",
    "q_epoch_export", "q_dedup_incremental_neardup",
    "q_lake_cdf", "q_mv_incremental", "q_pagerank", "q_bm25_index_append",
    "q_mv_minmax",
    // r10 continuation: the new lifecycle/ANN surfaces plus the heaviest
    // bench query (HLL MV), none of which the original 20 covered
    "q_mv_join", "q_ann_binary", "q_lake_analyze", "q_mv_approx_distinct",
    // r10 fifth session: quantile/variance MVs, clone+detach, served
    // top-k, the re-bucketed z-order lifecycle
    "q_mv_quantile", "q_mv_variance", "q_lake_clone", "q_lake_zorder",
    "q_mv_topk",
    // r10 sixth session: the incremental-optimize lifecycle (its oracle
    // delivery is hash-scattered BY DESIGN, so this entry reads like the
    // full rewrite — the O(delta) claim lives in the scale proof's
    // zorder_incremental_legs field, measured bucket-confined)
    "q_lake_zorder_incr",
    // r11 continuation: the plan-time-pruned scan, the streaming CDC
    // mirror lifecycle, and the cross-table transaction lifecycle
    "q_lake_scan_pushdown", "q_lake_cdf_mirror", "q_lake_txn",
    // r12: the consistent-cut pair-mirror lifecycle and the frozen-index
    // drift alarm (two index builds + four delta measurements per run)
    "q_lake_txn_mirror", "q_ann_drift_alarm",
    // r13: the N-table (fact+dim+bridge) consistent-cut mirror lifecycle
    "q_lake_txn_mirror3",
    // r15: the clock-skew-safe vacuum lifecycle (joined the board r14
    // without a scale entry)
    "q_lake_retention")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scaleproof_out.json")
    val copies = sys.env.get("SPARK_GRAFT_SCALE_COPIES").map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // comma-separated name substrings restrict the query set — for leg
    // isolation and for the deeper-scale (30×) step on the heaviest five;
    // toy (deliberately superlinear) queries run only when named
    val heavy = sys.env.get("SPARK_GRAFT_SCALE_FILTER") match {
      case Some(subs) =>
        val pats = subs.split(",").toSeq
        (heavyAll ++ toyQueries.keys).filter(q => pats.exists(q.contains))
      case None => heavyAll
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    generate(spark, srcDir, sf1Dir, copies)

    val allQueries = SparkEntry.byName.map { case (n, q) => n -> q.run } ++ toyQueries
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      allQueries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def run(dir: String): Map[String, (Double, Double)] =
      heavy.map { q =>
        val cold = time(q, dir)
        val warm = (1 to 2).map(_ => time(q, dir)).min
        System.err.println(f"[scale] $q%-22s $dir%-24s cold=$cold%7.2fs warm=$warm%7.2fs")
        q -> (cold, warm)
      }.toMap

    val small = run(srcDir)
    val big   = run(sf1Dir)
    val ratio = heavy.map(q => q -> big(q)._2 / math.max(1e-9, small(q)._2)).toMap

    def fmtQ(m: Map[String, (Double, Double)]): String =
      heavy.map(q => s""""$q":{"cold":${f"${m(q)._1}%.3f"},"warm":${f"${m(q)._2}%.3f"}}""")
        .mkString("{", ",", "}")
    val failed = gateFailures(copies, ratio).map(_._1).toSet
    val entries = heavy.map { q =>
      val gate = if (copies == 10) f"${gateFor(q)._1}%.1f" else "null"
      s"""{"query":"$q","copies":$copies,""" +
        s""""base":{"cold":${f"${small(q)._1}%.3f"},"warm":${f"${small(q)._2}%.3f"}},""" +
        s""""scaled":{"cold":${f"${big(q)._1}%.3f"},"warm":${f"${big(q)._2}%.3f"}},""" +
        s""""ratio":${f"${ratio(q)}%.2f"},"gate":$gate,""" +
        s""""pass":${!failed(q)}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"scale_ratio_max","value":${f"${ratio.values.max}%.2f"},""" +
      s""""unit":"x_warm_time_for_${copies}x_data","copies":$copies,""" +
      s""""entries":$entries,""" +
      s""""sf01":${fmtQ(small)},"sf1":${fmtQ(big)},""" +
      s""""ratio":${heavy.map(q => s""""$q":${f"${ratio(q)}%.2f"}""").mkString("{", ",", "}")}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gateFailures(copies, ratio).foreach { case (q, r, g) =>
      System.err.println(f"[scale] GATE FAIL: $q warm ratio $r%.2f > $g%.1f at ${copies}x")
    }
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Materialize the blown-up tables (skipped when the marker file says the
    * same source+copies were already generated).
    */
  private def generate(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, s"_GENERATED_${copies}x")
    if (java.nio.file.Files.exists(marker)) return
    def read(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // one unioned plan per table: copy k shifts its fact keys by k·stride
    def copiesOf(name: String, shiftCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(name)
      (0 until copies).map { k =>
        val shifted = shiftCols.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(k * stride)))
        perCopy(shifted, k)
      }.reduce(_ unionByName _)
    }

    write(copiesOf("lineitem", Seq("l_orderkey", "l_suppkey")), "lineitem")
    write(copiesOf("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(copiesOf("customer", Seq("c_custkey")), "customer")
    write(copiesOf("supplier", Seq("s_suppkey")), "supplier")
    write(copiesOf("events", Seq("event_id", "user_id")), "events")
    write(copiesOf("embeddings", Seq("vec_id")), "embeddings")
    // per-copy token suffix ⇒ copies are textually distinct (see Scaladoc);
    // copy 0 stays byte-identical to the source corpus
    write(copiesOf("documents", Seq("doc_id"), (d, k) =>
      if (k == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"$$1z$k"))), "documents")
    Seq("nation", "region", "part").foreach(n => write(read(n), n)) // dims fixed
    java.nio.file.Files.createFile(marker)
  }
}
