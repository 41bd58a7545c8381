package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc profiling main (not part of the driver contract):
  * `runMain graft.Scratch <queryName> [explain]` — times three runs of one
  * registered query (run 1 ≈ cold, run 3 ≈ warm) and optionally prints the
  * formatted plan. `runMain graft.Scratch corpus_export_legs` instead
  * times the composed export's four legs separately (funnel, +paragraph
  * rewrite, +gzip write, read-back+invariants) — the stage breakdown
  * behind `q_corpus_export`'s floor note and its 30× scale entry.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // ad-hoc conf injection for attribution runs, e.g.
    // SCRATCH_CONF="spark.sql.adaptive.enabled=false" (AQE futures hide
    // stage callsites; a static plan keeps them)
    sys.env.get("SCRATCH_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    val name = args(0)
    if (name == "corpus_export_legs") { exportLegs(spark, sfDir); spark.stop(); return }
    if (name == "pagerank_legs") { pageRankLegs(spark, sfDir); spark.stop(); return }
    if (name == "mv_join_legs") { mvJoinLegs(spark, sfDir); spark.stop(); return }
    if (name == "mv_join_refresh_legs") { mvJoinRefreshLegs(spark, sfDir); spark.stop(); return }
    if (name == "cdf_record_legs") { cdfRecordLegs(spark, sfDir); spark.stop(); return }
    if (name == "zorder_legs") { zorderLegs(spark, sfDir); spark.stop(); return }
    if (name == "zorder_incr_legs") { zorderIncrLegs(spark, sfDir); spark.stop(); return }
    if (name == "txnmir_legs") { txnMirrorLegs(spark, sfDir, three = false); spark.stop(); return }
    if (name == "txnmir3_legs") { txnMirrorLegs(spark, sfDir, three = true); spark.stop(); return }
    val fn = SparkEntry.queries(name)
    // optional per-JOB attribution (SCRATCH_JOB_DEBUG=1): every job's
    // description in scheduling order after each run — the lifecycle
    // tier is job-LATENCY-bound (~970 jobs / ~129 s warm board), so the
    // first question for any lifecycle query is "which publish/probe
    // steps schedule the jobs", not "where is the task time"
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (sys.env.contains("SCRATCH_JOB_DEBUG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobLog.add(jobName(j))
        })
    // optional stage-level work attribution (SCRATCH_STAGE_DEBUG=1):
    // summed executor run time per stage, heaviest first, after each run
    val stMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stNm = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    if (sys.env.contains("SCRATCH_STAGE_DEBUG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              stMs.merge(t.stageId, t.taskMetrics.executorRunTime, _ + _)
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            stNm.merge(s.stageInfo.stageId,
              s.stageInfo.name.takeWhile(_ != '$') + " " +
              s.stageInfo.details.linesIterator
                .filter(l => l.contains("graft") && !l.contains("Scratch"))
                .take(2).mkString(" <- "), (a, b) => a + " " + b)
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            // AQE stage futures inherit the execution's thread locals, so
            // the job description attributes every stage to the engine
            // call that scheduled it (guide §1.5)
            val d = jobName(j)
            j.stageIds.foreach(sid => stNm.merge(sid, d, (a, b) => b + " " + a))
          }
        })
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[scratch] run$i $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (sys.env.contains("SCRATCH_JOB_DEBUG")) {
        org.apache.spark.graftbridge.GraftCoreBridge
          .waitListenerBusEmpty(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val descs = jobLog.iterator().asScala.toSeq
        println(s"[jobs] run$i n=${descs.size}")
        descs.groupBy(identity).toSeq.sortBy(-_._2.size).foreach {
          case (d, js) => println(f"[jobs]   ${js.size}%4d  ${d.take(120)}") }
        jobLog.clear()
      }
      if (sys.env.contains("SCRATCH_STAGE_DEBUG")) {
        org.apache.spark.graftbridge.GraftCoreBridge
          .waitListenerBusEmpty(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        stMs.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (id, ms) =>
          println(f"[stage] $id%5d ${ms / 1e3}%8.2fs ${stNm.getOrDefault(id, "?").take(150)}")
        }
        stMs.clear(); stNm.clear()
      }
    }
    if (args.length > 1 && args(1) == "explain") fn(spark, sfDir).explain("formatted")
    spark.stop()
  }

  /** A job's description, else its call site, else "?" — `properties`
    * is nullable per SparkListenerJobStart's contract.
    */
  private def jobName(
      j: org.apache.spark.scheduler.SparkListenerJobStart): String =
    Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short"))))
      .getOrElse("?")

  /** q_corpus_export stage breakdown. Legs are CUMULATIVE pipelines
    * (funnel ⊂ rewrite ⊂ write), so leg deltas attribute time to the
    * stage added; the read-back leg reuses the leg-3 export on disk.
    * Three runs each, min reported (same discipline as ScaleProof).
    */
  private def exportLegs(spark: SparkSession, sfDir: String): Unit = {
    val langs = Seq("en", "es", "fr", "de", "zh", "und")
    val out = System.getProperty("java.io.tmpdir") + "/graft_export_legs"
    def docs() = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def timed(label: String)(body: => Long): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[legs] $label%-22s min=${ts.map(_._1).min}%6.2fs " +
        f"runs=${ts.map(t => f"${t._1}%.2f").mkString(",")} rows=${ts.head._2}")
    }
    timed("funnel") {
      val (c, _) = graft.pipeline.CorpusPipeline.curate(docs(),
        minQuality = 0.0, allowedLangs = langs)
      c.count()
    }
    timed("funnel+rewrite") {
      val (c, _) = graft.pipeline.CorpusPipeline.curate(docs(),
        minQuality = 0.0, allowedLangs = langs, segmentDedup = true)
      c.count()
    }
    timed("funnel+rewrite+write") {
      val (c, r) = graft.pipeline.CorpusPipeline.curate(docs(),
        minQuality = 0.0, allowedLangs = langs, segmentDedup = true,
        jsonlPath = Some(out), jsonlShards = 16)
      c.count(); r.afterNearDup
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    timed("readback+invariants") {
      val back = graft.sinks.CorpusJsonl.read(spark, out, schema)
      back.select(col("doc_id"), length(col("text")).alias("back_len"))
        .join(docs().select(col("doc_id"),
          length(col("text")).alias("orig_len")), Seq("doc_id"), "left")
        .agg(count(lit(1)),
          coalesce(sum(when(col("back_len") > col("orig_len"), 1L)), lit(0L)))
        .head().getLong(0)
    }
  }

  /** q_pagerank work attribution (r15 optimization round): the bench
    * entry showed ~106 summed task-seconds for ~100k events — this leg
    * splits edge derivation from the iteration loop and scales the
    * iteration count, with SUMMED TASK TIME per leg (wall clock on this
    * box is ±20-50% with JIT warmth; scheduled work is deterministic).
    * Two reps each; read the second (JIT-warm) row.
    */
  private def pageRankLegs(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
            stageMs.merge(t.stageId, t.taskMetrics.executorRunTime, _ + _)
          }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stageName.put(s.stageInfo.stageId, s.stageInfo.name + " || " +
            s.stageInfo.details.linesIterator
              .filter(_.contains("graft")).take(3).mkString(" <- "))
      })
    val stageDebug = sys.env.contains("SCRATCH_STAGE_DEBUG")
    def dumpStages(): Unit = if (stageDebug) {
      import scala.jdk.CollectionConverters._
      stageMs.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (id, ms) =>
        println(f"[stage] $id%4d ${ms / 1e3}%8.2fs ${stageName.getOrDefault(id, "?").take(120)}")
      }
      stageMs.clear(); stageName.clear()
    }
    def edges() = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val tsed = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      val ev = tsed.select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).alias("us"),
          get_json_object(col("props"), "$.k").cast("long").alias("k"))
        .filter(col("k").isNotNull)
      ev.withColumn("dst", lead(col("k"), 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("k").alias("src"), col("dst"))
    }
    def leg(label: String)(body: => Long): Unit = (1 to 2).foreach { i =>
      org.apache.spark.graftbridge.GraftCoreBridge
        .waitListenerBusEmpty(spark.sparkContext)
      val m0 = taskMs.get; val t0 = System.nanoTime()
      val n = body
      org.apache.spark.graftbridge.GraftCoreBridge
        .waitListenerBusEmpty(spark.sparkContext)
      println(f"[legs] pagerank $label%-12s rep$i wall=${(System.nanoTime() - t0) / 1e9}%6.2f " +
        f"taskSec=${(taskMs.get - m0) / 1e3}%8.2f rows=$n")
      dumpStages()
    }
    leg("edges")(edges().count())
    sys.env.get("SCRATCH_PR_CONF").foreach { kvs =>
      kvs.split(";").foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      }
    }
    for (iters <- Seq(1, 2, 5))
      leg(s"iter$iters")(graft.operators.LinkGraph
        .pageRank(edges(), "src", "dst", iterations = iters).count())
  }

  /** q_lake_zorder lifecycle step breakdown: init (sorted bucketed
    * write), the OPTIMIZE ZORDER rewrite, and the box read — the floor
    * note behind the bench's most expensive single entry. One pass
    * (each step publishes).
    */
  private def zorderLegs(spark: SparkSession, sfDir: String): Unit = {
    import graft.sinks.LakeTable
    val root = System.getProperty("java.io.tmpdir") + "/scratch_zorder"
    val conf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    def leg[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[scratch] zorder leg $label%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    // numBuckets mirrors the bench query; rerun with 1 to reproduce the
    // serialized-write floor this breakdown was built to attribute
    // (init/zorder were ~12 s each at 1 bucket, sf0.1)
    leg("init") {
      LakeTable.init(li, root, Seq("l_orderkey", "l_linenumber"),
        numBuckets = 8, sortCols = Seq("l_partkey"),
        statsCols = Seq("l_partkey", "l_suppkey"), maxRecordsPerFile = 16384L)
    }
    leg("zorder") { LakeTable.optimizeZOrder(spark, root, Seq("l_partkey", "l_suppkey")) }
    leg("readbox") {
      LakeTable.scan(spark, root).filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(1, 10)).count()
    }
    println(s"[scratch] zorder box scan ${LakeTable.lastIndexScan}")
  }

  /** Incremental vs full OPTIMIZE ZORDER on the same state: a 64-bucket
    * z-laid table takes a FIXED bucket-confined delivery (copy-on-write
    * touches one bucket), then both passes are timed. The claim under
    * measure: the incremental pass costs O(touched buckets) — at sfX vs
    * sf10X the full rewrite grows with the table while the incremental
    * grows only with the touched bucket (1/64 of it) — which is the shape
    * bucket-granular maintenance needs at 1000-executor scale.
    */
  private def zorderIncrLegs(spark: SparkSession, sfDir: String): Unit = {
    import graft.sinks.LakeTable
    val root = System.getProperty("java.io.tmpdir") + "/scratch_zincr"
    val conf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    def leg[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[scratch] zincr leg $label%-18s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    leg("init") {
      LakeTable.init(li, root, keys, numBuckets = 64,
        sortCols = Seq("l_partkey"),
        statsCols = Seq("l_partkey", "l_suppkey"), maxRecordsPerFile = 16384L)
    }
    leg("full_optimize") {
      LakeTable.optimizeZOrder(spark, root, Seq("l_partkey", "l_suppkey"))
    }
    // FIXED-size delivery (new keys, shifted orderkey) confined to one
    // bucket via the table's own bucket hash — delta does not scale with sf
    val delta = li.withColumn("l_orderkey", col("l_orderkey") + lit(10000000L))
      .filter(pmod(hash(keys.map(col): _*), lit(64)) === 1).limit(4096)
      .cache()
    println(s"[scratch] zincr delta rows=${delta.count()}")
    leg("merge_delta") { LakeTable.merge(spark, root, delta) }
    val before = LakeTable.manifest(spark, root).files.size
    leg("incremental") { LakeTable.optimizeZOrderIncremental(spark, root) }
    val m = LakeTable.manifest(spark, root)
    println(s"[scratch] zincr files=$before->${m.files.size}")
    println(s"[scratch] zincr refs(parsed,skipped)=${LakeTable.lastZIncrRefs}")
    leg("incremental_noop") { LakeTable.optimizeZOrderIncremental(spark, root) }
    println(s"[scratch] zincr noop refs(parsed,skipped)=${LakeTable.lastZIncrRefs}")
    leg("full_again") {
      LakeTable.optimizeZOrder(spark, root, Seq("l_partkey", "l_suppkey"))
    }
  }

  /** q_mv_join lifecycle step breakdown: per-step wall time for the two
    * lake inits, the view init (full join + agg), and each
    * delivery+refresh pair — the floor note behind the query's bench
    * entry. One pass (lifecycles don't "warm": each step publishes).
    */
  private def mvJoinLegs(spark: SparkSession, sfDir: String): Unit = {
    import graft.sinks.{JoinMaterializedView, LakeTable}
    val tmp = System.getProperty("java.io.tmpdir")
    val factRoot = tmp + "/scratch_mvjoin_fact"
    val dimRoot = tmp + "/scratch_mvjoin_dim"
    val mvRoot = tmp + "/scratch_mvjoin_view"
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(factRoot, dimRoot, mvRoot).foreach(p =>
      new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
        .delete(new org.apache.hadoop.fs.Path(p), true))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    def leg[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[scratch] mv_join leg $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    leg("init_fact") {
      LakeTable.init(orders.filter(col("o_orderkey") % 3 =!= 0), factRoot,
        Seq("o_orderkey"), numBuckets = 8, sortCols = Seq("o_custkey"),
        statsCols = Seq("o_custkey"), maxRecordsPerFile = 4096L)
    }
    leg("init_dim") {
      LakeTable.init(cust, dimRoot, Seq("c_custkey"), numBuckets = 4)
    }
    leg("init_view") {
      JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
        "o_custkey", Seq("c_mktsegment"), Seq("o_totalprice"), numBuckets = 4)
    }
    leg("merge_fact_wave") {
      LakeTable.merge(spark, factRoot, orders.filter(col("o_orderkey") % 3 === 0))
    }
    leg("merge_dim_move") {
      LakeTable.merge(spark, dimRoot, cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
    }
    leg("refresh_1_both_legs") {
      JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    }
    leg("merge_fact_update") {
      LakeTable.merge(spark, factRoot, orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0))
    }
    leg("delete_fact") {
      LakeTable.delete(spark, factRoot,
        orders.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey")))
    }
    leg("refresh_2_fact_only") {
      JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    }
    leg("read") {
      JoinMaterializedView.read(spark, mvRoot).count()
    }
  }

  /** Sub-attribution INSIDE q_mv_join's refresh_1: time each input the
    * refresh derives (fact change feed, dim broadcast read, dim change
    * feed, pruned old-fact scan) as standalone actions, then the real
    * refresh. The standalone timings overlap the refresh's own work
    * (frames are re-derived), so they attribute, not sum.
    */
  private def mvJoinRefreshLegs(spark: SparkSession, sfDir: String): Unit = {
    import graft.sinks.{JoinMaterializedView, LakeTable}
    val tmp = System.getProperty("java.io.tmpdir")
    val factRoot = tmp + "/scratch_mvjrl_fact"
    val dimRoot = tmp + "/scratch_mvjrl_dim"
    val mvRoot = tmp + "/scratch_mvjrl_view"
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(factRoot, dimRoot, mvRoot).foreach(p =>
      new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
        .delete(new org.apache.hadoop.fs.Path(p), true))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    LakeTable.init(orders.filter(col("o_orderkey") % 3 =!= 0), factRoot,
      Seq("o_orderkey"), numBuckets = 8, sortCols = Seq("o_custkey"),
      statsCols = Seq("o_custkey"), maxRecordsPerFile = 4096L)
    LakeTable.init(cust, dimRoot, Seq("c_custkey"), numBuckets = 4)
    JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
      "o_custkey", Seq("c_mktsegment"), Seq("o_totalprice"), numBuckets = 4)
    val fv0 = LakeTable.manifest(spark, factRoot).version
    val dv0 = LakeTable.manifest(spark, dimRoot).version
    LakeTable.merge(spark, factRoot, orders.filter(col("o_orderkey") % 3 === 0))
    LakeTable.merge(spark, dimRoot, cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("MOVED")))
    val fv1 = LakeTable.manifest(spark, factRoot).version
    val dv1 = LakeTable.manifest(spark, dimRoot).version
    def leg[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[scratch] refresh1 leg $label%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    leg("fact_changes") {
      LakeTable.changes(spark, factRoot, fv0, fv1).count()
    }
    leg("fact_changes_warm") {
      LakeTable.changes(spark, factRoot, fv0, fv1).count()
    }
    leg("dim_read_for_join") {
      LakeTable.readForJoin(spark, dimRoot, version = Some(dv1)).count()
    }
    leg("dim_changes") {
      LakeTable.changes(spark, dimRoot, dv0, dv1).count()
    }
    leg("fact_pruned_scan") {
      LakeTable.dynamicPrunedScan(spark, factRoot, "o_custkey",
        LakeTable.changes(spark, dimRoot, dv0, dv1).select(col("c_custkey")),
        10000, Some(fv0)).count()
    }
    leg("refresh_1_real") {
      JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
    }
  }

  /** Recorded-CDF A/B: producer overhead (merge on a cdfRecord table vs a
    * plain twin) and consumer cost (changes() from feed files vs the
    * snapshot diff) for a HASH-SCATTERED delivery — the shape where the
    * snapshot diff is O(table) and the recorded feed is O(delta). Also a
    * 3-step netting span. min of 3 per timed leg.
    */
  private def cdfRecordLegs(spark: SparkSession, sfDir: String): Unit = {
    import graft.sinks.LakeTable
    val tmp = System.getProperty("java.io.tmpdir")
    val rec = tmp + "/scratch_cdfrec"
    val plain = tmp + "/scratch_cdfplain"
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(rec, plain).foreach(p => new org.apache.hadoop.fs.Path(p)
      .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def timed(label: String)(body: => Any): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      println(f"[legs] $label%-28s min=${ts.min}%6.2fs " +
        f"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    def once(label: String)(body: => Any): Unit = {
      val t0 = System.nanoTime(); body
      println(f"[legs] $label%-28s once=${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    LakeTable.init(orders.filter(col("o_orderkey") % 3 =!= 0), rec,
      Seq("o_orderkey"), numBuckets = 8, cdfRecord = true)
    LakeTable.init(orders.filter(col("o_orderkey") % 3 =!= 0), plain,
      Seq("o_orderkey"), numBuckets = 8)
    val delta = orders.filter(col("o_orderkey") % 3 === 0)
    once("merge_recorded")(LakeTable.merge(spark, rec, delta))
    once("merge_plain")(LakeTable.merge(spark, plain, delta))
    timed("changes_recorded")(
      LakeTable.changes(spark, rec, 0L, 1L).count())
    timed("changes_snapshot_diff")(
      LakeTable.changes(spark, plain, 0L, 1L).count())
    // a 3-step span: two more scattered deliveries, then net the span
    Seq(rec, plain).foreach { r =>
      LakeTable.merge(spark, r, delta.withColumn("o_totalprice",
        col("o_totalprice") + 1.0))
      LakeTable.delete(spark, r,
        orders.filter(col("o_orderkey") % 9 === 0).select(col("o_orderkey")))
    }
    timed("span3_recorded_net")(
      LakeTable.changes(spark, rec, 0L,
        LakeTable.manifest(spark, rec).version).count())
    timed("span3_snapshot_diff")(
      LakeTable.changes(spark, plain, 0L,
        LakeTable.manifest(spark, plain).version).count())
  }

  /** q_lake_txn_mirror / q_lake_txn_mirror3 floor decomposition (r14
    * verdict task 6): the board's two slowest queries, split into the
    * lifecycle's sequential legs — source/target inits, the bootstrap
    * stream run (checkpointed snapshot copy at one consistent cut), the
    * committed transaction, the aborted txn + ghost in-flight slot, the
    * delta-drain stream run, and the verify join. Each leg publishes, so
    * every leg runs ONCE (this is a lifecycle, not a steady-state
    * kernel); the interesting split is harness (inits, verify — the
    * oracle contract's setup) vs protocol (bootstrap, drain — what a
    * production mirror pays per cycle).
    */
  private def txnMirrorLegs(spark: SparkSession, sfDir: String,
      three: Boolean): Unit = {
    import graft.sinks.{LakeTable, LakeTxn}
    val s = spark
    val base = System.getProperty("java.io.tmpdir")
    val tag = if (three) "legs3" else "legs2"
    val fSrc = s"$base/scratch_txnmir_${tag}_fsrc"
    val dSrc = s"$base/scratch_txnmir_${tag}_dsrc"
    val nSrc = s"$base/scratch_txnmir_${tag}_nsrc"
    val fTgt = s"$base/scratch_txnmir_${tag}_ftgt"
    val dTgt = s"$base/scratch_txnmir_${tag}_dtgt"
    val nTgt = s"$base/scratch_txnmir_${tag}_ntgt"
    val cp = s"$base/scratch_txnmir_${tag}_cp"
    val fs = new org.apache.hadoop.fs.Path(fSrc)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(fSrc, dSrc, nSrc, fTgt, dTgt, nTgt, cp).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    def leg[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[legs] $label%-24s once=${(System.nanoTime() - t0) / 1e9}%6.2fs")
      r
    }
    val orders = s.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val customer =
      if (three) s.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      else s.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
    lazy val nation = s.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    leg("setup-inits") {
      LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0), fSrc,
        Seq("o_orderkey"), numBuckets = 8)
      LakeTable.init(customer, dSrc, Seq("c_custkey"), numBuckets = 4)
      LakeTable.init(orders.filter(lit(false)), fTgt, Seq("o_orderkey"),
        numBuckets = 8)
      LakeTable.init(customer.filter(lit(false)), dTgt, Seq("c_custkey"),
        numBuckets = 4)
      if (three) {
        LakeTable.init(nation, nSrc, Seq("n_nationkey"), numBuckets = 2)
        LakeTable.init(nation.filter(lit(false)), nTgt, Seq("n_nationkey"),
          numBuckets = 2)
      }
    }
    def run(): Unit = {
      val legs = Seq((fSrc, fTgt), (dSrc, dTgt)) ++
        (if (three) Seq((nSrc, nTgt)) else Nil)
      val q = graft.streaming.LakeStreaming.mirrorTxnGroup(s, legs)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    leg("bootstrap-run")(run())
    leg("txn-commit") {
      LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("TXN")))
        if (three) txn.merge(nSrc, nation.filter(col("n_nationkey") % 2 === 0)
          .withColumn("n_name", lit("TXN")))
      }
    }
    leg("txn-abort+ghost") {
      try LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(-1e9)))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_mktsegment", lit("POISON")))
        if (three) txn.merge(nSrc, nation.filter(col("n_nationkey") % 3 === 0)
          .withColumn("n_name", lit("POISON")))
        sys.error("injected failure before commit")
      } catch { case _: RuntimeException => () }
      if (three)
        LakeTable.mergeTagged(s, dSrc,
          customer.filter(col("c_custkey") % 13 === 0)
            .withColumn("c_mktsegment", lit("POISON")), None,
          Some(dSrc + "/_txn/ghost-never-committed.json"))
      else
        LakeTable.mergeTagged(s, fSrc,
          orders.filter(col("o_orderkey") % 13 === 0)
            .withColumn("o_totalprice", lit(-1e9)), None,
          Some(fSrc + "/_txn/ghost-never-committed.json"))
    }
    leg("delta-run")(run())
    leg("verify-join") {
      val f = LakeTable.read(s, fTgt)
      val d = LakeTable.read(s, dTgt)
      if (three) {
        val n = LakeTable.read(s, nTgt)
        f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
          .join(broadcast(n), d("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_mktsegment"), col("n_name"))
          .agg(count(lit(1)), sum(col("o_totalprice"))).count()
      } else
        f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)), sum(col("o_totalprice"))).count()
    }
  }
}
