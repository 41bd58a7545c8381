package graft.orchestration

import graft.functions.TextFunctions
import graft.operators.{Dedup, PassageDedup, TextAnalysis}
import graft.sinks.CorpusJsonl
import org.apache.spark.sql.functions._

/** Orchestration twin of the NORTH-STAR curation funnel
  * ([[graft.pipeline.CorpusPipeline]]): the daily-delivery decomposition a
  * scheduler actually runs at 100 TB — idempotent per-stage Spark jobs
  * whose only state handoff is durable lake layout, with the
  * cross-delivery near-dup state carried by the persisted signature index
  * ([[Dedup.persistNearDupIndex]]) exactly as the streaming ingest carries
  * it. [[Dag]] derives its dispatch, the `corpus:<stage>` job labels, the
  * Airflow artifact `orchestration/corpus_pipeline_dag.py` and the
  * [[CorpusStageRunner]] entry.
  *
  * Near-dup semantics here are the INCREMENTAL operator's (each delivery
  * curated against everything previously accepted; within-delivery greedy
  * pairwise), not the in-process funnel's whole-corpus connected
  * components — the per-delivery decomposition is what makes a year of
  * daily runs O(delivery), and CorpusDagSpec pins the cross-delivery
  * rejection behavior.
  */
object CorpusDag extends Dag("corpus",
    dagId = "corpus_curation_pipeline_graft",
    description = "LLM corpus curation funnel (graft engine)",
    artifact = "orchestration/corpus_pipeline_dag.py",
    flags = Seq(Dag.Var("input-dir", "graft_corpus_input_dir"), Dag.Var("lake-root", "graft_corpus_lake_root"))) {

  /** Durable layout per delivery date; every stage reads only upstream
    * dirs, so any stage can retry alone.
    */
  final case class StageConf(
      ds: String,
      inputDir: String,
      lakeRoot: String,
      minQuality: Double = 0.0,
      allowedLangs: Seq[String] = Seq("en", "es", "fr", "de", "zh", "und"),
      minEstJaccard: Double = 0.6,
      jsonlShards: Int = 4,
      keepIndexVersions: Int = 7
  ) {
    // batchVersion ORDERS the replay-safe index lookup — a malformed ds
    // that happens to parse would silently read the wrong index version
    Dag.requireDs(ds)
    /** ds → monotone numeric version (2026-08-13 → 20260813): the near-dup
      * index version this delivery publishes; replays read strictly below.
      */
    def batchVersion: Long = ds.filter(_.isDigit).toLong
    def annotatedDir: String = s"$lakeRoot/annotated/dt=$ds"
    def filteredDir: String  = s"$lakeRoot/filtered/dt=$ds"
    def exactDir: String     = s"$lakeRoot/exact/dt=$ds"
    def acceptedDir: String  = s"$lakeRoot/accepted/dt=$ds"
    def segmentedDir: String = s"$lakeRoot/segmented/dt=$ds"
    def corpusDir: String    = s"$lakeRoot/corpus/dt=$ds"
    def reportDir: String    = s"$lakeRoot/report/dt=$ds"
    def indexRoot: String    = s"$lakeRoot/neardup_index"
  }

  protected def conf(ds: String, arg: Map[String, String]): StageConf =
    StageConf(ds, arg("input-dir"), arg("lake-root"))

  protected val stages: Seq[Stage] = Seq(
    stage("annotate") { (spark, conf) =>
      // one annotated pass: the two expensive per-row expressions
      spark.read.parquet(conf.inputDir)
        .select(col("doc_id"), col("text"))
        .withColumn("quality_score",
          TextFunctions.qualityScore(col("text"), TextAnalysis.defaultStopwords))
        .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
        .write.mode("overwrite").parquet(conf.annotatedDir)
    },
    stage("filter_quality_language") { (spark, conf) =>
      spark.read.parquet(conf.annotatedDir)
        .filter(col("quality_score") >= conf.minQuality &&
          col("lang_pred").isin(conf.allowedLangs: _*))
        .write.mode("overwrite").parquet(conf.filteredDir)
    },
    stage("exact_dedup") { (spark, conf) =>
      Dedup.exactByContentKeepMin(
          spark.read.parquet(conf.filteredDir), "doc_id")
        .write.mode("overwrite").parquet(conf.exactDir)
    },
    stage("near_dedup") { (spark, conf) =>
      // curate against the newest index version STRICTLY BELOW this
      // delivery (replay-safe), publish accepted rows + the compacted
      // index at this delivery's version
      val batch = spark.read.parquet(conf.exactDir)
      val prev = Dedup.latestNearDupIndexVersion(spark, conf.indexRoot,
        conf.batchVersion)
      val (sigs, bands) = prev match {
        case Some(v) =>
          val idx = Dedup.readNearDupIndex(spark, s"${conf.indexRoot}/v$v")
          (idx.sigs, Some(idx.bands))
        case None =>
          (batch.limit(0).select(col("doc_id").alias("id"),
            array().cast("array<int>").alias("sig")), None)
      }
      val r = Dedup.incrementalNearDup(batch, sigs, "doc_id",
        minEstJaccard = conf.minEstJaccard, indexBands = bands)
      r.accepted.write.mode("overwrite").parquet(conf.acceptedDir)
      Dedup.persistNearDupIndex(r.updatedIndex,
        s"${conf.indexRoot}/v${conf.batchVersion}")
    },
    stage("compact_index") { (spark, conf) =>
      // Bound the published index version's file count: near_dedup's write
      // carries whatever partitioning the union lineage had, so a year of
      // daily deliveries would otherwise grow each version's fileset with
      // the batch partition count. Sized from actual bytes; bands are
      // range-clustered on (__band, __bucket) so every subsequent
      // delivery's probe join scans min/max-prunable files. Stage-and-swap
      // publish inside [[graft.sinks.Compaction]] keeps the version readable
      // (old or new fileset, never a mix) — probe results are byte-identical
      // before/after, pinned by CorpusDagSpec.
      val vdir = s"${conf.indexRoot}/v${conf.batchVersion}"
      graft.sinks.Compaction.compact(spark, s"$vdir/sigs")
      graft.sinks.Compaction.compact(spark, s"$vdir/bands",
        sortCols = Seq("__band", "__bucket"))
    },
    stage("segment_dedup") { (spark, conf) =>
      // paragraph-granularity rewrite, envelope columns preserved
      val accepted = spark.read.parquet(conf.acceptedDir)
      val rewritten = PassageDedup.paragraphDedup(
        accepted.select(col("doc_id"), col("text")), "doc_id", "text")
      accepted.drop("text").join(rewritten, Seq("doc_id"))
        .write.mode("overwrite").parquet(conf.segmentedDir)
    },
    stage("export_jsonl") { (spark, conf) =>
      CorpusJsonl.write(spark.read.parquet(conf.segmentedDir),
        conf.corpusDir, conf.jsonlShards)
    },
    stage("funnel_report") { (spark, conf) =>
      // counts from the DURABLE stage outputs — the report is derivable
      // from the lake alone, so it is exactly as retryable as any stage
      import spark.implicits._
      def n(dir: String): Long = spark.read.parquet(dir).count()
      Seq((conf.ds, n(conf.inputDir), n(conf.filteredDir), n(conf.exactDir),
          n(conf.acceptedDir)))
        .toDF("ds", "input", "after_filter", "after_exact", "after_neardup")
        .coalesce(1)
        .write.mode("overwrite").parquet(conf.reportDir)
    },
    stage("vacuum_retention") { (spark, conf) =>
      // each published index version is a FULL snapshot, so versions
      // beyond the replay horizon are pure storage debt — without this
      // the batch-versioned index root grows by one whole-history copy
      // per day. keepIndexVersions >= 2 preserves the strictly-below
      // replay contract (Dedup.vacuumNearDupIndexVersions).
      Dedup.vacuumNearDupIndexVersions(spark, conf.indexRoot,
        conf.keepIndexVersions)
    }
  )
}
