package graft.orchestration

import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Orchestration twin of the LAKE MAINTENANCE cycle — the daily operations
  * loop every keyed gold table runs at 100 TB: ingest the delivery's
  * upserts, apply its tombstones, bound the file counts, advance the
  * incremental views, enforce retention, and reconcile. Completes the DAG
  * trilogy ([[CoinDag]] reference parity, [[CorpusDag]] corpus curation,
  * this one storage maintenance); [[Dag]] derives its dispatch, the
  * `lake:<stage>` job labels, the Airflow artifact
  * `orchestration/lake_maintenance_dag.py` and the [[LakeStageRunner]] entry.
  *
  * Idempotence discipline (retryability stage by stage):
  *  - `ingest_upserts` / `apply_deletes`: content-idempotent — re-merging
  *    a value-identical delta publishes a new version whose change feed
  *    nets to EMPTY, so a retry can never double-apply downstream (the
  *    feed is the replay ledger; see NOTES). A deleteMor retry adds one
  *    redundant vector file; `compact_maintenance` folds it.
  *  - `refresh_views`: crash-idempotent by construction
  *    ([[MaterializedView.refresh]]'s pinned-snapshot sync marker).
  *  - `compact_maintenance` / `compact_metadata` / `vacuum_retention`:
  *    convergent maintenance (second run is a no-op on an
  *    already-bounded table).
  *  - `audit_report`: derived from durable state only.
  */
object LakeDag extends Dag("lake",
    dagId = "graft_lake_maintenance",
    description = "Keyed lake table maintenance: ingest, compact, refresh views, retention, audit",
    artifact = "orchestration/lake_maintenance_dag.py",
    flags = Seq(Dag.Var("input-root", "graft_lake_input_root"), Dag.Var("lake-root", "graft_lake_root"))) {

  /** Durable layout per delivery date. The table/view parameters are part
    * of the conf (one DAG instance maintains one gold table).
    */
  final case class StageConf(
      ds: String,
      inputRoot: String,
      lakeRoot: String,
      keys: Seq[String] = Seq("o_orderkey"),
      orderCol: Option[String] = None,
      groupCols: Seq[String] = Seq("o_orderpriority"),
      sumCols: Seq[String] = Seq("o_totalprice"),
      // stats sidecar on the sum columns: after compact_maintenance folds
      // the day's deletion vectors, audit_report's row count is answered
      // from METADATA (fastCount) — zero data files opened
      statsCols: Seq[String] = Seq("o_totalprice"),
      numBuckets: Int = 16,
      maxFilesPerBucket: Int = 4,
      // ref-count threshold for the compact_metadata stage: long
      // accretions of narrow deliveries grow the manifest's segment-ref
      // list one ref per delivery; past this many refs the stage folds
      // them into ONE wide segment (LakeTable.compactMetadata — zero
      // data I/O), so manifest size and per-commit ref work stay bounded
      maxRefsPerManifest: Int = 8,
      keepVersions: Int = 7,
      // opt-in multi-dimensional layout maintenance: compact_maintenance
      // bootstraps the z layout on the first delivery (full OPTIMIZE) and
      // keeps it with the O(delta) incremental pass on every later one
      zOrderCols: Seq[String] = Nil
  ) {
    Dag.requireDs(ds)
    require(zOrderCols.isEmpty || zOrderCols.forall(statsCols.contains),
      s"zOrderCols ($zOrderCols) must be covered by statsCols ($statsCols)" +
        " — the z layout prunes through the zone-map sidecar")
    def upsertsDir: String = s"$inputRoot/upserts/dt=$ds"
    def deletesDir: String = s"$inputRoot/deletes/dt=$ds"
    def tableRoot: String  = s"$lakeRoot/table"
    def viewRoot: String   = s"$lakeRoot/view"
    def reportDir: String  = s"$lakeRoot/report/dt=$ds"
  }

  protected def conf(ds: String, arg: Map[String, String]): StageConf =
    StageConf(ds, arg("input-root"), arg("lake-root"))

  private def exists(spark: SparkSession, dir: String): Boolean =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(dir))

  private def tableExists(spark: SparkSession, root: String): Boolean =
    exists(spark, s"$root/_versions")

  protected val stages: Seq[Stage] = Seq(
    stage("ingest_upserts") { (spark, conf) =>
      // first delivery creates the table; later ones merge. A delivery
      // with no upserts file set is a valid (empty) day.
      if (!exists(spark, conf.upsertsDir)) ()
      else if (!tableExists(spark, conf.tableRoot))
        // ndvCols = the view's group columns: every commit keeps per-file
        // HLL sketches so audit_report's group-cardinality check is
        // metadata-only (fastNdv), like its fastCount row count
        LakeTable.init(spark.read.parquet(conf.upsertsDir), conf.tableRoot,
          conf.keys, conf.numBuckets, statsCols = conf.statsCols,
          ndvCols = conf.groupCols)
      else
        LakeTable.merge(spark, conf.tableRoot,
          spark.read.parquet(conf.upsertsDir), conf.orderCol)
    },
    // every post-ingest stage no-ops while the table doesn't exist yet:
    // a FIRST delivery with an empty upserts dir is a valid (empty) day
    // per the ingest contract, and it must leave the whole chain green —
    // crashing in LakeTable.manifest's require would wedge the DAG until
    // data arrives, with retries unable to fix anything
    stage("apply_deletes") { (spark, conf) =>
      // O(|tombstones|) merge-on-read vectors; reads subtract immediately,
      // compact_maintenance folds them into the data files
      if (exists(spark, conf.deletesDir) && tableExists(spark, conf.tableRoot))
        LakeTable.deleteMor(spark, conf.tableRoot,
          spark.read.parquet(conf.deletesDir))
    },
    stage("compact_maintenance") { (spark, conf) =>
      if (tableExists(spark, conf.tableRoot)) {
        LakeTable.compactDeletes(spark, conf.tableRoot)
        LakeTable.compactSmallFiles(spark, conf.tableRoot,
          conf.maxFilesPerBucket)
        // layout LAST: compaction is layout-preserving once a marker
        // exists (zSortIfMarked — its output is already z-sorted and the
        // auto pass no-ops on it), so this covers fresh deliveries and
        // the day-1 bootstrap — full on the first run, O(delta) after
        if (conf.zOrderCols.nonEmpty)
          LakeTable.optimizeZOrderAuto(spark, conf.tableRoot,
            conf.zOrderCols)
      }
    },
    stage("compact_metadata") { (spark, conf) =>
      // the METADATA analog of compact_maintenance (see maxRefsPerManifest):
      // threshold-gated so quiet days publish nothing, idempotent (a
      // compacted table sits at its segment floor — below any threshold —
      // and a second run is a version-preserving no-op), convergent like
      // every other maintenance stage. The threshold counts EXCESS refs
      // above the entry-cap floor (LakeTable.minSegments), so a large
      // table's unavoidable shard count never triggers daily rewrites.
      // Served content, time travel and the change feed are invariant:
      // compactMetadata republishes the same file list with payloads
      // carried verbatim.
      if (tableExists(spark, conf.tableRoot)) {
        val m = LakeTable.manifest(spark, conf.tableRoot)
        if (m.segments.size >
            LakeTable.minSegments(m) - 1 + conf.maxRefsPerManifest)
          LakeTable.compactMetadata(spark, conf.tableRoot)
      }
    },
    stage("refresh_views") { (spark, conf) =>
      if (!tableExists(spark, conf.tableRoot)) ()
      else if (!tableExists(spark, conf.viewRoot))
        MaterializedView.init(spark, conf.tableRoot, conf.viewRoot,
          conf.groupCols, conf.sumCols)
      else
        MaterializedView.refresh(spark, conf.tableRoot, conf.viewRoot)
    },
    stage("vacuum_retention") { (spark, conf) =>
      if (tableExists(spark, conf.tableRoot))
        LakeTable.vacuum(spark, conf.tableRoot, conf.keepVersions)
      // the view retires through ITS OWN vacuum: same keep-newest-k over
      // the lake versions (widened so the sync'd version stays readable)
      // PLUS the `_sync` marker sweep — refreshes accrete one marker per
      // base delivery, and an unswept marker dir grows forever
      if (tableExists(spark, conf.viewRoot))
        MaterializedView.vacuum(spark, conf.viewRoot, conf.keepVersions)
    },
    stage("audit_report") { (spark, conf) =>
      // reconcile STORAGE against the SERVED view: table row count (from
      // metadata when exact — zero files opened — else a scan) must equal
      // the view's cnt total, or the mismatch ships in the report. A
      // not-yet-created table audits as a consistent zero-row day.
      import spark.implicits._
      val tableRows =
        if (!tableExists(spark, conf.tableRoot)) 0L
        else LakeTable.fastCount(spark, conf.tableRoot)
          .getOrElse(LakeTable.read(spark, conf.tableRoot).count())
      val viewRows =
        if (!tableExists(spark, conf.viewRoot)) 0L
        else MaterializedView.read(spark, conf.viewRoot)
          .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      // integrity: every manifest-referenced file present (fsck MISSING =
      // reads broken; orphans/sidecar gaps are warnings and don't fail
      // the audit). A not-yet-created table is trivially intact.
      val integrityOk =
        if (!tableExists(spark, conf.tableRoot)) true
        else LakeTable.fsck(spark, conf.tableRoot).ok &&
          (!tableExists(spark, conf.viewRoot) ||
            LakeTable.fsck(spark, conf.viewRoot).ok)
      // cardinality: the table's group-column NDVs (metadata-only through
      // the _ndv sidecar; compact_maintenance folded the day's vectors so
      // fastNdv can answer — a gap falls back to an exact scan) must
      // reconcile with the number of groups the view serves, within the
      // sketch's error band. A silent divergence here is the drift
      // signal: groups the view lost, or phantom groups it never retired.
      // The view counts distinct group TUPLES, so per-column NDVs bound
      // it from both sides rather than equal it: every single column's
      // NDV ≤ #tuples ≤ the product of the NDVs (equality only holds for
      // ONE group column, where the tighter band applies).
      val ndvs: Seq[Long] =
        if (!tableExists(spark, conf.tableRoot)) conf.groupCols.map(_ => 0L)
        else conf.groupCols.map(g =>
          LakeTable.fastNdv(spark, conf.tableRoot, g)
            .getOrElse(LakeTable.read(spark, conf.tableRoot)
              .agg(count_distinct(col(g))).head().getLong(0)))
      val ndvGroups = ndvs.max
      val viewGroups =
        if (!tableExists(spark, conf.viewRoot)) 0L
        else MaterializedView.read(spark, conf.viewRoot).count()
      val cardinalityOk =
        if (conf.groupCols.size == 1)
          math.abs(ndvGroups - viewGroups) <= math.max(1L, viewGroups / 20)
        else {
          // 5% slack on each bound covers the sketches' stacked rse; the
          // product saturates rather than overflows on wide group lists
          val product = ndvs.foldLeft(1L)((a, b) =>
            if (a > Long.MaxValue / math.max(b, 1L)) Long.MaxValue
            else a * math.max(b, 1L))
          ndvs.max <= viewGroups + math.max(1L, viewGroups / 20) &&
            viewGroups <= product + math.max(1L, product / 20)
        }
      Seq((conf.ds, tableRows, viewRows, tableRows == viewRows, integrityOk,
          ndvGroups, cardinalityOk))
        .toDF("ds", "table_rows", "view_rows", "consistent", "integrity_ok",
          "ndv_groups", "cardinality_ok")
        .coalesce(1)
        .write.mode("overwrite").parquet(conf.reportDir)
    }
  )
}
