package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}

/** Incremental materialized view over a fact ⋈ dim JOIN — the denormalized
  * gold aggregate (`SELECT g…, count(*), sum(x)… FROM fact JOIN dim ON
  * fact.fk = dim.pk GROUP BY g…`, group columns from EITHER side)
  * maintained from both tables' change feeds instead of re-joining the
  * world per refresh.
  *
  * Maintenance algebra (the classic signed-delta join rule): with signed
  * multisets, `F_new ⋈ D_new − F_old ⋈ D_old = ΔF ⋈ D_new + F_old ⋈ ΔD` —
  * the first leg accounts every fact change against the dim's NEW state
  * (which folds the ΔF⋈ΔD cross term in exactly once), the second
  * re-attributes old fact rows under the dim's changes. A joined delta
  * row's sign is the product of its sides' signs (the non-delta side is
  * +1), so a dim UPDATE naturally emits −1 rows under the old attribute
  * and +1 under the new — contributions MOVE between groups without any
  * special casing, and a late-arriving dim row pulls its waiting fact
  * rows into the view through the second leg. Aggregates are the
  * self-maintainable set (count advances by Σsign, sums by Σ sign·value
  * in DECIMAL(38,6) — exact, associative, bit-equal to a full recompute
  * under retraction); min/max would need the extrema-reserve machinery
  * [[MaterializedView]] carries and is out of this view's contract.
  *
  * Scale shape — the whole point of the two-leg split:
  *   - `ΔF ⋈ D_new`: delivery-sized fact delta against the dim read via
  *     [[LakeTable.readForJoin]] — [[LakeTable.scan]]'s relation, broadcast
  *     under the byte threshold: a map-side join of a small delta.
  *   - `F_old ⋈ ΔD`: the dangerous leg — every old fact row matching a
  *     changed dim key. The changed pks are delivery-sized, so the scan
  *     routes through [[LakeTable.dynamicPrunedScan]] on the join column
  *     at the fact's PINNED old version: an `InSet` over those keys on
  *     that relation, whose zone maps ∩ blooms open only the files
  *     that can hold them (a fact clustered on fk opens a sliver),
  *     degrading to a full scan past `maxDimDeltaKeys` — never a wrong
  *     prune. A quiet dim (the usual delivery) skips the leg entirely.
  *   - The signed union aggregates to ≤ touched-group rows; the view
  *     update reads only the buckets holding touched groups
  *     ([[LakeTable.lookup]] + pinned [[LakeTable.applyChanges]]).
  *
  * Sync/crash discipline is [[MaterializedView]]'s, widened to two base
  * versions: a marker `<factV>_<dimV>.json` claims (fact version, dim
  * version) ↔ view version exclusively (hard-link create on local
  * filesystems, no-overwrite rename elsewhere); the view publishes FIRST,
  * the marker advances second, and a crash between the two leaves an
  * orphan the pinned retry converges onto. Racing refreshes from one sync
  * point apply the same feeds on the same pinned base — the claim loser's
  * marker is discarded, content identical. The fk column name is recorded
  * once at [[init]] in `_join.json` (immutable), so refresh needs no
  * caller-remembered schema.
  */
object JoinMaterializedView {

  private[graft] final case class Sync(factVersion: Long, dimVersion: Long,
      mvVersion: Long)

  private def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val SumType = "decimal(38,6)"

  private[graft] def renderSync(s: Sync): String =
    s"""{"fact_version":${s.factVersion},"dim_version":${s.dimVersion},""" +
      s""""mv_version":${s.mvVersion}}"""

  private[graft] def parseSync(o: JsonNode): Sync =
    Sync(MetaFile.reqNum(o, "fact_version"), MetaFile.reqNum(o, "dim_version"),
      MetaFile.reqNum(o, "mv_version"))

  /** Claim the `<factV>_<dimV>.json` marker ([[MetaFile.claim]]); losing
    * the claim is benign: the winner applied the same feeds on the same
    * pinned view base, so the marker contents are value-identical.
    */
  private def writeSync(spark: SparkSession, mvRoot: String, s: Sync): Unit =
    MetaFile.claim(hfs(spark, mvRoot), new Path(mvRoot,
      s"_sync/${s.factVersion}_${s.dimVersion}.json"), renderSync(s))

  private def readSync(spark: SparkSession, mvRoot: String): Sync = {
    val fs = hfs(spark, mvRoot)
    val dir = new Path(mvRoot, "_sync")
    require(fs.exists(dir), s"no JoinMaterializedView sync state at $mvRoot")
    val newest = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") &&
          n.dropRight(5).matches("\\d+_\\d+") =>
        val Array(f, d) = n.dropRight(5).split("_")
        (f.toLong, d.toLong)
      }.toSeq.maxBy(identity)
    parseSync(MetaFile.read(fs,
      new Path(dir, s"${newest._1}_${newest._2}.json")))
  }

  private[graft] def renderJoinMeta(factKeyCol: String): String =
    s"""{"fact_key_col":${MetaFile.jq(factKeyCol)}}"""

  private def writeJoinMeta(spark: SparkSession, mvRoot: String,
      factKeyCol: String): Unit =
    MetaFile.write(hfs(spark, mvRoot), new Path(mvRoot, "_join.json"),
      renderJoinMeta(factKeyCol))

  private def readJoinMeta(spark: SparkSession, mvRoot: String): String =
    MetaFile.str(MetaFile.read(hfs(spark, mvRoot),
      new Path(mvRoot, "_join.json")), "fact_key_col")

  private def dimKeyOf(spark: SparkSession, dimRoot: String): String = {
    val keys = LakeTable.manifest(spark, dimRoot).keys
    require(keys.size == 1,
      s"dim table must have a single key column (pk uniqueness is what " +
        s"makes the join delta exact), got $keys")
    keys.head
  }

  private def aggregate(joined: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    joined.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).alias("cnt"),
        sumCols.map(c => sum(col(c).cast(SumType)).cast(SumType)
          .alias(s"sum_$c")): _*)

  /** Full-compute the view at both tables' CURRENT versions and record the
    * sync point. `factKeyCol` is the fact-side join (foreign-key) column;
    * the dim joins on its own lake key. `groupCols` may come from either
    * side of the join; `sumCols` likewise (a dim-side sum multiplies by
    * matching fact rows — the join semantics, not a bug).
    */
  def init(spark: SparkSession, factRoot: String, dimRoot: String,
      mvRoot: String, factKeyCol: String, groupCols: Seq[String],
      sumCols: Seq[String], numBuckets: Int = 16): Unit = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(sumCols.nonEmpty, "sumCols must be non-empty")
    // refresh reconstructs sumCols from the view schema by the `sum_`
    // prefix and treats `cnt` as its own aggregate — a group column named
    // into either namespace would be misclassified on the FIRST refresh
    // (init would succeed, the view would be permanently unrefreshable)
    groupCols.foreach(g => require(!g.startsWith("sum_") && g != "cnt",
      s"group column '$g' collides with the view's aggregate-column " +
        "namespace (sum_*/cnt); rename it upstream"))
    val dimKey = dimKeyOf(spark, dimRoot)
    val fv = LakeTable.manifest(spark, factRoot).version
    val dv = LakeTable.manifest(spark, dimRoot).version
    val fact = LakeTable.read(spark, factRoot, Some(fv))
    val dim = LakeTable.readForJoin(spark, dimRoot, version = Some(dv))
    val joined = fact.join(dim, fact(factKeyCol) === dim(dimKey), "inner")
    LakeTable.init(aggregate(joined, groupCols, sumCols), mvRoot,
      groupCols, numBuckets)
    writeJoinMeta(spark, mvRoot, factKeyCol)
    writeSync(spark, mvRoot, Sync(fv, dv, 0L))
  }

  /** Advance the view to both tables' current versions by applying the two
    * signed delta legs since the last sync. Returns the view version
    * serving the new state (unchanged if both tables are current).
    * `maxDimDeltaKeys` bounds the driver-side collect of changed dim keys
    * that drives the fact-side file pruning; past it the dim leg degrades
    * to a full fact scan at the pinned old version. The default sizes
    * the collect (~MBs), not the per-file check — zone pruning binary-
    * searches the sorted key set, so 10⁵ selective keys still skip files.
    */
  def refresh(spark: SparkSession, factRoot: String, dimRoot: String,
      mvRoot: String, maxDimDeltaKeys: Int = 100000): Long = {
    var last: Throwable = null
    for (_ <- 0 until 5) {
      try return refreshOnce(spark, factRoot, dimRoot, mvRoot,
        maxDimDeltaKeys)
      catch { case e: LakeTable.CommitRaceException => last = e }
    }
    throw last
  }

  private def refreshOnce(spark: SparkSession, factRoot: String,
      dimRoot: String, mvRoot: String, maxDimDeltaKeys: Int): Long = {
    val sync = readSync(spark, mvRoot)
    val fv2 = LakeTable.manifest(spark, factRoot).version
    val dv2 = LakeTable.manifest(spark, dimRoot).version
    if (fv2 == sync.factVersion && dv2 == sync.dimVersion)
      return sync.mvVersion

    val factKeyCol = readJoinMeta(spark, mvRoot)
    val dimKey = dimKeyOf(spark, dimRoot)
    val mvManifest = LakeTable.manifest(spark, mvRoot, Some(sync.mvVersion))
    val groupCols = mvManifest.keys
    val sumCols = StructType.fromDDL(mvManifest.schemaDdl).fieldNames.toSeq
      .collect { case n if n.startsWith("sum_") => n.stripPrefix("sum_") }
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))

    // every phase's jobs carry an `mvjoin:*` label (inner lake labels
    // such as `lake:write` take over inside the fold's commit)
    // leg 1: ΔF ⋈ D_new — delta-sized, dim broadcast when small
    val leg1: Option[DataFrame] =
      if (fv2 == sync.factVersion) None
      else graft.JobLabel(spark, "mvjoin:fact-leg") {
        val df = LakeTable.changes(spark, factRoot, sync.factVersion, fv2)
          .withColumn("__sign", sign).drop("_change_type")
        val dim = LakeTable.readForJoin(spark, dimRoot, version = Some(dv2))
        Some(df.join(dim, df(factKeyCol) === dim(dimKey), "inner")
          .select((groupCols.map(col) :+ col("__sign")) ++
            sumCols.map(col): _*))
      }

    // leg 2: F_old ⋈ ΔD — old fact rows re-attributed under the dim's
    // changes, fact files pruned by the delivery's changed pks
    val leg2: Option[DataFrame] =
      if (dv2 == sync.dimVersion) None
      else graft.JobLabel(spark, "mvjoin:dim-leg") {
        val dd = LakeTable.changes(spark, dimRoot, sync.dimVersion, dv2)
          .withColumn("__sign", sign).drop("_change_type")
        val factOld = LakeTable.dynamicPrunedScan(spark, factRoot,
          factKeyCol, dd.select(col(dimKey)), maxDimDeltaKeys,
          Some(sync.factVersion))
        Some(factOld.join(dd, factOld(factKeyCol) === dd(dimKey), "inner")
          .select((groupCols.map(col) :+ col("__sign")) ++
            sumCols.map(col): _*))
      }

    // at least one leg exists — both-unchanged already returned above
    val delta = graft.JobLabel(spark, "mvjoin:delta") {
      (leg1.toSeq ++ leg2.toSeq).reduce(_.unionByName(_))
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("__sign")).alias("d_cnt"),
          sumCols.map(c => sum(col(c).cast(SumType) * col("__sign"))
            .cast(SumType).alias(s"d_sum_$c")): _*)
        .localCheckpoint()
    }

    // one-pass fold: the touched view buckets are read ONCE inside the
    // copy-on-write commit; the NULL-safe full-outer (a NULL dim
    // attribute is a legal group — a bare USING join would land the
    // delta BESIDE the stored row and the upsert would overwrite the
    // accumulated state) adds the signed delta onto stored state,
    // untouched groups of the bucket pass through on the cur side, and
    // dead groups (cnt ≤ 0) simply aren't re-emitted
    val mvVersion =
      try graft.JobLabel(spark, "mvjoin:fold") {
        LakeTable.foldGroupedDelta(spark, mvRoot, delta,
          Some(sync.mvVersion)) { (cur, d) =>
          LakeTable.nullSafeKeyJoin(d, cur, groupCols, "full_outer")
            .select(groupCols.map(col) ++ Seq(
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
                .alias("cnt")) ++ sumCols.map(c =>
              (coalesce(col(s"sum_$c"), lit(0).cast(SumType)) +
                coalesce(col(s"d_sum_$c"), lit(0).cast(SumType)))
                .cast(SumType).alias(s"sum_$c")): _*)
            .filter(col("cnt") > 0)
        }
      }
      finally delta.unpersist(blocking = false)
    writeSync(spark, mvRoot, Sync(fv2, dv2, mvVersion))
    mvVersion
  }

  /** The view as served: its lake table's newest SYNCED version, sums
    * under the `COALESCE(SUM(x), 0)` convention ([[MaterializedView.read]]
    * documents why the stored cell and the served value differ).
    */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    val df0 = LakeTable.read(spark, mvRoot,
      Some(readSync(spark, mvRoot).mvVersion))
    df0.columns.filter(_.startsWith("sum_"))
      .foldLeft(df0)((d, c) => d.withColumn(c,
        coalesce(col(c), lit(0).cast(SumType))))
  }
}
