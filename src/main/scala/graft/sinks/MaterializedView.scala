package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, NumericType,
  StructType}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}

/** Incremental materialized-view maintenance over a [[LakeTable]] — the
  * warehouse gold-aggregate pattern (the reference recomputes its gold
  * daily aggregate from scratch every run,
  * `dags/coin_data_pipeline_optimized.py:923-933`) made O(delta): the view
  * is `SELECT groupCols, count(*), sum(col)... GROUP BY groupCols`, stored
  * as its OWN LakeTable keyed on the group columns, and `refresh` applies
  * only the base table's change feed since the last sync instead of
  * rescanning the table.
  *
  * Maintenance algebra (classic self-maintainable aggregates): each change
  * row carries a sign — +1 for `insert`/`update_postimage`, −1 for
  * `delete`/`update_preimage` — so `count` advances by Σsign and each
  * `sum` by Σ(sign·value). Sums run in DECIMAL(38,6): decimal addition is
  * exact and associative, so the incrementally-maintained value is
  * BIT-equal to a full recompute, retractions included (floating-point
  * sums would drift under subtraction). `avg` and friends derive at read
  * time.
  *
  * `min`/`max` (opt-in via `minMaxCols`) are NOT self-maintainable under
  * retraction — a deleted extremum's successor is unknowable from the
  * delta alone — so the view carries a k-deep EXTREMA RESERVE per group
  * and direction (`__rlo_<c>`: the k smallest values sorted asc;
  * `__rhi_<c>`: the k largest sorted desc; k = `reserveDepth`). The
  * reserve is a PREFIX of the group's sorted values, which makes
  * retraction O(delta): any deleted value small enough to matter for the
  * minimum is necessarily IN the low reserve, so the refresh subtracts
  * the delivery's deleted values from the reserve (multiset subtraction),
  * merges the delivery's inserted values, and reads the new extremum off
  * the reserve head — no base-table access.
  *
  * The prefix invariant constrains the INSERT merge: once deletes have
  * shrunk a reserve below depth k, a group value just past the old
  * reserve tail is NOT in the reserve, so an inserted value above the
  * tail may not be the next-smallest survivor — merging it in would put
  * a non-prefix value where a later delete could surface it as a wrong
  * minimum. The view therefore carries an exact per-group non-null value
  * count per min/max column (`__rn_<c>`, self-maintainable: it advances
  * by Σ sign·IS NOT NULL). A refresh compares the post-subtraction
  * reserve size against the group's pre-insert survivor count: equal
  * means the reserve IS the whole group (inserts merge freely, the
  * prefix just grows); smaller means uncovered survivors exist, and
  * inserted values above the reserve tail are dropped — they are
  * re-derivable from the base via the same exhaustion recompute that
  * already covers reserve wipes. Only when a delivery wipes a
  * group's reserve (deletes its k extrema, or more deletions reach into
  * the reserve range than the refresh collected) does the group fall back
  * to a recompute from the base's new snapshot — and that recompute is
  * restricted to the exhausted groups and, when a group column is
  * declared in `statsCols`/`bloomCols`, read as [[LakeTable.scan]]
  * filtered by an `InSet` over those groups' values, so even the fallback
  * opens only the files that can hold those groups rather than scanning
  * the table.
  * The reserves double as a served aggregate: [[read]] exposes them as
  * `lowk_<c>`/`topk_<c>` — incremental bottom-k/top-k per group, the
  * true sorted prefix at its current length (see [[servedBase]]).
  *
  * `approx quantiles` (opt-in via `approxQuantileCols`) are maintained as
  * per-group DDSketch bucket histograms (Masson, Rim & Lee, VLDB 2019 —
  * the same public design [[graft.functions.Aggregators.DdSketchQuantiles]]
  * implements for one-shot aggregation): per column the view carries a
  * `map<int,long>` of geometric-bucket counts for the positive values
  * (`__ddp_<c>`), one for the negatives (`__ddn_<c>`), and a zero count
  * (`__ddz_<c>`). Unlike an HLL register file, bucket COUNTS subtract:
  * the refresh folds a SIGNED per-bucket delta (+1 insert, −1 delete)
  * into the stored maps with `map_zip_with`, so retraction is EXACT and
  * O(delta) — quantiles are the one approximate aggregate in this view
  * that never rides the exhaustion recompute. [[read]] with a quantile
  * list derives `appx_p<permille>_<c>` estimates by the aggregator's own
  * nearest-rank walk over the bucket histogram (relative error ≤ α on
  * every reported value); the bucket arithmetic here mirrors the
  * aggregator's, so the maintained HISTOGRAM equals a from-scratch
  * sketch of the surviving rows exactly (integer bucket counts — the
  * property sweep compares them with no tolerance), any delivery
  * history. The reported midpoint `2γ^i/(γ+1)` may differ from a JVM
  * recompute by ~1 ulp: `Math.pow` is a JIT intrinsic whose rounding is
  * only 1-ulp-bounded, so codegen'd and interpreted call sites of the
  * SAME formula can legally disagree in the last bit. α is
  * fixed at `init` and recorded in the `_sync` marker chain (micros) —
  * a refresh bucketing under a different α would silently misalign the
  * histogram, so the marker is the one source of truth.
  *
  * `variance`/`stddev` (opt-in via `varCols`, must also be `sumCols`) is
  * fully self-maintainable: the view carries the signed sum of squares
  * `__ss_<c>` (DECIMAL(38,6) — per-row squaring rounds deterministically,
  * so a delete cancels its insert exactly) and the non-null value count
  * `__sn_<c>` (advances by Σ sign·IS NOT NULL). Like `sum` and the
  * quantile histograms, retraction is EXACT and O(delta) — no exhaustion
  * path. [[read]] derives `var_<c>`/`stddev_<c>` (sample variance,
  * `(Σx² − (Σx)²/n)/(n−1)`, NULL below two non-null values, clamped at 0
  * against the scale-6 squaring truncation on constant groups).
  *
  * `approx count distinct` (opt-in via `approxNdCols`) is maintained as
  * a per-group DataSketches HLL sketch (`__hll_<c>`, Spark's native
  * `hll_sketch_agg`/`hll_union` — registers merge by max, so insert
  * maintenance is an associative union that commutes with any delivery
  * order and costs O(delta)). A sketch cannot retract: a delivery that
  * deletes a non-null value of the column flags the group and rides the
  * SAME exhausted-group recompute as a wiped min/max reserve — pruned to
  * those groups' files through the base's sidecars. [[read]] derives
  * `appx_nd_<c>` from the sketch like `avg` derives from sum/count.
  *
  * Scale shape, end to end: the CDF read is O(changed buckets) of the
  * base table ([[LakeTable.changes]]); the delta aggregation shuffles
  * only change rows, and the reserve deltas ride a salted two-phase hash
  * aggregation so a low-cardinality group column cannot skew it; the
  * view update reads only the buckets holding TOUCHED groups
  * ([[LakeTable.lookup]] + [[LakeTable.applyChanges]]). A 100-row
  * delivery against a 100 TB table updates the view in delivery-sized
  * work; a delivery that deletes a group's k smallest AND k largest
  * values additionally pays a pruned scan of that group's files.
  *
  * Crash safety: a refresh publishes the new view version FIRST, then
  * advances the `_sync` marker (table version ↔ view version, atomic
  * rename). A crash between the two leaves an ORPHAN view version; the
  * retry re-reads the view at the marker's PINNED version and re-applies
  * the same feed on it (`baseVersion` in [[LakeTable.applyChanges]]), so
  * the orphan is never compounded — refresh is idempotent, the lake
  * discipline every sink in this repo follows.
  */
object MaterializedView {

  /** `ddAlphaMicros`: the DDSketch α of the view's quantile state in
    * millionths (0 = no quantile columns). It rides the sync chain — a
    * marker field, not a constant — because every refresh MUST bucket
    * deltas under the α init used; the view schema records which columns
    * have quantile state, the marker records how they were bucketed.
    */
  private[graft] final case class Sync(tableVersion: Long, mvVersion: Long,
      ddAlphaMicros: Long = 0L)

  private def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val SumType = "decimal(38,6)"

  /** Diagnostics: how many exhausted prune-values (or a 1 sentinel when
    * unprunable) the last refresh recomputed — 0 means the reserve
    * absorbed every retraction and NO base-table job ran. Test pin.
    */
  private[graft] var lastExhausted: Int = 0

  private[graft] def renderSync(s: Sync): String =
    s"""{"table_version":${s.tableVersion},"mv_version":${s.mvVersion}""" +
      s""","dd_alpha_micros":${s.ddAlphaMicros}}"""

  /** Markers written before quantile state carry no `dd_alpha_micros`. */
  private[graft] def parseSync(o: JsonNode): Sync =
    Sync(MetaFile.reqNum(o, "table_version"), MetaFile.reqNum(o, "mv_version"),
      MetaFile.num(o, "dd_alpha_micros"))

  /** Record table version ↔ view version, one marker file per table
    * version, claimed EXCLUSIVELY through [[MetaFile.claim]] (the
    * [[LakeTable]] publish discipline). Losing the claim is BENIGN, not
    * an error: two refreshes that raced to the same table version applied
    * the same change feed on the same pinned view base, so their
    * published view versions serve identical aggregate state — the
    * winner's marker stands and the loser's staged file is discarded,
    * rather than a POSIX rename silently replacing the winner's marker.
    */
  private def writeSync(spark: SparkSession, mvRoot: String, s: Sync): Unit =
    MetaFile.claim(hfs(spark, mvRoot),
      new Path(mvRoot, s"_sync/${s.tableVersion}.json"), renderSync(s))

  private def readSync(spark: SparkSession, mvRoot: String): Sync = {
    val fs = hfs(spark, mvRoot)
    val dir = new Path(mvRoot, "_sync")
    require(fs.exists(dir), s"no MaterializedView sync state at $mvRoot")
    parseSync(MetaFile.read(fs,
      new Path(dir, s"${MetaFile.numbered(fs, dir).max}.json")))
  }

  /** x² in DECIMAL(38,6): the square evaluates at widened scale, then
    * rounds back to scale 6. The per-row rounding is DETERMINISTIC — the
    * same value always squares to the same decimal — so an insert's
    * contribution and its later delete's cancel exactly, and the signed
    * sum of squares retracts like `sum` does. (The served variance
    * absorbs the scale-6 truncation: ≤ 5e-7 per row, clamped at 0.)
    */
  private def sq(c: String): Column =
    (col(c).cast(SumType) * col(c).cast(SumType)).cast(SumType)

  private def aggregate(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], ndCols: Seq[String] = Nil,
      varCols: Seq[String] = Nil): DataFrame = {
    val aggs = (count(lit(1)).alias("cnt") +: sumCols.map(c =>
      sum(col(c).cast(SumType)).cast(SumType).alias(s"sum_$c"))) ++
      varCols.flatMap(c => Seq(
        sum(sq(c)).cast(SumType).alias(s"__ss_$c"),
        sum(when(col(c).isNotNull, 1L).otherwise(0L)).alias(s"__sn_$c"))) ++
      ndCols.map(c => hll_sketch_agg(col(c)).alias(s"__hll_$c"))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `array<T>` literal `[]` — typed so `concat`/`array_sort` line up. */
  private def emptyArr(t: DataType): Column = array().cast(ArrayType(t))

  /** Multiset subtraction over bounded arrays — each deleted value
    * cancels exactly ONE reserve copy (`array_except` would drop all).
    * A lambda-free native expression
    * ([[graft.functions.MultisetSubtract]]): the HOF formulation
    * (`filter` with nested `filter`/`slice`) mis-evaluated when the lo
    * and hi subtractions shared the reserve-merge projection — see the
    * expression's Scaladoc. Quadratic in the reserve depth, a small
    * constant, on touched-groups-sized frames.
    */
  private def msub(xs: Column, ds: Column): Column =
    graft.functions.ArrayFunctions.multisetSubtract(xs, ds)

  // ---- DDSketch quantile state (approxQuantileCols) -------------------

  /** The bucket arithmetic of
    * [[graft.functions.Aggregators.DdSketchQuantiles]] as plan
    * expressions — SAME formulas in the SAME evaluation order, so the
    * maintained histogram is bit-identical to a from-scratch JVM sketch
    * of the surviving rows (the property sweep asserts exact equality
    * between the two implementations, not a tolerance).
    */
  private final case class DdParams(alpha: Double) {
    require(alpha > 0 && alpha < 1, s"quantile alpha in (0,1), got $alpha")
    val gamma: Double = (1 + alpha) / (1 - alpha)
    val logGamma: Double = math.log(gamma)
    /** Clamp index — derives from α like the aggregator's, covering
      * |value| in [1e-38, 1e38]; magnitudes beyond collapse into the edge
      * bucket identically on insert and delete, so retraction still
      * cancels exactly. */
    val maxAbsIdx: Int = math.ceil(math.log(1e38) / logGamma).toInt
    /** Bucket of a strictly positive value: clamped `ceil(log_γ x)`. */
    def bucketC(pos: Column): Column =
      least(lit(maxAbsIdx.toLong), greatest(lit(-maxAbsIdx.toLong),
        ceil(log(pos) / lit(logGamma)))).cast("int")
    /** The α-midpoint value a bucket reports: `2γ^i/(γ+1)`. */
    def bucketValueC(b: Column): Column =
      lit(2.0) * pow(lit(gamma), b.cast("double")) / lit(gamma + 1)
  }

  /** `map<int,long>` literal `{}` — typed so `map_zip_with` lines up. */
  private val emptyBuckets: Column =
    map_from_arrays(array().cast("array<int>"), array().cast("array<bigint>"))

  /** Fold a SIGNED bucket-count delta into a stored histogram: union of
    * keys via `map_zip_with`, zero-count buckets dropped so a fully
    * retracted value range costs no storage. Exact under any interleaving
    * — bucket counts are plain integers, the self-maintainable shape.
    */
  private def mergeSigned(stored: Column, delta: Column): Column =
    map_filter(map_zip_with(coalesce(stored, emptyBuckets),
      coalesce(delta, emptyBuckets),
      (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L))),
      (_, v) => v =!= 0L)

  /** Per-group DDSketch state for every quantile column in ONE pass:
    * each row explodes into one (column, sign-class, bucket, ±1) entry
    * per column (NULL/NaN values contribute nothing), a first hash
    * aggregation sums signed counts per (group, column, class, bucket) —
    * bucket cardinality keeps this skew-proof without salting — and a
    * second rolls each column's buckets into `map<int,long>`s (positives,
    * negatives keyed on |x|'s bucket) plus a zero count. Output columns:
    * `<pfx>p_<c>`, `<pfx>n_<c>` (maps), `<pfx>z_<c>` (long). Groups whose
    * entries all cancel drop out — absent state reads as empty downstream.
    */
  private def ddAggregate(df: DataFrame, groupCols: Seq[String],
      ddCols: Seq[String], p: DdParams, sign: Column,
      pfx: String): DataFrame = {
    val entries = ddCols.map { c =>
      val v = col(c).cast("double")
      struct(lit(c).alias("__dc"),
        when(v.isNull || isnan(v), lit(null).cast("string"))
          .when(v > 0, lit("p")).when(v < 0, lit("n")).otherwise(lit("z"))
          .alias("__cls"),
        when(v > 0, p.bucketC(v)).when(v < 0, p.bucketC(-v))
          .otherwise(lit(0)).alias("__b"),
        sign.cast("long").alias("__s"))
    }
    val perBucket = df
      .select(groupCols.map(col) :+
        explode(array(entries: _*)).alias("__e"): _*)
      .select(groupCols.map(col) ++ Seq(col("__e.__dc").alias("__dc"),
        col("__e.__cls").alias("__cls"), col("__e.__b").alias("__b"),
        col("__e.__s").alias("__s")): _*)
      .filter(col("__cls").isNotNull)
      .groupBy((groupCols ++ Seq("__dc", "__cls", "__b")).map(col): _*)
      .agg(sum(col("__s")).alias("__d"))
      .filter(col("__d") =!= 0L)
    val aggs = ddCols.flatMap { c =>
      Seq(
        map_from_entries(collect_list(
          when(col("__dc") === c && col("__cls") === "p",
            struct(col("__b"), col("__d"))))).alias(s"${pfx}p_$c"),
        map_from_entries(collect_list(
          when(col("__dc") === c && col("__cls") === "n",
            struct(col("__b"), col("__d"))))).alias(s"${pfx}n_$c"),
        sum(when(col("__dc") === c && col("__cls") === "z", col("__d"))
          .otherwise(0L)).alias(s"${pfx}z_$c"))
    }
    perBucket.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A bounded extremum array to aggregate per group: the `depth`
    * smallest (`asc`) or largest values of `value`, emitted as `name`.
    */
  private final case class RAgg(value: Column, asc: Boolean, depth: Int,
      name: String)

  /** Per-group bounded extrema arrays + sum-style aggregates via TWO-PHASE
    * salted aggregation: phase 1 groups by (groupCols, partition id) — so
    * a low-cardinality group column never funnels the input into few
    * tasks, the classic MV skew shape — collects each salt cell's values
    * and truncates to `depth` BEFORE the second exchange; phase 2 merges
    * the ≤ depth·partitions per-group arrays and re-truncates. The global
    * k smallest values are always among the union of per-cell k smallest,
    * so truncation loses nothing. `sums` re-aggregate with SUM in phase 2
    * (sum/count deltas are associative). No window, no full-input sort:
    * both phases are hash aggregates.
    */
  private def saltedReserves(df: DataFrame, groupCols: Seq[String],
      arrays: Seq[RAgg], sums: Seq[(Column, String)],
      sketches: Seq[(Column, String)] = Nil): DataFrame = {
    def trunc(a: RAgg, c: Column): Column = {
      val sorted = array_sort(c)
      slice(if (a.asc) sorted else reverse(sorted), 1, a.depth)
    }
    val p1 = arrays.map(a =>
      trunc(a, collect_list(a.value)).alias(s"__p_${a.name}")) ++
      sums.map { case (e, n) => sum(e).alias(s"__p_$n") } ++
      sketches.map { case (e, n) => hll_sketch_agg(e).alias(s"__p_$n") }
    val stage1 = df.withColumn("__salt", spark_partition_id())
      .groupBy((groupCols :+ "__salt").map(col): _*)
      .agg(p1.head, p1.tail: _*)
    val p2 = arrays.map(a =>
      trunc(a, flatten(collect_list(col(s"__p_${a.name}")))).alias(a.name)) ++
      sums.map { case (_, n) => sum(col(s"__p_$n")).alias(n) } ++
      sketches.map { case (_, n) => hll_union_agg(col(s"__p_$n")).alias(n) }
    stage1.groupBy(groupCols.map(col): _*).agg(p2.head, p2.tail: _*)
  }

  /** Full-compute the aggregate AND the extrema reserves (two salted hash
    * aggregations, no window/sort over the base — see [[saltedReserves]]).
    */
  private def aggregateWithReserves(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String], k: Int,
      ndCols: Seq[String] = Nil, varCols: Seq[String] = Nil): DataFrame = {
    val arrays = minMaxCols.flatMap(c => Seq(
      RAgg(col(c), asc = true, k, s"__rlo_$c"),
      RAgg(col(c), asc = false, k, s"__rhi_$c")))
    val sums = (((lit(1L), "cnt") +:
      sumCols.map(c => (col(c).cast(SumType), s"sum_$c"))) ++
      varCols.flatMap(c => Seq(
        (sq(c), s"__ss_$c"),
        (when(col(c).isNotNull, 1L).otherwise(0L), s"__sn_$c")))) ++
      minMaxCols.map(c =>
        (when(col(c).isNotNull, 1L).otherwise(0L), s"__rn_$c"))
    saltedReserves(df, groupCols, arrays, sums,
        ndCols.map(c => (col(c), s"__hll_$c")))
      .select(groupCols.map(col) ++
        Seq(col("cnt")) ++
        sumCols.map(c => col(s"sum_$c").cast(SumType).alias(s"sum_$c")) ++
        varCols.flatMap(c => Seq(
          col(s"__ss_$c").cast(SumType).alias(s"__ss_$c"),
          col(s"__sn_$c"))) ++
        minMaxCols.flatMap(c => Seq(
          try_element_at(col(s"__rlo_$c"), lit(1)).alias(s"min_$c"),
          try_element_at(col(s"__rhi_$c"), lit(1)).alias(s"max_$c"))) ++
        minMaxCols.flatMap(c => Seq(col(s"__rlo_$c"), col(s"__rhi_$c"),
          col(s"__rn_$c"))) ++
        ndCols.map(c => col(s"__hll_$c")): _*)
  }

  /** Full-compute the view at the base table's CURRENT version and record
    * the sync point. View schema: `groupCols`, `cnt` (long), one
    * `sum_<c>` DECIMAL(38,6) per sum column, and — per min/max column, in
    * the base column's own type — `min_<c>`/`max_<c>` plus the internal
    * reserve arrays `__rlo_<c>`/`__rhi_<c>` and the non-null value count
    * `__rn_<c>` that guards the insert merge ([[read]] hides those).
    */
  def init(spark: SparkSession, tableRoot: String, mvRoot: String,
      groupCols: Seq[String], sumCols: Seq[String],
      numBuckets: Int = 16, minMaxCols: Seq[String] = Nil,
      reserveDepth: Int = 8, approxNdCols: Seq[String] = Nil,
      approxQuantileCols: Seq[String] = Nil,
      quantileAlpha: Double = 0.01,
      varCols: Seq[String] = Nil): Unit = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(sumCols.nonEmpty, "sumCols must be non-empty")
    require(reserveDepth >= 1, "reserveDepth must be >= 1")
    // variance derives from (Σx, Σx², n_nonnull): Σx is the sum column,
    // so a variance column must also be a sum column — requiring it here
    // beats silently maintaining a second Σx under another name
    require(varCols.forall(sumCols.contains),
      s"varCols must be a subset of sumCols, got $varCols vs $sumCols")
    // refresh reconstructs the aggregate surface from the view schema by
    // prefix (sum_/min_/max_/__hll_/__r*, plus cnt) — a group column
    // named into any of those namespaces would be misclassified on the
    // FIRST refresh, leaving an init-accepted view unrefreshable
    groupCols.foreach(g => require(
      !Seq("sum_", "min_", "max_", "__").exists(g.startsWith) && g != "cnt",
      s"group column '$g' collides with the view's aggregate-column " +
        "namespace (sum_*/min_*/max_*/__*/cnt); rename it upstream"))
    val tv = LakeTable.manifest(spark, tableRoot).version
    val base = LakeTable.read(spark, tableRoot, Some(tv))
    approxNdCols.foreach { c =>
      val dt = base.schema(c).dataType
      require(Seq("integer", "long", "string", "binary")
        .contains(dt.typeName),
        s"approxNdCols $c: hll_sketch_agg supports int/long/string/binary, got $dt")
    }
    approxQuantileCols.foreach { c =>
      require(base.schema(c).dataType.isInstanceOf[NumericType],
        s"approxQuantileCols $c: DDSketch buckets a numeric axis, got " +
          base.schema(c).dataType)
    }
    varCols.foreach { c =>
      require(base.schema(c).dataType.isInstanceOf[NumericType],
        s"varCols $c: variance needs a numeric axis, got " +
          base.schema(c).dataType)
    }
    val ddMicros =
      if (approxQuantileCols.isEmpty) 0L
      else { DdParams(quantileAlpha); math.round(quantileAlpha * 1e6) }
    val view0 =
      if (minMaxCols.isEmpty)
        aggregate(base, groupCols, sumCols, approxNdCols, varCols)
      else aggregateWithReserves(base, groupCols, sumCols, minMaxCols,
        reserveDepth, approxNdCols, varCols)
    // quantile state rides its own two-shuffle aggregation (bucket
    // cardinality replaces salting) and lands beside the main aggregate
    // via a NULL-safe group join; a group whose quantile values are all
    // NULL simply has no state row — empty histogram downstream
    val view =
      if (approxQuantileCols.isEmpty) view0
      else LakeTable.nullSafeKeyJoin(view0,
        ddAggregate(base, groupCols, approxQuantileCols,
          DdParams(ddMicros / 1e6), lit(1L), "__dd"), groupCols, "left")
    LakeTable.init(view, mvRoot, groupCols, numBuckets)
    writeSync(spark, mvRoot, Sync(tv, 0L, ddMicros))
  }

  /** Advance the view to the base table's current version by applying the
    * change feed since the last sync. Returns the view version serving
    * the new state (unchanged if already current). `reserveDepth` is the
    * refresh-local extrema-reserve depth (how many deleted values per
    * direction the refresh collects; reserves deeper or shallower than a
    * previous writer's are handled — the prefix invariant only ever
    * truncates). `maxRecomputeGroups` caps the driver-side value collect
    * that drives sidecar pruning of the exhausted-group recompute; above
    * it the recompute falls back to a full-scan semi-join.
    */
  def refresh(spark: SparkSession, tableRoot: String, mvRoot: String,
      reserveDepth: Int = 8, maxRecomputeGroups: Int = 1024): Long = {
    // Interleaved-refresh discipline: the view write is PINNED to the
    // sync marker's view version, and pinned LakeTable writes fail
    // loudly on a commit race instead of retrying against a stale base
    // (rewriteTouched doc). The loser re-BASES: re-read the sync marker
    // — if the winner advanced it to the same table version this refresh
    // is a no-op; if the winner only published (crashed before its
    // marker), the pinned re-apply converges on the orphan's content.
    var last: Throwable = null
    for (_ <- 0 until 5) {
      try return refreshOnce(spark, tableRoot, mvRoot, reserveDepth,
        maxRecomputeGroups)
      catch { case e: LakeTable.CommitRaceException => last = e }
    }
    throw last
  }

  private def refreshOnce(spark: SparkSession, tableRoot: String,
      mvRoot: String, reserveDepth: Int, maxRecomputeGroups: Int): Long = {
    val sync = readSync(spark, mvRoot)
    val tv = LakeTable.manifest(spark, tableRoot).version
    if (tv == sync.tableVersion) return sync.mvVersion

    val mvManifest = LakeTable.manifest(spark, mvRoot, Some(sync.mvVersion))
    val groupCols = mvManifest.keys
    val viewSchema = StructType.fromDDL(mvManifest.schemaDdl)
    val viewFields = viewSchema.fieldNames.toSeq
    val sumCols = viewFields
      .collect { case n if n.startsWith("sum_") => n.stripPrefix("sum_") }
    val minMaxCols = viewFields
      .collect { case n if n.startsWith("min_") => n.stripPrefix("min_") }
    val ndCols = viewFields
      .collect { case n if n.startsWith("__hll_") => n.stripPrefix("__hll_") }
    val ddCols = viewFields
      .collect { case n if n.startsWith("__ddz_") => n.stripPrefix("__ddz_") }
    val ssCols = viewFields
      .collect { case n if n.startsWith("__ss_") => n.stripPrefix("__ss_") }
    // the marker chain carries the histogram's α — a refresh bucketing
    // under any other value would misalign every stored bucket
    require(ddCols.isEmpty || sync.ddAlphaMicros > 0,
      s"view at $mvRoot has quantile state (${ddCols.mkString(",")}) but " +
        "its sync marker lost dd_alpha_micros — cannot bucket the delta")
    val ddP = if (ddCols.isEmpty) None
      else Some(DdParams(sync.ddAlphaMicros / 1e6))
    val mmType: Map[String, DataType] =
      minMaxCols.map(c => c -> viewSchema(s"min_$c").dataType).toMap
    val k = reserveDepth

    val feed = LakeTable.changes(spark, tableRoot, sync.tableVersion, tv)
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))

    // grouped delta, ≤ touched-groups rows: count/sum deltas plus the
    // reserve deltas (k smallest/largest INSERTED values; k+1
    // smallest/largest DELETED — the +1 detects deletes reaching past
    // what was collected), all through the skew-proof two-phase salted
    // aggregation. Materialized ONCE: its lineage is the whole change
    // feed (two snapshot reads + full-outer join) and several consumers
    // follow.
    val delta0 = {
      if (minMaxCols.isEmpty)
        feed.groupBy(groupCols.map(col): _*)
          .agg(sum(sign).alias("d_cnt"),
            (sumCols.map(c => sum(col(c).cast(SumType) * sign).cast(SumType)
              .alias(s"d_sum_$c")) ++
             ssCols.flatMap(c => Seq(
               sum(sq(c) * sign).cast(SumType).alias(s"d_ss_$c"),
               sum(when(col(c).isNotNull, sign).otherwise(0L))
                 .alias(s"d_sn_$c"))) ++
             ndCols.map(c => hll_sketch_agg(when(sign === 1L, col(c)))
               .alias(s"d_hll_$c")) ++
             ndCols.map(c => sum(when(sign === -1L && col(c).isNotNull, 1L)
               .otherwise(0L)).alias(s"d_hdeln_$c"))): _*)
      else {
        val withSign = feed.withColumn("__sign", sign)
        val ins = (c: String) => when(col("__sign") === 1L, col(c))
        val del = (c: String) => when(col("__sign") === -1L, col(c))
        val arrays = minMaxCols.flatMap(c => Seq(
          RAgg(ins(c), asc = true, k, s"d_ins_lo_$c"),
          RAgg(ins(c), asc = false, k, s"d_ins_hi_$c"),
          RAgg(del(c), asc = true, k + 1, s"d_del_lo_$c"),
          RAgg(del(c), asc = false, k + 1, s"d_del_hi_$c")))
        val sums = ((col("__sign"), "d_cnt") +: sumCols.map(c =>
          (col(c).cast(SumType) * col("__sign"), s"d_sum_$c"))) ++
          ssCols.flatMap(c => Seq(
            (sq(c) * col("__sign"), s"d_ss_$c"),
            (when(col(c).isNotNull, col("__sign")).otherwise(0L),
              s"d_sn_$c"))) ++
          minMaxCols.flatMap(c => Seq(
            (when(col(c).isNotNull, col("__sign")).otherwise(0L),
              s"d_rn_$c"),
            (when(col("__sign") === -1L && col(c).isNotNull, 1L)
              .otherwise(0L), s"d_deln_$c"))) ++
          ndCols.map(c =>
            (when(col("__sign") === -1L && col(c).isNotNull, 1L)
              .otherwise(0L), s"d_hdeln_$c"))
        saltedReserves(withSign, groupCols, arrays, sums,
            ndCols.map(c => (ins(c), s"d_hll_$c")))
          .select(groupCols.map(col) ++
            Seq(col("d_cnt")) ++
            sumCols.map(c =>
              col(s"d_sum_$c").cast(SumType).alias(s"d_sum_$c")) ++
            ssCols.flatMap(c => Seq(
              col(s"d_ss_$c").cast(SumType).alias(s"d_ss_$c"),
              col(s"d_sn_$c"))) ++
            arrays.map(a => col(a.name)) ++
            minMaxCols.flatMap(c =>
              Seq(col(s"d_rn_$c"), col(s"d_deln_$c"))) ++
            ndCols.flatMap(c =>
              Seq(col(s"d_hll_$c"), col(s"d_hdeln_$c"))): _*)
      }
    }
    // quantile delta: SIGNED bucket counts per (group, column) — its own
    // two-shuffle aggregation of the same feed, joined NULL-safe onto the
    // grouped delta (every dd group has feed rows, so `left` covers)
    val delta = graft.JobLabel(spark, "mv:delta") {
      (if (ddCols.isEmpty) delta0
      else LakeTable.nullSafeKeyJoin(delta0,
        ddAggregate(feed, groupCols, ddCols, ddP.get, sign, "d_dd"),
        groupCols, "left")).localCheckpoint()
    }

    val baseCols = groupCols.map(col) ++ Seq(
      (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
        .alias("cnt")) ++ sumCols.map(c =>
      (coalesce(col(s"sum_$c"), lit(0).cast(SumType)) +
        coalesce(col(s"d_sum_$c"), lit(0).cast(SumType)))
        .cast(SumType).alias(s"sum_$c")) ++ ssCols.flatMap(c => Seq(
      (coalesce(col(s"__ss_$c"), lit(0).cast(SumType)) +
        coalesce(col(s"d_ss_$c"), lit(0).cast(SumType)))
        .cast(SumType).alias(s"__ss_$c"),
      (coalesce(col(s"__sn_$c"), lit(0L)) +
        coalesce(col(s"d_sn_$c"), lit(0L))).alias(s"__sn_$c")))

    // approx-distinct sketch maintenance: inserts UNION into the group's
    // sketch (registers merge by max — associative, order-free); a sketch
    // cannot retract, so any group with a non-null deleted value flags
    // `__exnd_<c>` and rides the same exhausted-group recompute as a
    // wiped min/max reserve.
    val ndMergeCols = ndCols.flatMap { c =>
      val oldH = col(s"__hll_$c")
      val dH = col(s"d_hll_$c")
      Seq(
        when(oldH.isNull, dH).when(dH.isNull, oldH)
          .otherwise(hll_union(oldH, dH)).alias(s"__hll_$c"),
        (coalesce(col(s"d_hdeln_$c"), lit(0L)) > 0).alias(s"__exnd_$c"))
    }

    // quantile maintenance: fold the signed bucket delta into the stored
    // histograms — EXACT under retraction (bucket counts subtract), so
    // unlike min/max reserves and HLL sketches this never flags a group
    // for recompute and passes through the exhaustion patch untouched
    val ddMergeCols = ddCols.flatMap { c =>
      Seq(mergeSigned(col(s"__ddp_$c"), col(s"d_ddp_$c")).alias(s"__ddp_$c"),
        mergeSigned(col(s"__ddn_$c"), col(s"d_ddn_$c")).alias(s"__ddn_$c"),
        (coalesce(col(s"__ddz_$c"), lit(0L)) +
          coalesce(col(s"d_ddz_$c"), lit(0L))).alias(s"__ddz_$c"))
    }

    if (minMaxCols.isEmpty && ndCols.isEmpty) {
      // exact-under-retraction aggregates only (count/sum/variance/
      // quantile): no exhaustion decision stands between the delta and
      // the publish, so the whole state change is ONE copy-on-write
      // fold — the touched view buckets are read once inside the commit
      // instead of lookup + full-outer + checkpoint + applyChanges
      // reading them twice ([[LakeTable.foldGroupedDelta]])
      lastExhausted = 0
      val mvVersion =
        try LakeTable.foldGroupedDelta(spark, mvRoot, delta,
          Some(sync.mvVersion)) { (cur, d) =>
          LakeTable.nullSafeKeyJoin(d, cur, groupCols, "full_outer")
            .select(baseCols ++ ddMergeCols: _*)
            .filter(col("cnt") > 0)
        }
        finally delta.unpersist(blocking = false)
      writeSync(spark, mvRoot, Sync(tv, mvVersion, sync.ddAlphaMicros))
      return mvVersion
    }

    // ONE touched-bucket probe for the whole refresh: the groups the
    // lookup must read are exactly the groups the final applyChanges
    // rewrites (merged's key set IS delta's — current is looked up only
    // for delta's groups, and the full-outer join adds none), so the
    // bucket set is computed once over the checkpointed delta and shared
    // between the read and the write (was two identical probe jobs).
    val touchedHint = Some(LakeTable.TouchedHint(groupCols,
      mvManifest.numBuckets, graft.JobLabel(spark, "mv:touched") {
        LakeTable.touchedBuckets(delta, groupCols, mvManifest.numBuckets)
      }))

    // current state of ONLY the touched groups, read at the PINNED view
    // version (crash-orphan versions are invisible to the retry)
    val current = LakeTable.lookupHinted(spark, mvRoot,
      delta.select(groupCols.map(col): _*), Some(sync.mvVersion),
      touchedHint)

    // NULL-safe on the group key: a NULL group is a legal GROUP BY group
    // and its delta must land on its stored row, not beside it
    val joined = LakeTable.nullSafeKeyJoin(delta, current, groupCols,
      "full_outer")

    // reserve maintenance per group: subtract the delivery's deleted
    // values from the reserve, merge its inserted values, flag EXHAUSTED
    // when the subtraction can't be trusted — the reserve was wiped, or
    // more deletes reached into the reserve's value range than the k+1
    // the delta collected (strict comparison: an uncollected delete EQUAL
    // to the reserve boundary could still cancel a reserve copy)
    val mmCols = minMaxCols.flatMap { c =>
      val t = mmType(c)
      val rloOld = coalesce(col(s"__rlo_$c"), emptyArr(t))
      val rhiOld = coalesce(col(s"__rhi_$c"), emptyArr(t))
      val dInsLo = coalesce(col(s"d_ins_lo_$c"), emptyArr(t))
      val dInsHi = coalesce(col(s"d_ins_hi_$c"), emptyArr(t))
      val dDelLo = coalesce(col(s"d_del_lo_$c"), emptyArr(t))
      val dDelHi = coalesce(col(s"d_del_hi_$c"), emptyArr(t))
      val subLo = msub(rloOld, dDelLo)
      val subHi = msub(rhiOld, dDelHi)
      val exhLo = size(rloOld) > 0 && (
        (size(subLo) === 0 && size(dDelLo) > 0) ||
        (size(dDelLo) === k + 1 &&
          try_element_at(dDelLo, lit(k + 1)) <= try_element_at(rloOld, size(rloOld))))
      val exhHi = size(rhiOld) > 0 && (
        (size(subHi) === 0 && size(dDelHi) > 0) ||
        (size(dDelHi) === k + 1 &&
          try_element_at(dDelHi, lit(k + 1)) >= try_element_at(rhiOld, size(rhiOld))))
      // prefix-safe insert merge (class doc): the pre-insert survivor
      // count preN decides coverage. Covered (post-subtraction reserve ==
      // the whole group) → inserts merge freely; uncovered → inserts past
      // the reserve tail are DROPPED, because a survivor the reserve does
      // not hold may precede them (merging would break the sorted-prefix
      // invariant and a later in-reserve delete could read a wrong
      // extremum off the head). Dropped inserts are recoverable only
      // through the exhaustion recompute, which is exactly where a
      // too-shallow reserve already lands.
      val rnOld = coalesce(col(s"__rn_$c"), lit(0L))
      val dRn = coalesce(col(s"d_rn_$c"), lit(0L))
      val dDelN = coalesce(col(s"d_deln_$c"), lit(0L))
      val preN = rnOld - dDelN
      val covLo = size(subLo).cast("long") === preN
      val covHi = size(subHi).cast("long") === preN
      // greatest(...,1): an EMPTY uncovered reserve only occurs on rows
      // the exhaustion patch overwrites, but the otherwise-branch still
      // evaluates — index 0 would throw where index 1 yields NULL
      val insLo = when(covLo, dInsLo).otherwise(
        graft.functions.ArrayFunctions.boundFilter(dInsLo,
          try_element_at(subLo, greatest(size(subLo), lit(1))),
          keepLe = true))
      val insHi = when(covHi, dInsHi).otherwise(
        graft.functions.ArrayFunctions.boundFilter(dInsHi,
          try_element_at(subHi, greatest(size(subHi), lit(1))),
          keepLe = false))
      val newRlo = slice(array_sort(concat(subLo, insLo)), 1, k)
      val newRhi = slice(reverse(array_sort(concat(subHi, insHi))), 1, k)
      Seq(
        try_element_at(newRlo, lit(1)).alias(s"min_$c"),
        try_element_at(newRhi, lit(1)).alias(s"max_$c"),
        newRlo.alias(s"__rlo_$c"), newRhi.alias(s"__rhi_$c"),
        (rnOld + dRn).alias(s"__rn_$c"),
        exhLo.alias(s"__exlo_$c"), exhHi.alias(s"__exhi_$c"))
    }
    val merged0 = graft.JobLabel(spark, "mv:merge-reserves") {
      joined
        .select(baseCols ++ mmCols ++ ndMergeCols ++ ddMergeCols: _*)
        .localCheckpoint()
    }

    val exhAny = (minMaxCols.flatMap(c =>
      Seq(col(s"__exlo_$c"), col(s"__exhi_$c"))) ++
      ndCols.map(c => col(s"__exnd_$c"))).reduce(_ || _)
    val exhausted = merged0.filter(exhAny && col("cnt") > 0)
    // bounded driver collect: the exhausted groups' prune-column values,
    // in the base column's type, for one InSet over the base's scan().
    // Cap + null guard; either degrades to the full-scan semi-join,
    // never to a wrong prune.
    val baseM = LakeTable.manifest(spark, tableRoot, Some(tv))
    val pruneCol = groupCols.find(c =>
      baseM.statsCols.contains(c) || baseM.bloomCols.contains(c))
    val pruneType = pruneCol.map(StructType.fromDDL(baseM.schemaDdl)(_).dataType)
    val exhVals: Array[Any] = graft.JobLabel(spark, "mv:exhaust-probe") {
      pruneCol match {
        case Some(pc) => exhausted.select(col(pc).cast(pruneType.get))
          .distinct().limit(maxRecomputeGroups + 1).collect()
          .map(_.get(0))
        case None =>
          if (exhausted.isEmpty) Array.empty else Array("__unprunable__")
      }
    }

    lastExhausted = exhVals.length
    val merged =
      if (exhVals.isEmpty) merged0
      else {
        val baseNew =
          if (exhVals.length > maxRecomputeGroups || pruneCol.isEmpty ||
              exhVals.contains(null))
            LakeTable.read(spark, tableRoot, Some(tv))
          else LakeTable.scan(spark, tableRoot, Some(tv)).filter(
            LakeTable.inSet(pruneCol.get, pruneType.get, exhVals.toSeq))
        val exhG = exhausted.select(groupCols.map(col): _*)
        val restricted = LakeTable.keyMembershipJoin(baseNew, exhG,
          groupCols, "left_semi", bcast = true)
        // authoritative extrema + fresh k-deep reserves for the exhausted
        // groups, same skew-proof salted construction as init
        val rArrays = minMaxCols.flatMap(c => Seq(
          RAgg(col(c), asc = true, k, s"r_rlo_$c"),
          RAgg(col(c), asc = false, k, s"r_rhi_$c")))
        val rSums = minMaxCols.map(c =>
          (when(col(c).isNotNull, 1L).otherwise(0L), s"r_rn_$c"))
        val recomputed = saltedReserves(restricted, groupCols, rArrays,
          rSums, ndCols.map(c => (col(c), s"r_hll_$c")))
        // patch: exhausted directions take the authoritative values
        // (missing recompute row = every surviving value was NULL)
        LakeTable.nullSafeKeyJoin(merged0, recomputed, groupCols, "left")
          .select(groupCols.map(col) ++ Seq(col("cnt")) ++
            sumCols.map(c => col(s"sum_$c")) ++
            // variance state is exact under retraction — pass through
            // unpatched, like the quantile histograms
            ssCols.flatMap(c => Seq(col(s"__ss_$c"), col(s"__sn_$c"))) ++
            minMaxCols.flatMap { c =>
              val t = mmType(c)
              val rlo = coalesce(col(s"r_rlo_$c"), emptyArr(t))
              val rhi = coalesce(col(s"r_rhi_$c"), emptyArr(t))
              Seq(
                when(col(s"__exlo_$c"), try_element_at(rlo, lit(1)))
                  .otherwise(col(s"min_$c")).alias(s"min_$c"),
                when(col(s"__exhi_$c"), try_element_at(rhi, lit(1)))
                  .otherwise(col(s"max_$c")).alias(s"max_$c"),
                when(col(s"__exlo_$c"), rlo)
                  .otherwise(col(s"__rlo_$c")).alias(s"__rlo_$c"),
                when(col(s"__exhi_$c"), rhi)
                  .otherwise(col(s"__rhi_$c")).alias(s"__rhi_$c"),
                when(col(s"__exlo_$c") || col(s"__exhi_$c"),
                  coalesce(col(s"r_rn_$c"), lit(0L)))
                  .otherwise(col(s"__rn_$c")).alias(s"__rn_$c"))
            } ++
            ndCols.map(c =>
              // missing recompute row = every surviving value was NULL:
              // the authoritative sketch is the null (empty) one
              when(col(s"__exnd_$c"), col(s"r_hll_$c"))
                .otherwise(col(s"__hll_$c")).alias(s"__hll_$c")) ++
            // quantile state is already exact — pass through unpatched
            ddCols.flatMap(c => Seq(col(s"__ddp_$c"), col(s"__ddn_$c"),
              col(s"__ddz_$c"))): _*)
          .localCheckpoint()
      }

    val cleaned = merged.drop(minMaxCols.flatMap(c =>
      Seq(s"__exlo_$c", s"__exhi_$c")) ++
      ndCols.map(c => s"__exnd_$c"): _*)
    try publishMerged(spark, mvRoot, cleaned, groupCols, sync, tv,
      touchedHint)
    finally {
      merged0.unpersist(blocking = false)
      delta.unpersist(blocking = false)
    }
  }

  private def publishMerged(spark: SparkSession, mvRoot: String,
      merged: DataFrame, groupCols: Seq[String], sync: Sync,
      tv: Long, touchedHint: Option[LakeTable.TouchedHint]): Long = {
    val upserts = merged.filter(col("cnt") > 0)
    val gone = merged.filter(col("cnt") <= 0)
      .select(groupCols.map(col): _*)
    val mvVersion =
      try LakeTable.applyChangesHinted(spark, mvRoot, upserts, gone,
        Some(sync.mvVersion), None, touchedHint)
      finally merged.unpersist(blocking = false)
    // the histogram α rides the chain forward — marker metadata, not state
    writeSync(spark, mvRoot, Sync(tv, mvVersion, sync.ddAlphaMicros))
    mvVersion
  }

  /** The view as served: its lake table's newest SYNCED version, internal
    * reserve columns hidden. Sum columns serve as Σ over the group's
    * non-null values WITH 0 for none — the `COALESCE(SUM(x), 0)`
    * convention, made explicit here because the stored cell is NULL
    * after an all-NULL init but 0 once a delta has folded in (the merge
    * arithmetic runs through coalesce); serving the coalesced value
    * makes the two histories indistinguishable, which is the property
    * the maintenance algebra promises.
    */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    val (df, _) = servedBase(spark, mvRoot)
    dropInternals(df)
  }

  /** The view with approx-quantile estimates: one
    * `appx_p<permille>_<c>` DOUBLE per quantile column and requested
    * quantile (`p500` = median, `p999` = 0.999). The estimate is the
    * aggregator's nearest-rank walk over the maintained bucket histogram
    * — relative error ≤ α on the value — entirely in-plan: the ordered
    * (value, count) runs assemble from the bucket maps with
    * `transform`/`map_entries` and the rank walk is one `aggregate` HOF
    * per estimate over a group's ≤ few-hundred-entry histogram. NULL when
    * the group's quantile values were all NULL (an empty histogram has no
    * quantiles — the served twin of the aggregator's NaN).
    */
  def read(spark: SparkSession, mvRoot: String,
      quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
      s"quantiles in [0,1], got $quantiles")
    val (df, sync) = servedBase(spark, mvRoot)
    val ddCols = df.columns.filter(_.startsWith("__ddz_"))
      .map(_.stripPrefix("__ddz_")).toSeq
    require(ddCols.nonEmpty,
      s"view at $mvRoot has no approxQuantileCols state")
    require(sync.ddAlphaMicros > 0,
      s"view at $mvRoot lost dd_alpha_micros from its sync chain")
    val p = DdParams(sync.ddAlphaMicros / 1e6)
    val entT = "array<struct<v:double,c:bigint>>"
    val withQ = ddCols.foldLeft(df) { (d, c) =>
      // ascending value order, exactly the aggregator's finish(): negative
      // buckets by index DESC (value −2γ^i/(γ+1) ascends), zeros, positive
      // buckets by index ASC
      val negs = transform(
        reverse(array_sort(map_entries(coalesce(col(s"__ddn_$c"),
          emptyBuckets)))),
        e => struct((-p.bucketValueC(e.getField("key"))).alias("v"),
          e.getField("value").alias("c")))
      val zeros = when(coalesce(col(s"__ddz_$c"), lit(0L)) > 0,
        array(struct(lit(0.0).alias("v"),
          col(s"__ddz_$c").alias("c")))).otherwise(array().cast(entT))
      val pos = transform(
        array_sort(map_entries(coalesce(col(s"__ddp_$c"), emptyBuckets))),
        e => struct(p.bucketValueC(e.getField("key")).alias("v"),
          e.getField("value").alias("c")))
      val d1 = d
        .withColumn(s"__ord_$c", concat(negs, zeros, pos).cast(entT))
        .withColumn(s"__qn_$c",
          // fully qualified: this object's own `aggregate` (the grouped
          // view construction) shadows the imported HOF
          org.apache.spark.sql.functions.aggregate(col(s"__ord_$c"),
            lit(0L), (acc, e) => acc + e.getField("c")))
      quantiles.foldLeft(d1) { (dd, q) =>
        // 0-based nearest rank, the aggregator's formula verbatim
        val rank = greatest(lit(0L),
          ceil(lit(q) * col(s"__qn_$c")) - lit(1L))
        val est = org.apache.spark.sql.functions.aggregate(col(s"__ord_$c"),
          struct(lit(0L).alias("cum"), lit(null).cast("double").alias("v")),
          (acc, e) => {
            val cum2 = acc.getField("cum") + e.getField("c")
            when(acc.getField("v").isNotNull, acc)
              .when(cum2 > rank,
                struct(cum2.alias("cum"), e.getField("v").alias("v")))
              .otherwise(struct(cum2.alias("cum"),
                lit(null).cast("double").alias("v")))
          },
          acc => when(col(s"__qn_$c") > 0, acc.getField("v")))
        dd.withColumn(s"appx_p${(q * 1000).round}_$c", est)
      }
    }
    dropInternals(withQ)
  }

  /** The served frame BEFORE internal-column drop (sum coalesce + HLL
    * estimates applied), plus the sync record that pinned it. */
  private def servedBase(spark: SparkSession,
      mvRoot: String): (DataFrame, Sync) = {
    val sync = readSync(spark, mvRoot)
    val df0 = LakeTable.read(spark, mvRoot, Some(sync.mvVersion))
    val df = df0.columns.filter(_.startsWith("sum_"))
      .foldLeft(df0)((d, c) => d.withColumn(c,
        coalesce(col(c), lit(0).cast(SumType))))
    // approx-distinct estimates derive at read time (like avg); a NULL
    // sketch means every value in the group was NULL — 0 distinct
    val withEst = df.columns.filter(_.startsWith("__hll_"))
      .foldLeft(df)((d, h) => d.withColumn(
        "appx_nd_" + h.stripPrefix("__hll_"),
        coalesce(hll_sketch_estimate(col(h)), lit(0L))))
    // sample variance derives from the exact (Σx, Σx², n_nonnull) state:
    // (Σx² − (Σx)²/n)/(n−1) in DOUBLE off the exact decimals — clamped
    // at 0 because the per-row scale-6 squaring truncation can leave a
    // constant group a few µ below zero; NULL below two non-null values
    // (the SQL var_samp contract)
    val withVar = withEst.columns.filter(_.startsWith("__ss_"))
      .foldLeft(withEst) { (d, sscol) =>
        val c = sscol.stripPrefix("__ss_")
        val n = coalesce(col(s"__sn_$c"), lit(0L))
        val ss = coalesce(col(sscol), lit(0).cast(SumType)).cast("double")
        val sm = coalesce(col(s"sum_$c"), lit(0).cast(SumType))
          .cast("double")
        val variance = when(n >= 2L,
          greatest((ss - sm * sm / n) / (n - 1L), lit(0.0)))
        d.withColumn(s"var_$c", variance)
          .withColumn(s"stddev_$c", sqrt(variance))
      }
    // the extrema reserves ARE maintained bottom-k/top-k per group —
    // serve them (`lowk_<c>` asc / `topk_<c>` desc). The arrays are the
    // TRUE sorted prefix of the group's values at their current length:
    // full reserveDepth after init and after any exhaustion recompute;
    // possibly shorter between refreshes when in-reserve deletes
    // shrank a reserve the prefix-safe insert merge could not regrow
    // (the head — min/max — always serves; deeper ranks serve as far
    // as the prefix reaches). Callers needing a GUARANTEED depth
    // refresh with reserveDepth ≥ that depth and read after a refresh.
    val withTopk = withVar.columns.filter(_.startsWith("__rlo_"))
      .foldLeft(withVar) { (d, rl) =>
        val c = rl.stripPrefix("__rlo_")
        d.withColumn(s"lowk_$c", col(rl))
          .withColumn(s"topk_$c", col(s"__rhi_$c"))
      }
    (withTopk, sync)
  }

  private def dropInternals(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(n =>
      n.startsWith("__rlo_") || n.startsWith("__rhi_") ||
      n.startsWith("__rn_") || n.startsWith("__hll_") ||
      n.startsWith("__dd") || n.startsWith("__ord_") ||
      n.startsWith("__qn_") || n.startsWith("__ss_") ||
      n.startsWith("__sn_")).toSeq: _*)

  /** Bounded retention for the view AND its `_sync` markers (every
    * refresh accretes one marker — unswept, a long-lived view grows one
    * JSON per base delivery forever). Keeps the newest `keepLast`
    * markers, and vacuums the view's lake table to `keepLast` versions
    * WIDENED so the newest marker's pinned view version always survives
    * — [[read]] resolves through that marker, so sweeping it out from
    * under the sync state would break the view it is meant to maintain.
    * Returns (markers removed, data files removed).
    */
  def vacuum(spark: SparkSession, mvRoot: String,
      keepLast: Int): (Int, Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val sync = readSync(spark, mvRoot)
    val fs = hfs(spark, mvRoot)
    // the sync'd view version must stay readable: widen table retention
    // to cover every version from it forward (crash-orphans included)
    val vs = LakeTable.versions(fs, mvRoot)
    val coveringSync = vs.count(_ >= sync.mvVersion)
    val removedFiles =
      LakeTable.vacuum(spark, mvRoot, math.max(keepLast, coveringSync))
    val dir = new Path(mvRoot, "_sync")
    val drop = MetaFile.numbered(fs, dir).dropRight(keepLast)
    drop.foreach(v => fs.delete(new Path(dir, s"$v.json"), false))
    (drop.size, removedFiles)
  }
}
