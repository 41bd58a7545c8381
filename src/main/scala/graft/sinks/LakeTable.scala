package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{BooleanType, DataType, DateType,
  NumericType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import com.fasterxml.jackson.databind.JsonNode
import graft.sinks.MetaFile.jq

/** Keyed lake table with copy-on-write merge — the file-level construction
  * behind every gold table at 100 TB. [[Merge]] gives the ROW semantics
  * (the reference's `ON CONFLICT` pair re-expressed over DataFrames); this
  * gives the STORAGE semantics the reference delegates to Postgres: a
  * 100-row delta against a 100 TB table must not rewrite the table.
  *
  * Construction (the public Delta/Iceberg/Hudi design point, original
  * implementation):
  *
  *   - '''Hash-bucketed data files.''' Rows land in `numBuckets` buckets by
  *     murmur3 of the key columns. A merge computes the delta's touched
  *     bucket set (≤ numBuckets, a bounded driver collect), reads ONLY
  *     those buckets' files, and writes replacements for ONLY them —
  *     write cost is O(delta ∕ bucket-granularity), never O(table).
  *   - '''Manifest = the table.''' A version's JSON manifest under
  *     `_versions/` lists every live data file (with its bucket and the
  *     schema DDL). Data files are immutable and SHARED across versions;
  *     a merge's new manifest carries the untouched buckets' entries
  *     verbatim. Readers resolve a manifest to an explicit file list —
  *     never a directory scan — so concurrent writers cannot make a
  *     reader see a half-published state.
  *   - '''Atomic publish, invisible crashes.''' New data files are written
  *     to a fresh UUID subdirectory first; the ONLY commit point is the
  *     rename of the next manifest into `_versions/`. A crash before that
  *     leaves unreferenced files (invisible to every reader; reclaimed by
  *     [[vacuum]]) — never a torn table. Re-running a crashed merge
  *     converges: [[Merge.upsert]] is idempotent on the same delta.
  *   - '''Snapshot isolation + time travel.''' [[read]] pins a manifest;
  *     [[vacuum]] keeps the newest `keepLast` versions (the replay
  *     horizon) and deletes data files no kept manifest references.
  *
  * Concurrency: OPTIMISTIC — commit is an exclusive claim of the next
  * manifest version ([[publish]]: hard-link create on local filesystems,
  * no-overwrite rename elsewhere); a writer that loses the claim
  * re-reads the head, re-merges its delta against the winner's table,
  * and retries ([[withCommitRetries]]), so interleaved writers both land
  * instead of silently last-writer-winning. Writers on the same table
  * are still best SERIALIZED for throughput (each loser re-runs its
  * write), which the orchestration twins do — the claim protects
  * correctness when scheduling slips. Readers are unrestricted.
  */
object LakeTable {

  /** `sortCols`/`statsCols`/`maxRecordsPerFile` are the clustered-write
    * layout contract (empty/0 = off, the pre-existing behavior): rows are
    * sorted by `sortCols` within each bucket and rolled into files of at
    * most `maxRecordsPerFile` rows, and every write records per-FILE
    * min/max for `statsCols` in a `_stats/<version>.json` sidecar — the
    * zone maps [[scan]] prunes with. All three are
    * carried in the manifest so merges preserve the layout.
    */
  /** `dvFiles` are merge-on-read deletion vectors: key-only parquet files
    * whose rows are SUBTRACTED from the bucket's data at read time
    * ([[deleteMor]] writes them in O(keys) without touching data files;
    * any copy-on-write rewrite of a bucket folds its vectors in).
    */
  /** `bloomCols` opt into per-FILE bloom filters for equality probes on
    * non-key, non-clustered columns (the Delta/Iceberg bloom-index design
    * point): an equality or IN filter over [[scan]] tests each file's
    * bloom driver-side and opens only the files that MIGHT contain a
    * probe value.
    */
  /** `cdfRecord` opts the table into COMMIT-TIME change-feed recording
    * (the Delta `_change_data` design point): every copy-on-write commit
    * also writes its delivery-sized row diff under `_cdf/`, claimed by a
    * per-version `_cdf/<v>.json` marker, and [[changes]] serves a span
    * whose steps are all recorded from those files — O(delta read) for
    * the consumer even when the delivery hash-scattered across every
    * bucket (where the snapshot diff costs two full reads + a join of
    * the touched buckets). A table property (copy-carried); the marker
    * is per-step state (sidecar-disciplined, written after the manifest
    * claim — a missing marker only degrades that span to the diff).
    */
  /** `txn` ties the version to a cross-table transaction: it names the
    * transaction's OUTCOME file ([[LakeTxn]]). A txn-tagged version is
    * INVISIBLE to readers until that file exists with outcome `commit`
    * (one atomic create flips every member table's staged version live
    * together); outcome `abort` — or a crash that never wrote the file,
    * resolved by the next writer's force-abort — leaves it permanently
    * dead. Dead versions still OCCUPY their slot (writers claim past
    * them); [[vacuum]] reclaims their manifests and files.
    */
  /** THE METADATA PLANE IS SHARDED (the Iceberg manifest-list /
    * manifest-file split, original implementation): per-file metadata —
    * path, bucket, size, row count, zone-map min/max, bloom filter, NDV
    * sketch — lives in immutable per-DELIVERY '''segment files''' under
    * `_segments/`, written once when the delivery commits and shared by
    * every later version that still references any of its files. The
    * manifest carries only [[SegmentRef]]s: O(live segments) bytes, not
    * O(live files) — so a commit against a 10⁶-file table writes one
    * delta-sized segment plus a ref list, where the pre-r12 design
    * re-serialized the whole file list and whole-table `_stats`/`_bloom`/
    * `_ndv` JSONs on every commit and re-parsed them on every scan.
    *
    * A ref names which of its segment's files are still live: `buckets`
    * (copy-on-write replaces whole buckets, so bucket-drop is the common
    * shrink) plus `dead` (entry indexes retired at sub-bucket granularity
    * — [[optimizeZOrderIncremental]] rewrites only non-tight files and
    * [[detachClone]] only foreign ones). Segment files parse once per
    * JVM into [[segmentCache]] (immutable, so caching is sound); the
    * per-commit parse cost is O(new segments since the cache last saw
    * this table) = O(delta).
    */
  /** `exactSummary`: the zone summary was computed over EXACTLY this
    * ref's live entries (fresh chunks, and r13+ shrinks which recompute
    * from the kept entries) — [[fastMinMax]] may fold it directly. Refs
    * persisted by pre-r13 commits carried shrink summaries verbatim
    * (conservative supersets: fine for pruning, wrong for an exact
    * MIN/MAX), so the flag parses false when absent and such refs force
    * the entry-resolving path.
    */
  /** `zg`: the z-layout generation ALL of this ref's live entries are
    * stamped with (-1 = mixed, unstamped, or pre-r14) — the ref-local
    * tightness summary [[optimizeZOrderIncremental]] skips whole refs
    * with, never parsing a segment whose every file is already z-tight.
    * Recomputed on shrink exactly like the zone summary.
    */
  /** `sks`: one merged HLL sketch per declared ndvCol, the register-max
    * union of EXACTLY this ref's live entries' per-file sketches —
    * [[fastNdv]] folds these in O(refs) with zero segment parses. The
    * union is lossless at equal lgK (identical registers to a single
    * pass over the union of the files), so the two-level fold answers
    * exactly what the per-file union answered. Recomputed on every
    * shrink like the zone summary; Nil (absent) on pre-r15 refs or when
    * any covered entry is unmeasured — absence sends [[fastNdv]] down
    * the entry-resolving path. A present-but-None position means NO
    * live entry carries a sketch for that column (all-NULL or empty
    * files): measured, contributing zero distinct values.
    */
  final case class SegmentRef(path: String, buckets: Seq[Int],
      dead: Seq[Int], files: Int, rows: Long, bytes: Long,
      mins: Seq[Option[String]], maxs: Seq[Option[String]],
      exactSummary: Boolean = false, zg: Long = -1L,
      sks: Seq[Option[String]] = Nil)

  /** One file's complete metadata inside a segment: identity (path,
    * bucket, bytes) plus the payloads the manifest's column declarations
    * position — zone min/max per statsCol, base64 bloom per bloomCol,
    * base64 HLL sketch per ndvCol. `rows` is -1 when the table declares
    * no indexed columns (no measurement pass ran). `zg` is the z-layout
    * generation the file was WRITTEN under (-1 = not z-laid): files are
    * immutable, so tightness is a per-file property — stamped by the
    * optimize/maintenance commit that laid the file, carried verbatim by
    * every later ref shrink, and compared against the marker's `gen`
    * ([[ZMarker]]) so a stale stamp from a superseded layout never
    * counts as tight.
    */
  final case class SegEntry(path: String, bucket: Int, rows: Long,
      bytes: Long, mins: IndexedSeq[Option[String]],
      maxs: IndexedSeq[Option[String]], blooms: IndexedSeq[Option[String]],
      sks: IndexedSeq[Option[String]], zg: Long = -1L)

  /** A parsed segment file. The column lists are captured at write time:
    * a segment whose lists differ from the referencing manifest's cannot
    * serve payloads (positional under the wrong columns) — commits
    * re-measure such files into the fresh segment ([[alterIndexing]]),
    * so a published manifest only ever references matching segments.
    */
  final case class Segment(statsCols: Seq[String], bloomCols: Seq[String],
      ndvCols: Seq[String], entries: Vector[SegEntry])

  final case class Manifest(version: Long, keys: Seq[String], numBuckets: Int,
      schemaDdl: String, filesEager: Seq[(String, Int)] = null,
      sortCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, dvFiles: Seq[(String, Int)] = Nil,
      bloomCols: Seq[String] = Nil, ndvCols: Seq[String] = Nil,
      cdfRecord: Boolean = false, txn: Option[String] = None,
      segments: Seq[SegmentRef] = Nil) {
    /** Segment resolver, attached AFTER construction ([[manifestAt]],
      * [[commitDelta]]) — deliberately not a constructor field: case-class
      * equality/hashCode stay structural (a function field made them
      * reference-based), and `copy()` can never silently propagate a
      * loader bound to another session or root — a copy that needs
      * resolution gets a fresh loader from whoever published or parsed it.
      */
    @transient private[LakeTable] var segmentLoader: String => Segment = null
    /** The live file list. Legacy manifests carry it inline (`filesEager`);
      * parsed segment-plane manifests resolve it lazily from the refs
      * through the per-JVM cache, so metadata-only surfaces ([[history]],
      * the version walks) never pay the resolution.
      */
    lazy val files: Seq[(String, Int)] = {
      if (filesEager != null) filesEager
      else {
        require(segments.isEmpty || segmentLoader != null,
          "manifest has no segment resolver attached (a copy-derived " +
            "manifest resolves through the instance that parsed it)")
        segments.flatMap(r => liveEntries(r, segmentLoader(r.path))
          .map(e => (e.path, e.bucket)))
      }
    }
    /** Live-file count without resolving any segment file. */
    def fileCount: Int =
      if (filesEager != null) filesEager.size else segments.map(_.files).sum
  }

  /** The entries of `seg` still live under `ref`: bucket listed, index
    * not retired.
    */
  private def liveEntries(ref: SegmentRef, seg: Segment): Seq[SegEntry] = {
    val bset = ref.buckets.toSet
    if (ref.dead.isEmpty)
      seg.entries.filter(e => bset(e.bucket))
    else {
      val dset = ref.dead.toSet
      seg.entries.iterator.zipWithIndex.collect {
        case (e, i) if bset(e.bucket) && !dset(i) => e
      }.toSeq
    }
  }

  /** Per-file zone-map entry: row count + min/max of each stats column,
    * string-rendered (None = the column was all-NULL in the file).
    */
  final case class FileStats(rows: Long, mins: Seq[Option[String]],
      maxs: Seq[Option[String]])

  private def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(keys: Seq[String], n: Int) =
    pmod(hash(keys.map(col): _*), lit(n))

  /** [[bucketOf]] for callers outside this file that fold the bucket id of
    * a row into an aggregation they already run (the probe-batching
    * pattern: one action serves both the "which halves exist" decision
    * and the touched-bucket precompute — see [[TouchedHint]]).
    */
  private[graft] def bucketExprFor(keys: Seq[String], numBuckets: Int) =
    bucketOf(keys, numBuckets)

  /** Precomputed touched-bucket set for a commit whose delta the caller
    * has ALREADY aggregated in another action (a stream batch's kinds
    * probe, a view refresh's delta probe). [[rewriteTouched]]/[[lookup]]
    * accept it to skip their own probe job — but only when the hint was
    * derived under the SAME key layout and bucket count as the manifest
    * they resolve (a concurrent rebucket/alter between the hint's
    * computation and the commit attempt invalidates it); on mismatch they
    * fall back to probing, so a stale hint can cost a job, never rows.
    */
  private[graft] final case class TouchedHint(keys: Seq[String],
      numBuckets: Int, buckets: Set[Int]) {
    def matches(m: Manifest): Boolean =
      keys == m.keys && numBuckets == m.numBuckets
  }

  /** The distinct bucket ids `source`'s key tuples hash to under
    * (`keys`, `numBuckets`) — the collect [[rewriteTouched]] and
    * [[lookup]] run when no [[TouchedHint]] is supplied, exposed so
    * callers holding the layout can run it ONCE and share the result
    * across the commit's read and write sides. One probe job for a
    * distributed source; NO job for a driver-resident one (see
    * [[localRows]]): the optimizer folds the bucket hash into its
    * `LocalRelation`, so the collect just reads the folded rows.
    */
  private[graft] def touchedBuckets(source: DataFrame, keys: Seq[String],
      numBuckets: Int): Set[Int] = {
    val b = source.select(bucketOf(keys, numBuckets).alias("__b"))
    (if (localRows(b).isDefined) b else b.distinct())
      .collect().map(_.getInt(0)).toSet
  }

  /** `df`'s rows when its optimized plan is a `LocalRelation` — they are
    * already on the driver (a `Seq(...).toDF`, a client's point read, a
    * projection the optimizer folded into one), so reading them schedules
    * no job. None for every distributed plan.
    */
  private def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** NULL-safe key-membership join (semi/anti): both sides' key tuples
    * wrap in a STRUCT, whose equality treats NULL fields as equal (the
    * per-field `IS NOT DISTINCT FROM` a keyed table needs — a NULL group
    * key is a legal GROUP BY group and must be lookup-able/deletable),
    * while a bare `join(keys, ...)` resolves to `EqualTo` and silently
    * drops every NULL-keyed match. Still a single-column equi-join, so
    * broadcast/hash strategies apply unchanged.
    */
  private[sinks] def keyMembershipJoin(data: DataFrame, keySet: DataFrame,
      keys: Seq[String], how: String, bcast: Boolean): DataFrame = {
    val probe0 = keySet.select(struct(keys.map(col): _*).alias("__nsk"))
      .dropDuplicates("__nsk")
    val probe = if (bcast) broadcast(probe0) else probe0
    data.withColumn("__nsk", struct(keys.map(col): _*))
      .join(probe, Seq("__nsk"), how).drop("__nsk")
  }

  /** NULL-safe USING-style join on `keys` via the same struct wrapping —
    * the output carries ONE copy of each key column, re-derived from the
    * coalesced struct (so a full-outer merge sees the key whichever side
    * contributed it). Non-key column names must be disjoint across sides.
    */
  private[sinks] def nullSafeKeyJoin(l: DataFrame, r: DataFrame,
      keys: Seq[String], how: String): DataFrame = {
    val lk = l.withColumn("__nsk", struct(keys.map(col): _*))
      .drop(keys: _*)
    val rk = r.withColumn("__nsk", struct(keys.map(col): _*))
      .drop(keys: _*)
    val j = lk.join(rk, Seq("__nsk"), how)
    j.select(keys.map(k => col("__nsk").getField(k).alias(k)) ++
      j.columns.filterNot(_ == "__nsk").map(col): _*)
  }

  // ---- manifest codec: render* write each format's exact bytes (quoting
  // through MetaFile.jq); the parse* readers walk MetaFile's JSON tree ----

  private def jOptStr(v: Option[String]): String =
    v.map(jq).getOrElse("null")

  // ---- segment files (`_segments/<uuid>.json`) --------------------------

  private[graft] def renderSegment(statsCols: Seq[String], bloomCols: Seq[String],
      ndvCols: Seq[String], entries: Seq[SegEntry]): String =
    s"""{"stats_cols":[${statsCols.map(jq).mkString(",")}],""" +
      s""""bloom_cols":[${bloomCols.map(jq).mkString(",")}],""" +
      s""""ndv_cols":[${ndvCols.map(jq).mkString(",")}],"lgk":$NdvLgK,""" +
      s""""files":[${entries.map { e =>
        s"""{"path":${jq(e.path)},"bucket":${e.bucket},"rows":${e.rows},""" +
          s""""bytes":${e.bytes},""" +
          (if (e.zg >= 0) s""""zg":${e.zg},""" else "") +
          s""""min":[${e.mins.map(jOptStr).mkString(",")}],""" +
          s""""max":[${e.maxs.map(jOptStr).mkString(",")}],""" +
          s""""bloom":[${e.blooms.map(jOptStr).mkString(",")}],""" +
          s""""sk":[${e.sks.map(jOptStr).mkString(",")}]}"""
      }.mkString(",")}]}"""

  private[graft] def parseSegment(o: JsonNode): Segment =
    Segment(MetaFile.strSeq(o, "stats_cols"), MetaFile.strSeq(o, "bloom_cols"),
      MetaFile.strSeq(o, "ndv_cols"),
      MetaFile.arr(o, "files").map { fo =>
        SegEntry(MetaFile.str(fo, "path"), MetaFile.num(fo, "bucket").toInt,
          MetaFile.num(fo, "rows", -1L), MetaFile.num(fo, "bytes", -1L),
          MetaFile.optStrSeq(fo, "min"), MetaFile.optStrSeq(fo, "max"),
          MetaFile.optStrSeq(fo, "bloom"), MetaFile.optStrSeq(fo, "sk"),
          MetaFile.num(fo, "zg", -1L))
      }.toVector)

  /** Per-JVM cache of parsed segment files, keyed by qualified path.
    * Segments are IMMUTABLE (written once under a UUID name before their
    * first referencing manifest publishes), so a cached parse is valid
    * forever; the cost of planning against a table is O(segments the
    * cache hasn't seen) = O(delta) in the steady state. The cap only
    * bounds a long-lived driver touching unboundedly many tables —
    * eviction merely re-parses.
    */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Segment]()

  /** Per-segment entry cap: commits larger than this shard their fresh
    * metadata into several bucket-ordered segments (see [[commitDelta]]),
    * bounding what any later touched-bucket commit has to parse. 4096
    * entries ≈ 1.5-2 MB of segment JSON — the Iceberg manifest-file
    * target-size design point. The override is a TEST hook (exercising
    * multi-chunk shapes without writing thousands of files); production
    * never sets it.
    */
  private[graft] var maxSegmentEntriesOverride: Option[Int] = None
  private def MaxSegmentEntries: Int = maxSegmentEntriesOverride.getOrElse(4096)

  /** The floor on a table's live segment count under the entry cap —
    * [[compactMetadata]] can't consolidate below this, and maintenance
    * thresholds count EXCESS refs above it.
    */
  private[graft] def minSegments(m: Manifest): Int =
    math.max(1, (m.fileCount + MaxSegmentEntries - 1) / MaxSegmentEntries)

  /** Drop every cached segment parse — measurement hook for the scale
    * proof's cold-plan leg (MetaScale); not part of the public API.
    */
  private[graft] def clearSegmentCache(): Unit = segmentCache.clear()

  private def loadSegment(spark: SparkSession, root: String,
      refPath: String): Segment = {
    val p0 = new Path(root, refPath)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p0).toString
    val hit = segmentCache.get(key)
    if (hit != null) return hit
    val seg = parseSegment(MetaFile.read(fs, p0))
    if (segmentCache.size > 8192) segmentCache.clear()
    segmentCache.put(key, seg)
    seg
  }

  /** `ts` (publish wall-clock millis) is stamped at render time — it is
    * commit metadata, not table state, which is why it lives outside the
    * [[Manifest]] case class (a `copy`-derived next version must get a
    * FRESH timestamp, not carry the old one). [[versionAsOf]] reads it
    * back for timestamp time travel; legacy manifests without the field
    * parse as ts = 0 (eligible at any cutoff, as the oldest).
    */
  /** Sorted int list rendered run-length: a contiguous run [a..b] with
    * b > a becomes the two-element array `[a,b]`, singletons stay bare —
    * the common shapes (a fresh segment covering buckets 0..N-1; a
    * carried ref down to a few survivors) render in O(runs), so a
    * manifest stays O(live segments) bytes even at thousands of buckets.
    */
  private def renderRuns(xs: Seq[Int]): String = {
    val out = new StringBuilder("[")
    var i = 0
    while (i < xs.length) {
      var j = i
      while (j + 1 < xs.length && xs(j + 1) == xs(j) + 1) j += 1
      if (out.length > 1) out.append(',')
      if (j > i) out.append('[').append(xs(i)).append(',')
        .append(xs(j)).append(']')
      else out.append(xs(i))
      i = j + 1
    }
    out.append(']').toString
  }

  private def parseRuns(o: JsonNode, k: String): Seq[Int] =
    MetaFile.arr(o, k).flatMap {
      case n if n.isArray && n.size == 2 =>
        MetaFile.long(n.get(0), k).toInt to MetaFile.long(n.get(1), k).toInt
      case n => Seq(MetaFile.long(n, k).toInt)
    }

  private def renderRef(r: SegmentRef): String =
    s"""{"path":${jq(r.path)},"buckets":${renderRuns(r.buckets)},""" +
      s""""dead":${renderRuns(r.dead)},"files":${r.files},""" +
      s""""rows":${r.rows},"bytes":${r.bytes},""" +
      (if (r.exactSummary) """"xs":1,""" else "") +
      (if (r.zg >= 0) s""""zg":${r.zg},""" else "") +
      (if (r.sks.nonEmpty)
        s""""sk":[${r.sks.map(jOptStr).mkString(",")}],""" else "") +
      s""""min":[${r.mins.map(jOptStr).mkString(",")}],""" +
      s""""max":[${r.maxs.map(jOptStr).mkString(",")}]}"""

  private[graft] def render(m: Manifest): String =
    s"""{"ts":${System.currentTimeMillis},""" +
      s""""version":${m.version},"keys":[${m.keys.map(jq).mkString(",")}],""" +
      s""""num_buckets":${m.numBuckets},"schema_ddl":${jq(m.schemaDdl)},""" +
      s""""sort_cols":[${m.sortCols.map(jq).mkString(",")}],""" +
      s""""stats_cols":[${m.statsCols.map(jq).mkString(",")}],""" +
      s""""bloom_cols":[${m.bloomCols.map(jq).mkString(",")}],""" +
      s""""ndv_cols":[${m.ndvCols.map(jq).mkString(",")}],""" +
      s""""max_records":${m.maxRecordsPerFile},""" +
      s""""cdf_record":${if (m.cdfRecord) 1 else 0},""" +
      m.txn.map(p => s""""txn":${jq(p)},""").getOrElse("") +
      s""""dv_files":[${m.dvFiles.map { case (p, b) =>
        s"""{"path":${jq(p)},"bucket":$b}""" }.mkString(",")}],""" +
      // a LEGACY manifest (pre-r12 inline file list, no segment refs)
      // re-published verbatim by a metadata-only commit (deleteMor /
      // CDF toggle / restore-to-legacy-version) must keep its inline
      // list — rendering segments alone would publish an EMPTY table
      // and every later merge would build on the empty base
      (if (m.segments.isEmpty && m.filesEager != null && m.filesEager.nonEmpty)
        s""""files":[${m.filesEager.map { case (p, b) =>
          s"""{"path":${jq(p)},"bucket":$b}""" }.mkString(",")}],"""
      else "") +
      s""""segments":[${m.segments.map(renderRef).mkString(",")}]}"""

  /** Parse [[render]]'s own output. Pre-r12 manifests carried an inline
    * `files` array instead of `segments` — those parse to an eager file
    * list with no refs (every read path handles both forms).
    */
  private[graft] def parse(o: JsonNode): Manifest = {
    def files(k: String): Seq[(String, Int)] =
      MetaFile.arr(o, k).map { fo =>
        (MetaFile.str(fo, "path"), MetaFile.num(fo, "bucket").toInt)
      }
    val refs = MetaFile.arr(o, "segments").map { ro =>
      SegmentRef(MetaFile.str(ro, "path"),
        parseRuns(ro, "buckets"), parseRuns(ro, "dead"),
        MetaFile.num(ro, "files").toInt, MetaFile.num(ro, "rows", -1L),
        MetaFile.num(ro, "bytes", -1L),
        MetaFile.optStrSeq(ro, "min"), MetaFile.optStrSeq(ro, "max"),
        MetaFile.num(ro, "xs") == 1L, MetaFile.num(ro, "zg", -1L),
        MetaFile.optStrSeq(ro, "sk"))
    }
    Manifest(MetaFile.num(o, "version"), MetaFile.strSeq(o, "keys"),
      MetaFile.num(o, "num_buckets").toInt, MetaFile.str(o, "schema_ddl"),
      if (o.has("files")) files("files") else null,
      MetaFile.strSeq(o, "sort_cols"), MetaFile.strSeq(o, "stats_cols"),
      MetaFile.num(o, "max_records"), files("dv_files"),
      MetaFile.strSeq(o, "bloom_cols"), MetaFile.strSeq(o, "ndv_cols"),
      MetaFile.num(o, "cdf_record") == 1L, MetaFile.optStr(o, "txn"), refs)
  }

  /** The newest slot in `vs` that is LIVE — or the writer's own staged
    * transaction version (`selfTxn`), so a multi-step transaction chains
    * its own table history before it is visible to anyone else.
    */
  private def liveHeadIn(spark: SparkSession, root: String, vs: Seq[Long],
      selfTxn: Option[String]): Manifest = {
    val it = vs.sorted.reverseIterator
    while (it.hasNext) {
      val m = manifestAt(spark, root, it.next())
      if (liveOf(spark, m) || (m.txn.isDefined && m.txn == selfTxn))
        return m
    }
    sys.error(s"no committed version at $root — every manifest belongs " +
      "to an uncommitted or aborted transaction")
  }

  /** ONE `_versions` listing resolving BOTH the write base (newest LIVE
    * slot; a transaction writer also sees its own staged versions) and
    * the slot to claim (max LISTED slot + 1 — live or not: an aborted
    * transaction's slot stays occupied forever, so content lineage is
    * the live chain while slot numbering is the claim sequence). The
    * single listing is load-bearing for the claim discipline: a commit
    * landing after it claims the SAME slot and collides at [[publish]];
    * a second listing for the slot would instead skip past it and
    * silently drop its delta.
    */
  private def writeHead(spark: SparkSession, root: String,
      selfTxn: Option[String] = None): (Manifest, Long) = {
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no LakeTable at $root")
    (liveHeadIn(spark, root, vs, selfTxn), vs.max + 1)
  }

  private[graft] def versions(fs: FileSystem, root: String): Seq[Long] =
    MetaFile.numbered(fs, new Path(root, "_versions"))

  /** The manifest file at slot `v`, opened and parsed once, with its
    * publish stamp `ts` (0 for legacy manifests without one) — the one
    * manifest read; no segment resolver attached.
    */
  private def manifestFile(fs: FileSystem, root: String,
      v: Long): (Manifest, Long) = {
    val o = MetaFile.read(fs, new Path(root, s"_versions/$v.json"))
    (parse(o), MetaFile.num(o, "ts"))
  }

  /** Raw manifest at slot `v` — NO transaction-liveness check. For the
    * maintenance surfaces that must see dead slots ([[vacuum]], [[fsck]])
    * and for liveness resolution itself; every read path goes through
    * [[manifest]].
    */
  private[graft] def manifestAt(spark: SparkSession, root: String,
      v: Long): Manifest = {
    val (m, _) = manifestFile(hfs(spark, root), root, v)
    // attach the segment resolver: `files` stays lazy, so metadata-only
    // walks (history, liveness, the claim guard) never load a segment
    m.segmentLoader = p => loadSegment(spark, root, p)
    m
  }

  /** The transaction outcome the file at `outcomePath` records: None =
    * no file yet (in-flight), Some(true) = commit, Some(false) = abort.
    * Outcomes are claimed EXCLUSIVELY ([[claimOutcome]]) so a decided
    * outcome is FINAL — liveness can flip in-flight→decided, never back.
    */
  private[graft] def txnOutcome(conf: org.apache.hadoop.conf.Configuration,
      outcomePath: String): Option[Boolean] = {
    val p = new Path(outcomePath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else Some(MetaFile.optStr(MetaFile.read(fs, p), "outcome").contains("commit"))
  }

  /** Is this manifest visible to readers? Non-txn versions always are;
    * a txn version only once its outcome file records `commit`.
    */
  private[graft] def liveOf(spark: SparkSession, m: Manifest): Boolean =
    m.txn.forall(p => txnOutcome(spark.sparkContext.hadoopConfiguration, p)
      .contains(true))

  private[graft] def manifest(spark: SparkSession, root: String,
      version: Option[Long] = None): Manifest = {
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no LakeTable at $root")
    version match {
      case Some(v) =>
        require(vs.contains(v), s"version $v not in $vs at $root")
        val m = manifestAt(spark, root, v)
        require(liveOf(spark, m),
          s"version $v of $root belongs to an uncommitted or aborted " +
            s"transaction (outcome ${m.txn.getOrElse("?")})")
        m
      case None =>
        // head = the newest LIVE slot. In-flight/aborted txn slots can
        // only sit at the very top (a writer never claims above an
        // undecided slot — see publish's below-slot guard), so this walk
        // is 1 read in the steady state and short always.
        val it = vs.sorted.reverseIterator
        var found: Manifest = null
        while (found == null && it.hasNext) {
          val m = manifestAt(spark, root, it.next())
          if (liveOf(spark, m)) found = m
        }
        require(found != null,
          s"no committed version at $root — every manifest belongs to an " +
            "uncommitted or aborted transaction")
        found
    }
  }

  /** A concurrent writer claimed this manifest version first. Write paths
    * catch it, re-read the head, re-merge, and retry at the next version
    * ([[withCommitRetries]]) — optimistic concurrency, the Delta/Iceberg
    * commit discipline.
    */
  private[graft] final class CommitRaceException(msg: String)
    extends java.io.IOException(msg)

  /** Decide the outcome of the transaction whose outcome file is
    * `outcomePath` — EXCLUSIVE first-writer-wins create, so the outcome
    * is decided exactly once and is final. Returns the decided outcome
    * (which may differ from the request when another decider won the
    * race: a late commit against a force-abort, or vice versa).
    */
  private[graft] def claimOutcome(spark: SparkSession, outcomePath: String,
      commit: Boolean): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(outcomePath)
    MetaFile.claim(p.getFileSystem(conf), p,
      s"""{"outcome":"${if (commit) "commit" else "abort"}",""" +
        s""""ts":${System.currentTimeMillis}}""")
    txnOutcome(conf, outcomePath).getOrElse(
      sys.error(s"transaction outcome at $outcomePath unreadable after claim"))
  }

  private def publish(fs: FileSystem, root: String, m: Manifest): Unit =
    publish(fs, root, m, waitTxn = true)

  /** Publish `m` as the next version — the one ATOMIC, EXCLUSIVE commit
    * point of every write path: the manifest is staged as a dot-file
    * (invisible to [[versions]]) and claimed as `<v>.json` through
    * [[MetaFile.claim]] (hard link on local filesystems, allowlisted
    * no-overwrite rename elsewhere). The loser gets
    * [[CommitRaceException]]; its staged file is cleaned, its data files
    * become crash-orphans that [[vacuum]] sweeps.
    *
    * `waitTxn` gates the BELOW-SLOT transaction guard: a writer must
    * never claim a slot above an UNDECIDED transaction slot — if the
    * transaction later committed, this writer's base would silently
    * lack its delta (a lost update). The guard waits up to
    * `graft.lake.txnWaitMs` (Hadoop conf, default 10 s) for the outcome
    * and then FORCE-ABORTS the stalled transaction by claiming its
    * outcome; if the outcome turns out `commit`, the head just moved and
    * the writer must rebase — surfaced as the ordinary
    * [[CommitRaceException]] retry. Transaction members themselves
    * publish with `waitTxn = false` scoped to their OWN outcome path
    * ([[LakeTxn]] serializes its member publishes).
    */
  private def publish(fs: FileSystem, root: String, m: Manifest,
      waitTxn: Boolean, selfTxn: Option[String] = None): Unit = {
    val dir = new Path(root, "_versions")
    if (waitTxn && m.version > 0 &&
        fs.exists(new Path(dir, s"${m.version - 1}.json"))) {
      val (bm, _) = manifestFile(fs, root, m.version - 1)
      bm.txn.filterNot(selfTxn.contains) match {
        case Some(outcomePath)
            if txnOutcome(fs.getConf, outcomePath).isEmpty =>
          val waitMs = fs.getConf.getLong("graft.lake.txnWaitMs", 10000L)
          val deadline = System.currentTimeMillis + waitMs
          while (txnOutcome(fs.getConf, outcomePath).isEmpty &&
              System.currentTimeMillis < deadline)
            Thread.sleep(50)
          val committed = txnOutcome(fs.getConf, outcomePath).getOrElse {
            // still undecided past the deadline: force-abort (exclusive —
            // a racing late commit may still win, in which case rebase)
            val p = new Path(outcomePath)
            MetaFile.claim(p.getFileSystem(fs.getConf), p,
              """{"outcome":"abort","forced":1}""")
            txnOutcome(fs.getConf, outcomePath).getOrElse(true)
          }
          if (committed)
            throw new CommitRaceException(
              s"version ${m.version - 1} of $root committed via its " +
                "transaction while this writer was staging — rebase")
        case _ => () // non-txn, decided, or our own transaction
      }
    }
    if (!MetaFile.claim(fs, new Path(dir, s"${m.version}.json"), render(m)))
      throw new CommitRaceException(
        s"manifest version ${m.version} was claimed by a concurrent " +
          s"writer at $root — re-read the head and retry")
  }

  /** Run `body` (read head → compute → [[publish]]) until its commit
    * wins, re-reading the head each attempt — the loser of a manifest
    * race re-merges against the winner's table so BOTH deltas land.
    * Bounded: livelock under pathological contention surfaces as the
    * last race error rather than spinning forever.
    */
  private def withCommitRetries[T](attempts: Int = 5)(body: () => T): T = {
    var last: CommitRaceException = null
    var i = 0
    while (i < attempts) {
      try return body()
      catch { case e: CommitRaceException => last = e; i += 1 }
    }
    throw last
  }

  /** Measure the complete per-file metadata of `files` in ONE aggregation
    * pass over only those files — row count, zone min/max per statsCol,
    * bloom per bloomCol, HLL sketch per ndvCol, grouped on the physical
    * file (the pre-r12 design paid three separate passes). A file's size
    * is its writer's listing ([[writeFiles]]), else (bytes -1) one
    * listing per parent ([[listedPart]]). Tables declaring no indexed
    * columns skip the scan entirely (rows = -1). A zero-row file produces
    * no aggregation group and synthesizes an empty entry — its IDENTITY
    * must survive into the segment (entries ARE the file list).
    */
  private def measureEntries(spark: SparkSession, root: String, m: Manifest,
      files: Seq[SegEntry]): Seq[SegEntry] = {
    if (files.isEmpty) return Nil
    val lens = listedPart(spark, root, files.collect {
      case e if e.bytes < 0 => (e.path, e.bucket) }).entries
      .map(e => e.path -> e).toMap
    val sized = files.map(e => lens.getOrElse(e.path, e))
    val nS = m.statsCols.size; val nB = m.bloomCols.size
    val nN = m.ndvCols.size
    if (nS + nB + nN == 0) return sized
    val noneS = IndexedSeq.fill(nS)(Option.empty[String])
    val noneB = IndexedSeq.fill(nB)(Option.empty[String])
    val noneN = IndexedSeq.fill(nN)(Option.empty[String])
    val keyOf = manifestKeyOf(files.map(_.path))
    val (items, bits) = bloomShape(m)
    val statAggs = m.statsCols.flatMap(c => Seq(
      min(col(c)).cast("string"), max(col(c)).cast("string")))
    val bloomAggs = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      m.bloomCols.map { c =>
        val agg = new BloomFilterAggregate(
          GraftSqlBridge.expression(xxhash64(col(c))),
          Literal(items), Literal(bits))
        GraftSqlBridge.column(agg.toAggregateExpression())
      }
    }
    val ndvAggs = m.ndvCols.map(c =>
      hll_sketch_agg(col(c).cast("string"), NdvLgK))
    val aggs = (count(lit(1)) +: (statAggs ++ bloomAggs ++ ndvAggs))
      .zipWithIndex.map { case (c, i) => c.alias(s"__a$i") }
    val b64enc = java.util.Base64.getEncoder
    val measured: Map[String, SegEntry] =
      graft.JobLabel(spark, s"lake:measure ${new Path(root).getName}") {
        fileRelation(spark, root, m, StructType.fromDDL(m.schemaDdl),
          Seq(new IndexPart(Nil, Nil, sized.size, -1L, () => sized)),
          snapshot = false)
          .groupBy(input_file_name().alias("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
      }
        .map { r =>
          val p = keyOf(r.getString(0))
          val mins = (0 until nS).map(i => Option(r.getString(2 + 2 * i)))
          val maxs = (0 until nS).map(i => Option(r.getString(3 + 2 * i)))
          val blooms = (0 until nB).map(i =>
            Option(r.getAs[Array[Byte]](2 + 2 * nS + i))
              .map(b64enc.encodeToString))
          val sks = (0 until nN).map(i =>
            Option(r.getAs[Array[Byte]](2 + 2 * nS + nB + i))
              .map(b64enc.encodeToString))
          p -> SegEntry(p, -1, r.getLong(1), -1L, mins, maxs, blooms, sks)
        }.toMap
    sized.map { l =>
      measured.get(l.path) match {
        case Some(e) => e.copy(bucket = l.bucket, bytes = l.bytes)
        case None => l.copy(rows = 0L, mins = noneS, maxs = noneS,
          blooms = noneB, sks = noneN)
      }
    }
  }

  /** Segment-level zone summary over `entries` for statsCol `i` — the
    * manifest-resident range a scan dismisses whole segments with, no
    * segment file parsed. None = no dismissal possible on this column
    * (unmeasured entries, or no non-null value); a None NEVER prunes.
    * All-null files contribute no value, which is exact for range
    * predicates (NULL satisfies none).
    */
  private[graft] def refSummary(entries: Seq[SegEntry], dt: DataType, i: Int,
      want: Int): Option[String] = {
    if (entries.exists(_.rows < 0)) return None
    val side = if (want < 0) entries.flatMap(_.mins.lift(i).flatten)
      else entries.flatMap(_.maxs.lift(i).flatten)
    if (side.isEmpty) None
    else {
      // two distinct strings comparing 0 (beyond-double-precision
      // decimals) make the extremum unorderable — decline rather than
      // pick arbitrarily: a None summary never prunes and forces
      // [[fastMinMax]] back to its entry path's own decline discipline.
      // Two passes so only ties against the FINAL extremum decline: a
      // 0-compare against some interior running best (min over
      // ["2","2.0","1"]) is irrelevant once a strictly better value wins
      var best = side.head
      side.tail.foreach { v =>
        if (Integer.signum(statCmp(dt, v, best)) == want) best = v
      }
      val ambiguous = side.exists(v => v != best && statCmp(dt, v, best) == 0)
      if (ambiguous) None else Some(best)
    }
  }

  /** Ref-level z-generation summary: the generation iff EVERY entry is
    * stamped with it (a single unstamped file makes the ref -1 = not
    * wholly tight — the incremental optimize must look inside).
    */
  private def refZg(entries: Seq[SegEntry]): Long = {
    val g = entries.head.zg
    if (g >= 0 && entries.forall(_.zg == g)) g else -1L
  }

  /** Ref-level merged NDV sketches over exactly `entries` (one per
    * ndvCol): driver-side register-max union of the per-file HLL
    * sketches. Union at equal lgK is lossless — the merged sketch's
    * registers are IDENTICAL to a single pass over the union of the
    * files — so [[fastNdv]]'s fold of per-ref sketches estimates
    * exactly what the per-file union estimated. Runs where the zone
    * summary recomputes (fresh chunks and shrinks, ≤ [[MaxSegmentEntries]]
    * entries in hand), so the cost is O(delta files) per commit, never
    * O(table). Nil when the table declares no ndvCols or any covered
    * entry is unmeasured (rows < 0) — consumers treat Nil as "no ref
    * sketch" and fall back to entry resolution. Stored compact (HLL_4,
    * ~2 KB per (ref, col) base64): ndv sketching is opt-in per column,
    * so only ANALYZE-asking tables pay the manifest bytes.
    */
  private def refSketches(entries: Seq[SegEntry],
      nN: Int): Seq[Option[String]] = {
    if (nN == 0 || entries.exists(_.rows < 0)) return Nil
    val enc = java.util.Base64.getEncoder
    (0 until nN).map { i =>
      val per = entries.flatMap(_.sks.lift(i).flatten)
      if (per.isEmpty) None
      else Some(enc.encodeToString(unionNdvSketches(per).getResult(
        org.apache.datasketches.hll.TgtHllType.HLL_4).toCompactByteArray))
    }
  }

  /** Driver-side register-max union of base64 HLL sketches — the ONE
    * definition of the fold both the shrink-time per-ref merge
    * ([[refSketches]]) and the ask-time O(refs) fold ([[fastNdv]]) run,
    * so lgK and heapify semantics can never silently diverge between
    * the writer and the reader of the sketch plane.
    */
  private def unionNdvSketches(
      per: Seq[String]): org.apache.datasketches.hll.Union = {
    val u = new org.apache.datasketches.hll.Union(NdvLgK)
    per.foreach(s => u.update(org.apache.datasketches.hll.HllSketch
      .heapify(org.apache.datasketches.memory.Memory.wrap(b64(s)))))
    u
  }

  /** Metadata-only commit (MoR delete vectors, CDF toggle, restore): the
    * data-file list and the indexed-column declarations are untouched, so
    * every ref republishes VERBATIM — no segment is loaded, no file
    * resolved, the commit is one manifest write whatever the table size.
    * A LEGACY base's inline file list republishes inline ([[render]]).
    */
  private def commitMetadataOnly(spark: SparkSession, root: String,
      next: Manifest, waitTxn: Boolean = true,
      selfTxn: Option[String] = None): Manifest = {
    publish(hfs(spark, root), root, next, waitTxn, selfTxn)
    next
  }

  /** THE commit of every write path, in DELTA form: the writer names what
    * changed — `replaced` (buckets wholly rewritten: their old files
    * die), `fresh` (the new files), `dead` (sub-bucket per-path
    * retirements, e.g. [[optimizeZOrderIncremental]]'s re-laid files) —
    * and this commit touches ONLY the carried refs (`next.segments`, the
    * base version's via `copy`) whose bucket set intersects the delta:
    * those shrink exactly (bucket drops, per-file `dead` indexes); every
    * other ref republishes VERBATIM with no segment load and no entry
    * resolution. The fresh files' payloads are measured in a single pass
    * (or taken from `known` — [[cloneShallow]] copies the source's) into
    * ONE immutable segment file.
    *
    * Per-commit cost — bytes AND driver CPU/heap: O(delta files) in the
    * segment, O(live segments) in the manifest, O(refs covering the
    * touched buckets) in resolution — never O(live files). (The pre-r13
    * form materialized the full live-file list per commit: flat BYTES but
    * O(live files) driver work — tens of millions of tuples at 10⁷
    * files. MetaScale measures the delta form flat across decades.)
    *
    * A commit-race loser's segment file is unreferenced debris [[vacuum]]
    * sweeps. A carried TOUCHED segment whose payload column lists differ
    * from `next`'s cannot serve its entries (positional under the wrong
    * columns): its surviving files re-measure into the fresh segment —
    * defensive only, since [[alterIndexing]] republishes every file under
    * a cols change, so published heads only reference matching segments.
    * A LEGACY base (pre-r12 inline list, no refs) upgrades here: its
    * untouched files measure into the fresh segment — the one-time
    * O(table) migration scan, paid on the first copy-on-write commit.
    */
  /** (refs loaded and shrunk, refs republished verbatim) of the last
    * [[commitDelta]] this JVM ran — spec pin for the O(delta) commit
    * contract (only bucket-intersecting refs ever resolve); not part of
    * the public API.
    */
  private[graft] var lastCommitRefs: Option[(Int, Int)] = None

  /** `zGen` stamps the FRESH files' entries with a z-layout generation
    * ([[SegEntry.zg]]) — only the optimize/maintenance passes that
    * actually write in z order pass it; deliveries leave it -1.
    * `untouchedRefs` is a caller ATTESTATION that the named refs contain
    * no replaced-bucket entry and no `dead` path, so they republish
    * verbatim even when their bucket set intersects the delta — the
    * per-path retirement passes ([[optimizeZOrderIncremental]]) know
    * exactly which refs their dead list came from, and without the
    * attestation a hash-scattered delivery's buckets would force every
    * wholly-tight ref through a no-op shrink scan.
    */
  private def commitDelta(spark: SparkSession, root: String,
      next: Manifest, replaced: Set[Int], fresh: Seq[SegEntry],
      dead: Seq[(String, Int)] = Nil, waitTxn: Boolean = true,
      selfTxn: Option[String] = None,
      known: Map[String, SegEntry] = Map.empty,
      zGen: Long = -1L,
      untouchedRefs: Set[String] = Set.empty,
      zgKnown: Map[String, Long] = Map.empty): Manifest = {
    val fs = hfs(spark, root)
    val deadPaths = dead.map(_._1).toSet
    val touchedB: Set[Int] = replaced ++ dead.map(_._2)
    val demoted = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    lazy val schemaT = StructType.fromDDL(next.schemaDdl)
    var refsLoaded = 0; var refsVerbatim = 0
    val survivors = next.segments.flatMap { ref =>
      if (untouchedRefs(ref.path) || !ref.buckets.exists(touchedB)) {
        refsVerbatim += 1; Some(ref)
      } else {
        refsLoaded += 1
        val seg = loadSegment(spark, root, ref.path)
        val bset = ref.buckets.toSet
        val dset = ref.dead.toSet
        val kept = seg.entries.zipWithIndex.filter { case (e, i) =>
          bset(e.bucket) && !dset(i) && !replaced(e.bucket) &&
            !deadPaths(e.path) }
        val colsMatch = seg.statsCols == next.statsCols &&
          seg.bloomCols == next.bloomCols && seg.ndvCols == next.ndvCols
        if (!colsMatch) {
          demoted ++= kept.map { case (e, _) => (e.path, e.bucket) }
          None
        } else if (kept.isEmpty) None
        else {
          val keptB = kept.map(_._1.bucket).toSet
          val keptIdx = kept.map(_._2).toSet
          val deadIdx = seg.entries.zipWithIndex.collect {
            case (e, i) if keptB(e.bucket) && !keptIdx(i) => i }
          // the summary RECOMPUTES over exactly the kept entries (they
          // are already in hand): tighter pruning than carrying the
          // pre-shrink range, and exact — so fastMinMax can fold refs
          val keptE = kept.map(_._1)
          Some(SegmentRef(ref.path, keptB.toSeq.sorted, deadIdx, kept.size,
            if (kept.exists(_._1.rows < 0)) -1L else kept.map(_._1.rows).sum,
            if (kept.exists(_._1.bytes < 0)) -1L
            else kept.map(_._1.bytes).sum,
            next.statsCols.indices.map(i =>
              refSummary(keptE, schemaT(next.statsCols(i)).dataType, i, -1)),
            next.statsCols.indices.map(i =>
              refSummary(keptE, schemaT(next.statsCols(i)).dataType, i, 1)),
            exactSummary = true, zg = refZg(keptE),
            sks = refSketches(keptE, next.ndvCols.size)))
        }
      }
    }
    lastCommitRefs = Some((refsLoaded, refsVerbatim))
    // legacy base: untouched inline files join the fresh segment
    val legacyCarry =
      if (next.segments.isEmpty && next.filesEager != null)
        next.filesEager.filterNot(f => replaced(f._2) || deadPaths(f._1))
      else Nil
    val freshAll = fresh ++ (demoted ++ legacyCarry).map(bareEntry(_))
    val (knownFresh, toMeasure) =
      freshAll.partition(f => known.contains(f.path))
    val entries0 =
      knownFresh.map(f => known(f.path).copy(path = f.path, bucket = f.bucket)) ++
        measureEntries(spark, root, next, toMeasure)
    // only the caller's own FRESH files stamp: demoted/legacy carries
    // were not written by this pass's z sort — they stay -1 and the next
    // incremental re-lays them once (conservative, converges). `zgKnown`
    // carries existing files' stamps through a re-MEASURE that keeps the
    // files themselves (alterIndexing): tightness is a property of the
    // immutable file, not of the measurement pass
    val entries = {
      val stamped =
        if (zGen < 0) entries0
        else {
          val freshSet = fresh.map(_.path).toSet
          entries0.map(e => if (freshSet(e.path)) e.copy(zg = zGen) else e)
        }
      if (zgKnown.isEmpty) stamped
      else stamped.map(e =>
        if (e.zg < 0) zgKnown.get(e.path).fold(e)(g => e.copy(zg = g))
        else e)
    }
    // chunked by bucket order under MaxSegmentEntries: a full rewrite of
    // a 10⁶-file table lands as ~250 bounded segments instead of one
    // giant one, so a later single-bucket delivery's shrink parses ONE
    // ~constant-sized covering shard — without the cap, the first
    // delivery after init/compactMetadata paid an O(table) segment
    // parse (MetaScale's driver_alloc column is the receipt). Delta
    // deliveries (≤ cap) still write exactly one segment.
    val newRefs =
      if (entries.isEmpty) Nil
      else {
        val schema = StructType.fromDDL(next.schemaDdl)
        entries.sortBy(_.bucket).grouped(MaxSegmentEntries).map { chunk =>
          val segPath = s"_segments/${java.util.UUID.randomUUID}.json"
          // segment BEFORE manifest: a published manifest always
          // resolves; a crash (or race loss) here leaves an orphan
          // segment, never a torn table
          MetaFile.write(fs, new Path(root, segPath),
            renderSegment(next.statsCols, next.bloomCols, next.ndvCols,
              chunk))
          SegmentRef(segPath, chunk.map(_.bucket).distinct.sorted, Nil,
            chunk.size,
            if (chunk.exists(_.rows < 0)) -1L else chunk.map(_.rows).sum,
            if (chunk.exists(_.bytes < 0)) -1L
            else chunk.map(_.bytes).sum,
            next.statsCols.indices.map(i =>
              refSummary(chunk, schema(next.statsCols(i)).dataType, i, -1)),
            next.statsCols.indices.map(i =>
              refSummary(chunk, schema(next.statsCols(i)).dataType, i, 1)),
            exactSummary = true, zg = refZg(chunk),
            sks = refSketches(chunk, next.ndvCols.size))
        }.toSeq
      }
    val toPublish = next.copy(filesEager = null,
      segments = survivors ++ newRefs)
    publish(fs, root, toPublish, waitTxn, selfTxn)
    toPublish.segmentLoader = p => loadSegment(spark, root, p)
    toPublish
  }

  /** Write `rows` bucketed under a fresh UUID data dir; returns its files
    * as payload-less entries (root-relative path, bucket, on-disk bytes)
    * from the one listing that finds them. Files only become live when a
    * manifest referencing them is published.
    */
  private def writeFiles(spark: SparkSession, root: String, rows: DataFrame,
      keys: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      sortExprs: Seq[Column] = Nil): Seq[SegEntry] = {
    val fs = hfs(spark, root)
    val sub = s"data/${java.util.UUID.randomUUID}"
    val bucketed = rows.withColumn("__bucket", bucketOf(keys, numBuckets))
      .repartition(col("__bucket"))
    // prefix the bucket so the writer's partition-grouping requirement is
    // satisfied by OUR sort (no second sort), and maxRecordsPerFile then
    // rolls files in sortCols order — each rolled file covers a narrow
    // sortCols range, which is what makes the zone maps selective.
    // sortExprs (a computed layout key, e.g. [[optimizeZOrder]]'s Morton
    // value) overrides sortCols and is never materialized into the files.
    val laid =
      if (sortExprs.nonEmpty)
        bucketed.sortWithinPartitions(col("__bucket") +: sortExprs: _*)
      else if (sortCols.isEmpty) bucketed
      else bucketed.sortWithinPartitions((col("__bucket") +: sortCols.map(col)): _*)
    val writer0 = laid.write.partitionBy("__bucket").mode("overwrite")
    val writer = if (maxRecordsPerFile > 0)
      writer0.option("maxRecordsPerFile", maxRecordsPerFile) else writer0
    graft.JobLabel(spark, s"lake:write ${new Path(root).getName}") {
      writer.parquet(new Path(root, sub).toString)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[SegEntry]
    for (d <- fs.listStatus(new Path(root, sub))
         if d.getPath.getName.startsWith("__bucket=")) {
      val b = d.getPath.getName.stripPrefix("__bucket=").toInt
      for (f <- fs.listStatus(d.getPath)
           if f.getPath.getName.endsWith(".parquet"))
        out += bareEntry((s"$sub/${d.getPath.getName}/${f.getPath.getName}", b),
          f.getLen)
    }
    out.toSeq
  }

  /** `df` minus the rows whose key appears in the given deletion vectors
    * (key-only files) — the merge-on-read subtraction every read path
    * applies (NULL-safe: a NULL-keyed row is deletable like any other).
    */
  private def applyDv(spark: SparkSession, root: String, m: Manifest,
      df: DataFrame, dv: Seq[(String, Int)]): DataFrame =
    if (dv.isEmpty) df
    else keyMembershipJoin(df, pathRead(spark, root, m, dv.map(_._1),
      Some(StructType(StructType.fromDDL(m.schemaDdl).fields
        .filter(f => m.keys.contains(f.name))))),
      m.keys, "left_anti", bcast = false)

  // ---- per-file metadata readers (segment-backed) ----------------------
  // The pre-r12 whole-table `_stats`/`_bloom`/`_ndv` per-version JSONs are
  // gone: payloads live inside the per-delivery segment files and are
  // assembled here into the same Map shapes the probe sites always used.
  // A legacy manifest (inline file list, no segments) simply has no
  // metadata — readers return None and every consumer degrades to its
  // documented conservative fallback.

  /** Live-entry view of a version: (manifest, its live SegEntry list). */
  private[graft] def liveEntriesOf(spark: SparkSession, root: String,
      version: Long): (Manifest, Seq[SegEntry]) = {
    val m = manifestAt(spark, root, version)
    (m, m.segments.flatMap { ref =>
      val seg = loadSegment(spark, root, ref.path)
      // a published manifest only references matching-col segments
      // (commitVersion re-measures mismatches); skip defensively anyway
      if (seg.statsCols == m.statsCols && seg.bloomCols == m.bloomCols &&
          seg.ndvCols == m.ndvCols) liveEntries(ref, seg)
      else Nil
    })
  }

  /** A parsed manifest with NO metadata plane: pre-r12 (inline file
    * list, non-empty) — readers decline and consumers degrade to their
    * conservative fallbacks. An EMPTY segment list on a post-r12
    * manifest is a genuinely empty table, which answers exactly.
    */
  private def legacyNoMetadata(m: Manifest): Boolean =
    m.segments.isEmpty && m.filesEager != null && m.filesEager.nonEmpty

  private[graft] def readStats(spark: SparkSession, root: String,
      version: Long): Option[Map[String, FileStats]] = {
    val (m, es) = liveEntriesOf(spark, root, version)
    if (legacyNoMetadata(m)) None
    else Some(es.iterator.filter(_.rows >= 0)
      .map(e => e.path -> FileStats(e.rows, e.mins, e.maxs)).toMap)
  }

  /** Map `input_file_name()` URIs back to the MANIFEST paths that were
    * requested. Manifest entries are normally root-relative
    * (`data/<uuid>/__bucket=N/part-...`), but a shallow clone
    * ([[cloneShallow]]) references its source's files ABSOLUTELY — the
    * uuid'd relative suffix is unique either way, so it is the join key;
    * a measured file whose suffix matches an absolute manifest entry is
    * keyed under that entry, keeping every payload keyed exactly as the
    * manifest spells the path.
    */
  private def manifestKeyOf(paths: Seq[String]): String => String = {
    val relOf = "data/[^/]+/__bucket=\\d+/[^/]+$".r
    val bySuffix = paths.map(p => relOf.findFirstIn(p).getOrElse(p) -> p).toMap
    (f: String) => {
      val rel = relOf.findFirstIn(f).getOrElse(
        sys.error(s"unexpected data path $f"))
      bySuffix.getOrElse(rel, rel)
    }
  }

  /** Per-file bloom sizing: expected distinct items per file follows the
    * layout contract (`maxRecordsPerFile` when rolling is on, else a
    * conservative 64k), bits sized for ~2% fpp — at 10k files x 60 KB the
    * per-table bloom metadata is still sub-GB (and now sharded across
    * segment files), and a 2% false open rate only costs a wasted file
    * read, never a wrong row.
    */
  private def bloomShape(m: Manifest): (Long, Long) = {
    val items = if (m.maxRecordsPerFile > 0) m.maxRecordsPerFile else 65536L
    val bits = math.ceil(
      -items * math.log(0.02) / (math.log(2) * math.log(2))).toLong
    (items, bits)
  }

  private def b64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  private[graft] def readBlooms(spark: SparkSession, root: String,
      version: Long): Option[Map[String, Seq[Option[String]]]] = {
    val (m, es) = liveEntriesOf(spark, root, version)
    if (legacyNoMetadata(m)) None
    else Some(es.iterator.filter(_.rows >= 0)
      .map(e => e.path -> (e.blooms: Seq[Option[String]])).toMap)
  }

  /** lgK of the per-file DataSketches HLL sketches: 2^12 registers = ~0.8%
    * relative standard error at ~2.5 KB per (file, column); the union that
    * answers a table-level NDV is register-max — EXACTLY the sketch a
    * single pass over the union of the files would have built, so the
    * estimate does not degrade as the table accretes deliveries.
    */
  private val NdvLgK = 12

  private[graft] def readNdv(spark: SparkSession, root: String,
      version: Long): Option[Map[String, Seq[Option[String]]]] = {
    val (m, es) = liveEntriesOf(spark, root, version)
    if (legacyNoMetadata(m)) None
    else Some(es.iterator.filter(_.rows >= 0)
      .map(e => e.path -> (e.sks: Seq[Option[String]])).toMap)
  }

  /** (refs folded, per-file sketches resolved) of the last [[fastNdv]]
    * this JVM answered — `(n, 0)` pins the O(refs) manifest-only fold
    * (ZERO segment files parsed); a non-zero second component means the
    * entry-resolving fallback ran (pre-r15 refs or sidecar gaps). Spec
    * pin for the metadata-ask contract; not part of the public API.
    */
  private[graft] var lastNdvRefs: Option[(Int, Int)] = None

  /** Approximate table-level NDV of a stats column from metadata alone:
    * register-max union of the per-file HLL sketches (≈0.8% rse at
    * lgK=12) — the ANALYZE-style statistic that decides broadcast vs
    * shuffle joins and flags cardinality drift without scanning data.
    * Declines (None) rather than guesses: deletion vectors outstanding
    * (deleted rows are still in the sketches), a column not declared in
    * `ndvCols`, or a sidecar gap. Sketching is opt-in per column
    * (`ndvCols` at [[init]]/[[alterIndexing]]) so tables that never ask
    * for ANALYZE pay zero sketch cost per commit.
    *
    * The steady-state ask is O(refs): every r15+ ref carries a merged
    * sketch per ndv column ([[SegmentRef.sks]], recomputed on every
    * shrink over exactly its live entries), and HLL union at equal lgK
    * is lossless, so folding the ≤|refs| ref sketches driver-side gives
    * the IDENTICAL estimate the per-file union gave — zero segment
    * files parsed, zero Spark jobs, an NDV over 10⁷ files in
    * milliseconds (the [[fastCount]]/[[fastMinMax]] discipline, third
    * instance). Pre-r15 refs (no merged sketch) force the
    * entry-resolving path below, which ships ≤|files| 2.5 KB sketch
    * strings into one Spark aggregation — degraded but never wrong,
    * until the next shrink re-stamps the ref.
    */
  def fastNdv(spark: SparkSession, root: String, colName: String,
      version: Option[Long] = None): Option[Long] = {
    val m = manifest(spark, root, version)
    val i = m.ndvCols.indexOf(colName)
    if (m.dvFiles.nonEmpty || i < 0) return None
    if (m.segments.nonEmpty &&
        m.segments.forall(r => r.rows >= 0 && r.sks.size == m.ndvCols.size)) {
      lastNdvRefs = Some((m.segments.size, 0))
      val per = m.segments.flatMap(_.sks(i))
      return Some(
        if (per.isEmpty) 0L // measured everywhere, no non-null value
        else math.round(unionNdvSketches(per).getResult.getEstimate))
    }
    lastNdvRefs = None
    readNdv(spark, root, m.version).flatMap { sk =>
      val perFile = m.files.map(f => sk.get(f._1))
      if (perFile.exists(_.isEmpty)) None
      else {
        lastNdvRefs = Some((0, perFile.size))
        val sketches = perFile.flatten.flatMap(_.lift(i).flatten)
        if (sketches.isEmpty) Some(0L)
        else {
          import spark.implicits._
          // the sidecar keeps base64 strings; unbase64 inside the plan
          Some(sketches.toDF("b64")
            .agg(hll_sketch_estimate(hll_union_agg(
              unbase64(col("b64")), lit(true))).alias("ndv"))
            .head().getLong(0))
        }
      }
    }
  }

  /** Create the table at `root` (version 0) from `df`, keyed and bucketed.
    * Keys must uniquely identify rows for merge semantics to be sane;
    * incoming duplicates are resolved by [[Merge.upsert]]'s tiebreak.
    * `sortCols`/`statsCols`/`maxRecordsPerFile` opt into the clustered
    * layout + zone maps (see [[Manifest]]); merges preserve them.
    */
  def init(df: DataFrame, root: String, keys: Seq[String],
      numBuckets: Int = 64, sortCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      bloomCols: Seq[String] = Nil, ndvCols: Seq[String] = Nil,
      cdfRecord: Boolean = false): Unit = {
    require(keys.nonEmpty, "keys must be non-empty")
    val spark = df.sparkSession
    val fs = hfs(spark, root)
    require(versions(fs, root).isEmpty, s"LakeTable already exists at $root")
    val files = writeFiles(spark, root, df, keys, numBuckets,
      sortCols, maxRecordsPerFile)
    val m = Manifest(0L, keys, numBuckets, df.schema.toDDL, null,
      sortCols, statsCols, maxRecordsPerFile, Nil, bloomCols, ndvCols,
      cdfRecord)
    commitDelta(spark, root, m, Set.empty, files)
    ()
  }

  /** Shallow clone — the Delta `CLONE` / Iceberg snapshot-ref design
    * point, original implementation: publish `srcRoot`'s pinned snapshot
    * as version 0 of a NEW table at `dstRoot` whose manifest references
    * the source's data files by ABSOLUTE path — ZERO data bytes copied,
    * however large the table (Hadoop `Path(parent, child)` resolution
    * makes an absolute child win, so every read path handles the mixed
    * form unchanged). The zero-copy dev-branch move at 100 TB:
    * experiments write to the clone (fresh files land under the clone's
    * own root), the source never sees them, and a later [[detachClone]]
    * (copy-on-write of ONLY the source-referenced files) — or any full
    * rewrite: [[compactSmallFiles]] / [[rebucket]] / [[optimizeZOrder]]
    * — moves the content into clone-local files, detaching it entirely.
    *
    * All three sidecars carry over with their keys rewritten to the
    * absolute form, so zone-map/bloom pruning, [[fastCount]] and
    * [[fastNdv]] answer on the clone from the first read without
    * re-measuring anything; a post-clone commit that re-measures a
    * source-owned file keys it back to the manifest's absolute spelling
    * through [[manifestKeyOf]]. Deletion vectors carry the same way (the
    * clone's reads subtract them; a clone-side rewrite folds them).
    *
    * CAVEAT (the one Delta documents for its shallow clones): the
    * SOURCE's [[vacuum]] cannot see clone references — it protects only
    * its own retained versions. Keep the cloned version inside the
    * source's retention, or detach the clone, before vacuuming the
    * source; [[fsck]] on the clone reports any broken reference.
    */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val fs = hfs(spark, dstRoot)
    require(versions(fs, dstRoot).isEmpty,
      s"LakeTable already exists at $dstRoot")
    val m = manifest(spark, srcRoot, version)
    // absolute child wins in Path(parent, child): a clone OF a clone
    // keeps referencing the original files, never chaining indirection.
    // makeQualified pins the source SCHEME, so a clone on another
    // filesystem still resolves the source's files
    val srcFs = hfs(spark, srcRoot)
    def abs(p: String): String =
      srcFs.makeQualified(new Path(srcRoot, p)).toString
    // every payload carries VERBATIM into one dst-local segment under
    // the absolute keys: the clone's refs must not name src-relative
    // segment paths (they would resolve under the wrong root), and a
    // re-measure of a 100 TB source would defeat the zero-copy point —
    // so the src's live entries ARE the known payloads, no scan runs
    val known: Map[String, SegEntry] = m.segments.flatMap { ref =>
      val seg = loadSegment(spark, srcRoot, ref.path)
      if (seg.statsCols == m.statsCols && seg.bloomCols == m.bloomCols &&
          seg.ndvCols == m.ndvCols)
        liveEntries(ref, seg).map(e => abs(e.path) -> e)
      else Nil
    }.toMap
    val next = m.copy(version = 0L, txn = None, filesEager = null,
      dvFiles = m.dvFiles.map { case (p, b) => (abs(p), b) },
      segments = Nil)
    commitDelta(spark, dstRoot, next, Set.empty,
      fresh = m.files.map { case (p, b) => bareEntry((abs(p), b)) }, known = known)
    // the z-order marker travels too (z-tightness is a property of the
    // immutable files, so it survives the path rewrite) — without it the
    // branch would silently lose incremental layout maintenance and pay
    // a full re-optimize. Intersected with THIS version's files: the
    // source head's marker may be newer than the cloned snapshot.
    readZMarker(spark, srcRoot).foreach { mk =>
      if (mk.gen >= 0) {
        // gen marker: membership rides the copied segment entries' own
        // stamps (`known` carried them verbatim) — the clone's marker is
        // the same O(1) layout record. Copied ONLY when the cloned
        // SNAPSHOT actually carries the generation (the source head's
        // marker may postdate a pinned older version): a marker claiming
        // a layout the entries never had would make the branch's first
        // incremental pass a silent full rewrite under foreign axes —
        // with no marker it refuses loudly, exactly like pre-optimize
        // source versions always did.
        if (known.values.exists(_.zg == mk.gen))
          writeZMarker(spark, dstRoot,
            ZMarker(0L, mk.zCols, mk.axes, Nil, mk.gen))
      } else {
        val live = m.files.map(_._1).toSet
        val kept = mk.files.filter(live).map(abs)
        if (kept.nonEmpty)
          writeZMarker(spark, dstRoot, ZMarker(0L, mk.zCols, mk.axes, kept))
      }
    }
    0L
  }

  /** Incremental detach of a shallow clone: copy-on-write ONLY the files
    * the head manifest references OUTSIDE this root (the cloned
    * source's), publish the result as the next version, and leave every
    * clone-local file — the branch's own writes, with their sidecar
    * entries — untouched on its existing path. [[rebucket]] also
    * detaches but rewrites the local delta too and re-measures every
    * sidecar; at scale the foreign set is the price of independence and
    * the local delta should not be paid again.
    *
    * Foreign data files are read deletion-vector-applied and rewritten
    * under this root in the manifest's own layout. Foreign DELETION
    * VECTORS are byte-copied local (key-only files — delta-sized): their
    * keys may still have to subtract from carried LOCAL files of the
    * same bucket, and a detached table must never read the source for
    * them; re-applying them to the rewritten foreign rows is an
    * idempotent keyed anti-join. Already-detached tables no-op.
    *
    * The HEAD stops referencing the source; pre-detach VERSIONS still do
    * (time travel to them needs the source's retention), so the full
    * independence claim is detachClone + [[vacuum]] — after which
    * [[fsck]] stays green whatever the source does.
    */
  def detachClone(spark: SparkSession, root: String): Long = {
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      def isLocal(p: String) = p.startsWith("data/")
      val (localF, foreignF) = m.files.partition(t => isLocal(t._1))
      val (localDv, foreignDv) = m.dvFiles.partition(t => isLocal(t._1))
      if (foreignF.isEmpty && foreignDv.isEmpty) m.version
      else {
        val rows = applyDv(spark, root, m,
          pathRead(spark, root, m, foreignF.map(_._1)), m.dvFiles)
        // layout-preserving (zSortIfMarked): detached foreign rows write
        // z-sorted under the marker's frozen axes and join the marker —
        // otherwise the detach would silently z-stale everything it
        // localizes and the next incremental pass would re-pay the rewrite
        val (mk, zExprs) = zSortIfMarked(spark, root, m)
        val fresh = writeFiles(spark, root, rows, m.keys, m.numBuckets,
          m.sortCols, m.maxRecordsPerFile, sortExprs = zExprs)
        val dvSub = s"data/${java.util.UUID.randomUUID}"
        val conf = spark.sparkContext.hadoopConfiguration
        val copied = foreignDv.zipWithIndex.map { case ((p, b), i) =>
          val src = new Path(p)
          val rel = s"$dvSub/__bucket=$b/dv-$i.parquet"
          org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
            fs, new Path(root, rel), false, conf)
          (rel, b)
        }
        val next0 = m.copy(version = slot, txn = None,
          dvFiles = localDv ++ copied)
        // carried-by-path: local files keep their segment entries, the
        // dropped foreign paths retire from their refs (sub-bucket
        // granularity — the `dead` index list), only the fresh rewrite
        // is measured
        val next = commitDelta(spark, root, next0, Set.empty, fresh,
          dead = foreignF, zGen = zGenOf(mk))
        carryZMarker(spark, root, mk, next, fresh.map(_.path))
        if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }
  }

  /** Bucket-count evolution: rewrite the table's CURRENT content into
    * `newNumBuckets` hash buckets and publish it as the next version.
    * The operational answer when a table sized at init has outgrown its
    * layout — at 100 TB a bucket is the unit of copy-on-write, point
    * lookup and co-located join, so per-bucket volume must stay
    * executor-sized. Keys, layout contract (sortCols / statsCols /
    * maxRecordsPerFile / bloomCols) and CONTENT are unchanged; the
    * rewrite reads dv-applied, so outstanding deletion vectors fold in
    * and the new version starts vector-free. Older versions keep their
    * own manifests and files, so time travel across the boundary holds;
    * [[changes]] spanning the boundary sees every bucket's file set
    * change and degrades to a full-table value diff — correct, just no
    * longer bucket-pruned (documented, not a hazard). Data is written
    * BEFORE the claim, so a commit race orphans one attempt's files
    * ([[vacuum]] sweeps them) and the retry re-reads the winner's head.
    */
  def rebucket(spark: SparkSession, root: String,
      newNumBuckets: Int): Long = {
    require(newNumBuckets >= 1,
      s"newNumBuckets must be >= 1, got $newNumBuckets")
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      val rows = read(spark, root, Some(m.version))
      val (mk, zExprs) = zSortIfMarked(spark, root, m)
      val files = writeFiles(spark, root, rows, m.keys, newNumBuckets,
        m.sortCols, m.maxRecordsPerFile, sortExprs = zExprs)
      // every file is fresh under the new bucket numbering: the carried
      // refs all drop (bucket ids are incomparable across the boundary)
      // and one full segment is measured
      val next = commitDelta(spark, root, m.copy(version = slot,
        txn = None, numBuckets = newNumBuckets, filesEager = null,
        segments = Nil, dvFiles = Nil), Set.empty, files,
        zGen = zGenOf(mk))
      carryZMarker(spark, root, mk, next, files.map(_.path))
      if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
      next.version
    }
  }

  /** The table-maintenance z key: quantize each column's double view into
    * bucket space against its table-wide [min, max] axis and interleave
    * through [[graft.operators.Layout.mortonInterleave]] (the shared
    * shift/and/or kernel — one codegen'd projection, no UDF). NULLs
    * quantize to 0 (they cluster at the curve's origin; zone maps record
    * all-NULL files separately so pruning stays exact); a degenerate axis
    * (min == max) contributes constant bits. Bits per column shrink just
    * enough for the widest supported interleave to fit a signed long.
    */
  private def zValue(cols: Seq[(Column, Double, Double)]): Column = {
    val bits = math.min(16, 62 / cols.size)
    val top = (1L << bits) - 1
    val bucketed = cols.map { case (c, mn, mx) =>
      if (mx - mn <= 0d) lit(0L)
      else coalesce(least(lit(top), greatest(lit(0L),
        floor((c - lit(mn)) * lit(top.toDouble) / lit(mx - mn))
          .cast("long"))), lit(0L))
    }
    graft.operators.Layout.mortonInterleave(bucketed, bits)
  }

  /** The double-valued view of a z column (normalization needs one linear
    * axis; dates/timestamps ride their epoch). */
  private def zNumeric(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => c.cast("double")
    case _: DateType => c.cast("timestamp").cast("double")
    case _: TimestampType => c.cast("double")
    case other => sys.error(s"optimizeZOrder supports numeric/date/" +
      s"timestamp columns, got $other")
  }

  /** `_zorder/<version>.json` marker: the table's z LAYOUT — which z
    * columns, which frozen normalization axes, and the layout GENERATION
    * (`gen` = the full-optimize version that established it). Files
    * written in z order are stamped with the generation IN their segment
    * entries ([[SegEntry.zg]], summarized per ref as [[SegmentRef.zg]]),
    * so the marker is O(1) bytes whatever the table size and tightness
    * rides the atomic manifest commit itself — a maintenance rewrite has
    * no second marker write to lose. Markers written before r14 carry an
    * explicit `files` list instead (`gen` parses -1): every consumer
    * honors both forms, and the first full optimize upgrades the table.
    * Tightness stays a per-FILE property either way (files are
    * immutable), so the stamped set stays valid across restores and
    * unrelated commits; a stamp from a superseded layout (older `gen`)
    * never counts as tight. [[optimizeZOrderIncremental]] reads the
    * newest marker to rewrite only what landed since — for gen markers
    * the hot-set derivation is REF-LOCAL (wholly-tight refs never parse).
    */
  private[graft] final case class ZMarker(version: Long, zCols: Seq[String],
      axes: Seq[(Double, Double)], files: Seq[String], gen: Long = -1L)

  private[graft] def renderZMarker(mk: ZMarker): String =
    s"""{"version":${mk.version},""" +
      (if (mk.gen >= 0) s""""gen":${mk.gen},""" else "") +
      s""""z_cols":[${mk.zCols.map(jq).mkString(",")}],""" +
      s""""axes":[${mk.axes.map { case (mn, mx) =>
        s"""[$mn,$mx]""" }.mkString(",")}],""" +
      s""""files":[${mk.files.map(jq).mkString(",")}]}"""

  private[graft] def parseZMarker(o: JsonNode): ZMarker = {
    // the axes are `[min,max]` pairs of doubles, NaN and ±Infinity included
    val axes = MetaFile.arr(o, "axes").map { a =>
      require(a.isArray && a.size == 2 && a.get(0).isNumber &&
        a.get(1).isNumber, s"zorder marker: bad axis $a")
      (a.get(0).doubleValue, a.get(1).doubleValue)
    }
    require(o.has("z_cols") && o.has("files"),
      "zorder marker: missing z_cols or files")
    ZMarker(MetaFile.reqNum(o, "version"), MetaFile.strSeq(o, "z_cols"),
      axes, MetaFile.strSeq(o, "files"), MetaFile.num(o, "gen", -1L))
  }

  private def writeZMarker(spark: SparkSession, root: String,
      mk: ZMarker): Unit =
    MetaFile.write(hfs(spark, root),
      new Path(root, s"_zorder/${mk.version}.json"), renderZMarker(mk))

  /** The newest z-order marker, if any optimize ever ran. */
  private def readZMarker(spark: SparkSession,
      root: String): Option[ZMarker] = {
    val fs = hfs(spark, root)
    MetaFile.numbered(fs, new Path(root, "_zorder")).lastOption.map(v =>
      parseZMarker(MetaFile.read(fs, new Path(root, s"_zorder/$v.json"))))
  }

  /** Maintenance rewrites are LAYOUT-PRESERVING: if the table keeps a z
    * layout (marker present, columns still valid under the current
    * schema/statsCols), every maintenance pass that rewrites content —
    * [[compactDeletes]], [[compactSmallFiles]], [[rebucket]],
    * [[detachClone]] — sorts what it writes by the marker's frozen z key
    * instead of sortCols, so maintenance never z-stales what it touches
    * and the incremental pass stays reserved for fresh DELIVERIES (the
    * Delta operational split: deliveries land cheap, optimize follows).
    * Returns the validated marker plus the sort expressions (empty when
    * the table has no layout: callers fall back to sortCols).
    */
  /** The newest marker, only if it is still VALID under this manifest:
    * axes match the column count and every z column is still a schema
    * column declared in statsCols. [[alterIndexing]] can re-declare
    * statsCols under a live marker, so validity is a per-version
    * property, not something marker creation can guarantee forever.
    */
  private def validZMarker(spark: SparkSession, root: String,
      m: Manifest): Option[ZMarker] = {
    val schema = StructType.fromDDL(m.schemaDdl)
    readZMarker(spark, root).filter(k =>
      k.axes.size == k.zCols.size && k.zCols.forall(c =>
        schema.fieldNames.contains(c) && m.statsCols.contains(c)))
  }

  private def zSortIfMarked(spark: SparkSession, root: String,
      m: Manifest): (Option[ZMarker], Seq[Column]) = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val mk = validZMarker(spark, root, m)
    (mk, mk.toSeq.map { k =>
      val nums = k.zCols.map(c => zNumeric(col(c), schema(c).dataType))
      zValue(nums.zip(k.axes).map { case (n, (mn, mx)) => (n, mn, mx) })
    })
  }

  /** The generation a layout-preserving rewrite stamps its fresh files
    * with ([[commitDelta]]'s `zGen`): the valid marker's, or -1 when the
    * table has no z layout (or a pre-r14 files-list marker — those carry
    * membership in the marker itself, via [[carryZMarker]]).
    */
  private def zGenOf(mk: Option[ZMarker]): Long =
    mk.map(_.gen).getOrElse(-1L)

  /** Advance a pre-r14 FILES-LIST marker after a layout-preserving
    * rewrite: carried files that are still live stay members, the fresh
    * z-sorted files join. Gen markers are a no-op here — their fresh
    * files were stamped inside the commit itself ([[zGenOf]]), so there
    * is no second marker write (and no crash window between them).
    */
  private def carryZMarker(spark: SparkSession, root: String,
      mk: Option[ZMarker], next: Manifest, fresh: Seq[String]): Unit =
    mk.filter(_.gen < 0).foreach { k =>
      val live = next.files.map(_._1).toSet
      writeZMarker(spark, root, ZMarker(next.version, k.zCols, k.axes,
        (k.files.filter(live) ++ fresh).distinct))
    }

  /** Z-ORDER maintenance rewrite (the Delta `OPTIMIZE ZORDER BY` /
    * Iceberg sort-order design point, original implementation): rewrite
    * the CURRENT content ordered by the Morton interleave of the z
    * columns, so with file rolling each data file covers a small
    * hyper-rectangle of the z space and the existing zone-map sidecar
    * prunes range/equality probes on EVERY z column — a plain sortCols
    * layout only ever helps its leading column. At 100 TB this is the
    * difference between a two-predicate dashboard probe opening ~√-scaled
    * slivers of the table and it scanning everything the first predicate
    * couldn't bound.
    *
    * Like [[rebucket]], a maintenance pass: one content rewrite (deletion
    * vectors folded, sidecars re-measured, time travel intact — old
    * versions keep their layout). LATER deliveries land in the table's
    * declared sortCols order; the z layout degrades gracefully (fresh
    * files are merely less tight) until the next optimize, exactly the
    * Delta operational model. The z columns must be declared `statsCols`
    * — a z layout without zone maps prunes nothing, so that misuse fails
    * here rather than silently scanning.
    *
    * Normalization uses the table's CURRENT min/max per z column (one
    * aggregation job); quantization is 16 bits per column (15 at four
    * columns, keeping the interleave inside a signed long). The curve
    * kernel is [[graft.operators.Layout]]'s — same Morton interleave the
    * standalone z-ordered parquet writer uses, applied here to a KEYED
    * table's bucket-internal layout.
    */
  def optimizeZOrder(spark: SparkSession, root: String,
      zCols: Seq[String]): Long = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"optimizeZOrder interleaves 2-4 columns, got ${zCols.size}")
    require(zCols.distinct.size == zCols.size, s"duplicate z column in $zCols")
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      val schema = StructType.fromDDL(m.schemaDdl)
      zCols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"optimizeZOrder: $c is not a table column")
        require(m.statsCols.contains(c),
          s"optimizeZOrder: $c is not in statsCols (${m.statsCols}) — " +
            "the z layout prunes through zone maps; declare the column " +
            "via init/alterIndexing first")
      }
      val rows = read(spark, root, Some(m.version))
      val nums = zCols.map(c => zNumeric(col(c), schema(c).dataType))
      // one aggregation job for the normalization axes
      val aggs = nums.zipWithIndex.flatMap { case (n, i) =>
        Seq(min(n).alias(s"mn$i"), max(n).alias(s"mx$i")) }
      val mm = rows.agg(aggs.head, aggs.tail: _*).head()
      val ranged = nums.zipWithIndex.map { case (n, i) =>
        val mn = if (mm.isNullAt(2 * i)) 0d else mm.getDouble(2 * i)
        val mx = if (mm.isNullAt(2 * i + 1)) 0d else mm.getDouble(2 * i + 1)
        (n, mn, mx)
      }
      val files = writeFiles(spark, root, rows, m.keys, m.numBuckets,
        maxRecordsPerFile = m.maxRecordsPerFile,
        sortExprs = Seq(zValue(ranged)))
      // full rewrite: every carried ref drops, one full segment measured;
      // the fresh entries stamp the NEW generation, and the marker
      // records only the layout — O(1) bytes at any table size. The
      // generation is the slot, advanced PAST any generation this table
      // has ever recorded: a shallow clone inherits the source's stamps
      // while its own version counter restarts at 0, so a clone-local
      // optimize landing on the inherited gen's slot number would
      // otherwise mint an identical gen under new axes — and a restore
      // to a pre-optimize clone version would then falsely count
      // source-layout entries tight, silently starving the incremental
      // pass (layout staleness only, but permanent).
      val gen = math.max(slot,
        readZMarker(spark, root).map(_.gen + 1L).getOrElse(0L))
      val next = commitDelta(spark, root, m.copy(version = slot,
        txn = None, filesEager = null, segments = Nil, dvFiles = Nil),
        Set.empty, files, zGen = gen)
      writeZMarker(spark, root, ZMarker(next.version, zCols,
        ranged.map { case (_, mn, mx) => (mn, mx) }, Nil, gen = gen))
      if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
      next.version
    }
  }

  /** Incremental OPTIMIZE: rewrite ONLY what landed since the last
    * [[optimizeZOrder]] — the O(delta) maintenance pass the full rewrite's
    * O(table) contract can't be at 100 TB. The marker's file set names the
    * z-tight files; everything live outside it (fresh deliveries, plus
    * whole buckets rewritten copy-on-write by [[merge]]/[[delete]], whose
    * replacement files drop out of the set by path) is re-laid in z order
    * under the marker's FROZEN axes (the IVF-PQ frozen-codebook pattern:
    * values outside the original range clamp to the boundary bucket — a
    * clustering-quality concern only, never correctness, since the z key
    * orders files and zone maps stay exact either way; re-run the full
    * optimize when the value distribution drifts far). Buckets holding
    * outstanding deletion vectors escalate to a whole-bucket rewrite so
    * the vectors fold in — the carried files a vector still applies to
    * live in those same buckets, so the new version is vector-free.
    * Carried files keep their sidecar entries (O(delta) stats/bloom/ndv,
    * like every other partial rewrite); a no-change table is a no-op
    * returning the current version, no commit published.
    */
  /** (refs parsed, refs skipped as wholly tight) by the last
    * [[optimizeZOrderIncremental]] hot-set derivation this JVM ran —
    * spec pin for the ref-local contract (a tight steady-state table's
    * pass parses O(untight + dv-intersecting refs), never O(live
    * files)); None when the legacy files-list path derived it.
    */
  private[graft] var lastZIncrRefs: Option[(Int, Int)] = None

  def optimizeZOrderIncremental(spark: SparkSession, root: String): Long = {
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      val mk = readZMarker(spark, root).getOrElse(sys.error(
        s"optimizeZOrderIncremental: no z-order marker at $root — run " +
          "optimizeZOrder(zCols) once to establish the layout"))
      val schema = StructType.fromDDL(m.schemaDdl)
      mk.zCols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"optimizeZOrderIncremental: marker z column $c left the schema")
        require(m.statsCols.contains(c),
          s"optimizeZOrderIncremental: $c dropped from statsCols " +
            s"(${m.statsCols}) — the z layout prunes through zone maps")
      }
      val dvBuckets = m.dvFiles.map(_._2).toSet
      // hot-set derivation. Gen marker + segment plane: REF-LOCAL — a
      // ref wholly stamped with the marker's generation and free of
      // dv'd buckets is cold without its segment ever parsing, and the
      // commit below republishes it verbatim on the same attestation;
      // O(untight + dv-intersecting refs), never O(live files). The
      // files-list marker (pre-r14) and legacy inline manifests keep
      // the full-resolution path.
      val refLocal = mk.gen >= 0 && m.filesEager == null
      val (hot: Seq[(String, Int)], skippedRefs: Set[String]) =
        if (refLocal) {
          val (skip, load) = m.segments.partition(r =>
            r.zg == mk.gen && !r.buckets.exists(dvBuckets))
          lastZIncrRefs = Some((load.size, skip.size))
          val h = load.flatMap(r =>
            liveEntries(r, loadSegment(spark, root, r.path)))
            .filterNot(e => e.zg == mk.gen && !dvBuckets(e.bucket))
            .map(e => (e.path, e.bucket))
          (h, skip.map(_.path).toSet)
        } else {
          lastZIncrRefs = None
          val tight = mk.files.toSet
          (m.files.filterNot { case (p, b) =>
            tight(p) && !dvBuckets(b) }, Set.empty[String])
        }
      if (hot.isEmpty && m.dvFiles.isEmpty) m.version
      else {
        val cur = applyDv(spark, root, m,
          pathRead(spark, root, m, hot.map(_._1)), m.dvFiles)
        val nums = mk.zCols.map(c => zNumeric(col(c), schema(c).dataType))
        val ranged = nums.zip(mk.axes).map { case (n, (mn, mx)) =>
          (n, mn, mx) }
        val fresh = writeFiles(spark, root, cur, m.keys, m.numBuckets,
          maxRecordsPerFile = m.maxRecordsPerFile,
          sortExprs = Seq(zValue(ranged)))
        // delta commit: the re-laid hot files retire BY PATH from their
        // refs; untouched refs (wholly z-tight, no vectors) republish
        // verbatim without a segment load. Gen markers stamp the fresh
        // entries inside this one atomic commit — no marker write at
        // all, hence no crash window between manifest and marker.
        val next = commitDelta(spark, root, m.copy(version = slot,
          txn = None, dvFiles = Nil), Set.empty, fresh, dead = hot,
          zGen = mk.gen, untouchedRefs = skippedRefs)
        if (mk.gen < 0) {
          val hotSet = hot.map(_._1).toSet
          writeZMarker(spark, root, ZMarker(next.version, mk.zCols,
            mk.axes,
            m.files.filterNot(f => hotSet(f._1)).map(_._1) ++ fresh.map(_.path)))
        }
        if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }
  }

  /** Metadata-only drift check for [[optimizeZOrderAuto]]: the marker's
    * frozen axes clamp out-of-range values to the boundary bucket — fine
    * for small drift, but a distribution that has left the axes far
    * behind piles new data into one boundary bucket and multi-column
    * pruning degrades SILENTLY. For NUMERIC z columns the newest
    * zone-map sidecar answers the current table range with zero data
    * files opened; the layout counts as drifted when the range extends
    * past an axis by more than half the axis width on either side (or
    * the axis was degenerate and values now spread). DATE z columns get
    * the same protection — their zone strings render ISO `yyyy-MM-dd`,
    * which parses exactly to an epoch day, and the frozen axes live in
    * epoch seconds ([[zNumeric]] routes dates through a timestamp cast);
    * a non-UTC session timezone skews the comparison by at most 14 hours,
    * far below the half-width threshold for any multi-day axis, and a
    * degenerate (single-day) axis compares lo/hi parsed the same way so
    * the skew cancels. TIMESTAMP columns stay exempt: their sidecar
    * strings carry a session-timezone rendering with engine-variable
    * fraction digits — no exact numeric form — so the documented
    * re-optimize judgement stays with the operator there. Columns the
    * current statsCols no longer index (or sidecar entries carried from
    * an older column list) contribute no signal rather than crashing —
    * the caller's marker validation is what rules them out.
    */
  /** Whether the last [[axesDrifted]] answered from manifest-resident
    * ref summaries alone (true = zero segment parses). Spec pin. */
  private[graft] var lastDriftExact: Option[Boolean] = None

  private def axesDrifted(spark: SparkSession, root: String, m: Manifest,
      mk: ZMarker): Boolean = {
    val schema = StructType.fromDDL(m.schemaDdl)
    // O(refs) fast path: when every ref carries an EXACT zone summary
    // (r13+ commits) AND covers the probed column (a None summary could
    // be a declined beyond-double tie, not just all-NULL — dropping that
    // ref would LOSE its extremum and silently miss real drift), the
    // current table range folds from the manifest with ZERO segment
    // parses — the scheduled auto pass's drift check then costs one
    // manifest read at any table size. Pre-r13 refs carry conservative
    // superset summaries (an overstated range would force a spurious
    // full rewrite), so they take the entry-resolving path, as does any
    // column with a summary gap.
    val exact = m.segments.nonEmpty && m.segments.forall(_.exactSummary)
    var allFast = exact
    lazy val entryStats = readStats(spark, root, m.version)
    val drifted = mk.zCols.zip(mk.axes).exists { case (c, (mn, mx)) =>
      val i = m.statsCols.indexOf(c)
      if (i < 0) false
      else {
        // parse a zone string into the column's z-numeric space
        // (where the frozen axes live); None = no exact form
        val toNum: String => Option[Double] = schema(c).dataType match {
          case _: NumericType => s => s.toDoubleOption
          case _: DateType => s => scala.util.Try(
            java.time.LocalDate.parse(s).toEpochDay * 86400d).toOption
          case _ => _ => None
        }
        val covered = exact && m.segments.forall(r =>
          r.mins.lift(i).flatten.isDefined && r.maxs.lift(i).flatten.isDefined)
        if (!covered) allFast = false
        val (losRaw, hisRaw) =
          if (covered)
            (m.segments.flatMap(_.mins.lift(i).flatten),
              m.segments.flatMap(_.maxs.lift(i).flatten))
          else entryStats match {
            case Some(st) =>
              (st.values.flatMap(_.mins.lift(i).flatten).toSeq,
                st.values.flatMap(_.maxs.lift(i).flatten).toSeq)
            case None => (Nil, Nil)
          }
        val los = losRaw.flatMap(toNum)
        val his = hisRaw.flatMap(toNum)
        if (los.isEmpty || his.isEmpty) false
        else {
          val (lo, hi) = (los.min, his.max)
          val w = mx - mn
          if (w <= 0d) hi > lo
          else lo < mn - w / 2 || hi > mx + w / 2
        }
      }
    }
    lastDriftExact = Some(allFast)
    drifted
  }

  /** The operational entry point a maintenance schedule wants: bootstrap
    * the z layout with the full [[optimizeZOrder]] when none exists, the
    * requested columns changed (stale-axis incremental passes under a
    * different column set would cluster nothing), or the value
    * distribution has DRIFTED past the frozen axes ([[axesDrifted]],
    * metadata-only — re-normalizing is a full rewrite by definition);
    * otherwise run the O(delta) [[optimizeZOrderIncremental]].
    * Convergent: a tight table is a no-op.
    *
    * The marker is validated like [[zSortIfMarked]] validates it: a
    * marker whose z columns have left the schema or statsCols (reachable
    * — [[alterIndexing]] re-declares statsCols under a live marker)
    * cannot steer the maintenance choice, so the pass re-bootstraps,
    * and [[optimizeZOrder]]'s own z⊆statsCols `require` then reports the
    * genuinely unservable case loudly instead of this entry point
    * crashing on a misaligned sidecar index.
    *
    * Concurrency: the full-vs-incremental CHOICE reads the manifest and
    * marker outside any commit-retry scope, so a concurrent commit can
    * supersede the version it was made against. Content stays correct
    * regardless — both downstream passes re-read and re-validate inside
    * [[withCommitRetries]] — but the choice itself assumes the usual
    * single-maintenance-writer schedule (one OPTIMIZE job per table, the
    * Delta/Iceberg operational model); under a racing re-declaration the
    * worst case is one extra full rewrite or a loud `require`, never a
    * wrong layout.
    */
  def optimizeZOrderAuto(spark: SparkSession, root: String,
      zCols: Seq[String]): Long = {
    val m = manifest(spark, root)
    validZMarker(spark, root, m) match {
      case Some(mk) if mk.zCols == zCols && !axesDrifted(spark, root, m, mk) =>
        optimizeZOrderIncremental(spark, root)
      case _ => optimizeZOrder(spark, root, zCols)
    }
  }

  /** Declare (or change) the stats/bloom indexing of an EXISTING table
    * without rewriting data: publishes the next version with the same
    * file list and the new column sets, then measures both sidecars from
    * scratch. Sidecar entries are positional in their own cols array, so
    * a sidecar written under a different column list is never carried —
    * a stale carry would misalign zones and mis-prune (wrong rows, not
    * just wrong scan width). One metadata publish plus one stats pass
    * over the data: the onboarding path for pruned [[scan]] filters /
    * [[dynamicPrunedScan]] / [[fastMinMax]] on a table initialized
    * without zone maps, at the cost of a scan, not a rewrite.
    */
  def alterIndexing(spark: SparkSession, root: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      ndvCols: Seq[String] = Nil): Long = {
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      val schema = StructType.fromDDL(m.schemaDdl)
      (statsCols ++ bloomCols ++ ndvCols).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"alterIndexing: $c is not a table column (have ${schema.fieldNames.toSeq})"))
      // same file list, new column declarations: every carried segment
      // is cols-mismatched, so the whole table re-measures into one
      // fresh segment (a scan, not a rewrite — data untouched; resolving
      // the full file list is inherent to this declared-O(table) op).
      // z stamps survive the re-measure: the FILES are unchanged, so
      // their tightness is too (losing the stamps here would make the
      // next incremental pass rewrite a perfectly tight table)
      val zgKnown = m.segments.flatMap(r =>
        liveEntries(r, loadSegment(spark, root, r.path))
          .collect { case e if e.zg >= 0 => e.path -> e.zg }).toMap
      val next = commitDelta(spark, root, m.copy(version = slot,
        txn = None, statsCols = statsCols, bloomCols = bloomCols,
        ndvCols = ndvCols, filesEager = null, segments = Nil),
        Set.empty, fresh = m.files.map(bareEntry(_)), zgKnown = zgKnown)
      if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
      next.version
    }
  }

  /** Toggle commit-time change-feed recording on an EXISTING table: one
    * metadata-only publish (same files, sidecars carried verbatim).
    * Nothing is backfilled — steps before the toggle stay unrecorded and
    * serve through the snapshot diff; recording starts with the next
    * copy-on-write commit. The toggle version itself is a content no-op
    * and always records an EMPTY feed — a span crossing the toggle is
    * only as unrecorded as its other steps. Disabling stops writing
    * feeds; markers already written stay valid for their versions.
    */
  def alterCdfRecord(spark: SparkSession, root: String,
      enabled: Boolean): Long = {
    val fs = hfs(spark, root)
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      if (m.cdfRecord == enabled) m.version
      else {
        // metadata-only: the file list is untouched, every ref carries
        val next = commitMetadataOnly(spark, root, m.copy(version = slot,
          txn = None, cdfRecord = enabled))
        writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }
  }

  /** Read a version (default: newest), deletion vectors applied: the
    * [[scan]] relation, planned from the manifest alone.
    */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = scan(spark, root, version)

  /** Total on-disk bytes of the LIVE data files, no data file opened —
    * the `sizeInBytes` [[scan]] plans with, the statistic Spark's own
    * broadcast decision reasons about; deletion vectors only shrink the
    * live rows, so this is an upper bound under MoR deletes.
    */
  def tableBytes(spark: SparkSession, root: String,
      version: Option[Long] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // the refs carry exact live byte totals (file sizes are segment
    // metadata) — zero filesystem RPCs; an entry predating the byte
    // field falls back to its own status, on its own filesystem because
    // a shallow clone may reference files on the source's scheme
    segmentParts(spark, root, manifest(spark, root, version), None)
      .map(_.size { e =>
        val p = new Path(root, e.path)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }).sum
  }

  /** [[read]] with a metadata-decided join strategy: tables whose live
    * bytes fit under `thresholdBytes` come back broadcast-hinted, so a
    * join against them is a broadcast hash join whatever the optimizer's
    * size estimate of the plan above the scan (a deletion-vector
    * anti-join, a projection) says. The decision
    * reads ONLY the manifest and file lengths ([[tableBytes]]) — the
    * ANALYZE-driven plan choice at 100 TB: a dim table stays broadcast as
    * it accretes versions until the day it actually outgrows the
    * threshold, and a fact table never accidentally broadcasts. The
    * default matches Spark's own `autoBroadcastJoinThreshold` (10 MB of
    * COMPRESSED parquet here — conservative, since in-memory rows
    * inflate).
    */
  def readForJoin(spark: SparkSession, root: String,
      thresholdBytes: Long = 10L << 20,
      version: Option[Long] = None): DataFrame = {
    val df = read(spark, root, version)
    if (tableBytes(spark, root, version) <= thresholdBytes) broadcast(df)
    else df
  }

  /** COUNT(*) from metadata alone when the stats sidecar covers every live
    * file and no deletion vectors are outstanding — the aggregate-pushdown
    * answer a table format owes its planner: a row count over 100 TB that
    * opens zero data files. Returns None when metadata can't answer
    * exactly (missing sidecar entries, MoR vectors whose keys may or may
    * not hit) — callers fall back to `read(...).count()`.
    */
  def fastCount(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[Long] =
    fastCount(spark, root, manifest(spark, root, version))

  /** [[fastCount]] over an already-resolved manifest. */
  private[graft] def fastCount(spark: SparkSession, root: String,
      m: Manifest): Option[Long] = {
    // rows are measured whenever ANY indexed column is declared (the
    // single metadata pass counts as it measures), so a bloom- or
    // ndv-only table answers too — only a wholly unindexed table, or
    // outstanding deletion vectors, decline
    if (m.dvFiles.nonEmpty ||
      (m.statsCols.isEmpty && m.bloomCols.isEmpty && m.ndvCols.isEmpty))
      return None
    // the refs carry EXACT live row totals (recomputed on every shrink,
    // -1 whenever any covered entry is unmeasured), so the common case
    // answers from the MANIFEST alone — zero segment files parsed, a
    // COUNT(*) over 10⁷ files in O(refs) driver work
    if (m.segments.nonEmpty && m.segments.forall(_.rows >= 0))
      return Some(m.segments.map(_.rows).sum)
    readStats(spark, root, m.version).flatMap { stats =>
      val counts = m.files.map(f => stats.get(f._1).map(_.rows))
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    }
  }

  /** Global MIN/MAX of a stats column from metadata alone — the other
    * aggregate the zone-map sidecar can answer without opening a data
    * file: the table min is the least per-file min (per-file extrema are
    * exact, files are immutable). Returns the stringified pair
    * `(min, max)` in [[computeStats]]' `CAST(x AS STRING)` form —
    * `(None, None)` for an all-NULL column — or declines with an outer
    * None when metadata can't answer EXACTLY: deletion vectors
    * outstanding (the deleted row may be an extremum), a sidecar gap, a
    * non-stats column, or two distinct numeric strings that collapse
    * under double compare (beyond-precision decimals — ordering them
    * from strings would be a guess). Callers fall back to
    * `read(...).agg(min, max)`.
    */
  def fastMinMax(spark: SparkSession, root: String, colName: String,
      version: Option[Long] = None): Option[(Option[String], Option[String])] =
    fastMinMax(spark, root, manifest(spark, root, version), colName)

  /** [[fastMinMax]] over an already-resolved manifest. */
  private[graft] def fastMinMax(spark: SparkSession, root: String,
      m: Manifest, colName: String): Option[(Option[String], Option[String])] = {
    val i = m.statsCols.indexOf(colName)
    if (m.dvFiles.nonEmpty || i < 0) return None
    val colType = StructType.fromDDL(m.schemaDdl)(colName).dataType
    // ties that compare 0 but differ as strings are unorderable from
    // the sidecar (double-precision collapse) — decline, never guess
    def pick(vals: Seq[String], want: Int): Option[Option[String]] =
      vals.foldLeft(Option(Option.empty[String])) {
        case (None, _) => None
        case (Some(None), v) => Some(Some(v))
        case (Some(Some(best)), v) =>
          val c = statCmp(colType, v, best)
          if (c == 0 && v != best) None
          else Some(Some(if (Integer.signum(c) == want) v else best))
      }
    // ref fast path: when every ref's summary is EXACT over its live
    // entries (r13+ commits flag this; the fold of exact per-ref extrema
    // IS the table extremum), the answer reads ZERO segment files —
    // O(refs) like fastCount. A None summary is ambiguous at ref level
    // (all-NULL column vs unmeasured entries), so any None falls through
    // to the entry-resolving path, which distinguishes them.
    if (m.segments.nonEmpty && m.segments.forall(r =>
        r.exactSummary && r.rows >= 0 &&
          r.mins.lift(i).flatten.nonEmpty && r.maxs.lift(i).flatten.nonEmpty)) {
      return for {
        mn <- pick(m.segments.flatMap(_.mins.lift(i).flatten), -1)
        mx <- pick(m.segments.flatMap(_.maxs.lift(i).flatten), 1)
      } yield (mn, mx)
    }
    readStats(spark, root, m.version).flatMap { stats =>
      val perFile = m.files.map(f => stats.get(f._1))
      if (perFile.exists(_.isEmpty)) None
      else for {
        mn <- pick(perFile.flatten.flatMap(_.mins(i)), -1)
        mx <- pick(perFile.flatten.flatMap(_.maxs(i)), 1)
      } yield (mn, mx)
    }
  }

  /** Dynamic file pruning for a dim ⋈ fact join on a lake fact table —
    * the runtime analog of Spark's dynamic partition pruning, decided
    * against this format's own sidecars: collect the (already filtered)
    * build side's distinct join keys driver-side, bounded by `maxKeys`,
    * and return `scan(version)` filtered by ONE `InSet` over them, so
    * [[SidecarFileIndex]] opens only the fact files whose zone map /
    * bloom might hold a key and the rows returned are exactly those
    * whose `factCol` is a (non-NULL) build key. The caller's join still
    * supplies the join predicate. Past the key bound it degrades to the
    * unfiltered scan, never a wrong prune: at 100 TB, a dim filtered to
    * thousands of keys skips every fact file outside those keys' zones
    * without a shuffle or a data-file read to decide. The bound sizes
    * the driver collect only (100k keys ≈ a few MB): the index renders
    * the set once per listing and answers each zone by binary search,
    * so a large SELECTIVE key set still prunes; its bloom veto self-caps
    * above 10k values.
    */
  def dynamicPrunedScan(spark: SparkSession, root: String, factCol: String,
      dimKeys: DataFrame, maxKeys: Int = 100000,
      version: Option[Long] = None): DataFrame = {
    require(dimKeys.columns.length == 1,
      s"dimKeys must be a single key column, got ${dimKeys.columns.toSeq}")
    val m = manifest(spark, root, version)
    val colType = StructType.fromDDL(m.schemaDdl)(factCol).dataType
    val keys = dimKeys.select(col(dimKeys.columns.head).cast(colType))
      .na.drop().distinct().limit(maxKeys + 1).collect().map(_.get(0))
    val fact = scan(spark, root, Some(m.version))
    if (keys.length > maxKeys) fact
    else fact.filter(inSet(factCol, colType, keys.toSeq))
  }

  /** `c IN values` as ONE Catalyst `InSet` over `values` (external Scala
    * values of type `dt`, converted once) — a flat set the scan index
    * renders once per listing, where `isin` builds one literal child per
    * value for the analyzer and optimizer to walk.
    */
  private[graft] def inSet(c: String, dt: DataType, values: Seq[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    GraftSqlBridge.column(InSet(GraftSqlBridge.expression(col(c)),
      values.map(toCatalyst).toSet))
  }

  /** Timestamp time travel: the newest version whose manifest was
    * PUBLISHED at or before `asOfMillis` (manifests stamp their publish
    * wall-clock; see [[render]]). Driver-side metadata walk — no data file
    * is touched to resolve the version.
    */
  def versionAsOf(spark: SparkSession, root: String, asOfMillis: Long): Long = {
    val fs = hfs(spark, root)
    val eligible = versions(fs, root).filter { v =>
      val (m, ts) = manifestFile(fs, root, v)
      ts <= asOfMillis &&
        liveOf(spark, m) // txn slots resolve as-of only once committed
    }
    require(eligible.nonEmpty,
      s"no version of $root had been published at epoch-millis $asOfMillis")
    eligible.max
  }

  /** [[read]] pinned to the snapshot live at `asOfMillis` — "the table as
    * the 09:00 report saw it", without the caller tracking version numbers.
    */
  def readAsOf(spark: SparkSession, root: String, asOfMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, asOfMillis)))

  /** Add any columns of `target` missing from `cur` as typed NULLs —
    * the read-side half of additive schema evolution (files written
    * before the widening simply lack the column; parquet name-matching
    * yields NULL for them, so old data never needs rewriting).
    */
  private def widen(cur: DataFrame, target: StructType): DataFrame = {
    val have = cur.columns.toSet
    target.fields.filterNot(f => have(f.name)).foldLeft(cur)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Upsert `source` (last-writer-wins on the table keys, ties broken by
    * `orderCol` then a full-row hash — see [[Merge.upsert]]). Only the
    * buckets containing source keys are read and rewritten; everything
    * else is carried into the new manifest untouched.
    *
    * Additive schema evolution: `source` may carry NEW columns (existing
    * columns must keep their exact types, and every table column must be
    * present). The published manifest's schema widens; files from before
    * the widening are never rewritten — readers fill the missing columns
    * with NULL by parquet name-matching.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      orderCol: Option[String] = None): Long =
    mergeTagged(spark, root, source, orderCol, None)

  /** [[merge]] with an optional transaction tag ([[LakeTxn]]): the
    * published manifest carries `txn` and stays invisible until the
    * transaction's outcome file records commit.
    */
  private[graft] def mergeTagged(spark: SparkSession, root: String,
      source: DataFrame, orderCol: Option[String],
      txnTag: Option[String], hint: Option[TouchedHint] = None): Long = {
    val m = headFor(spark, root, txnTag)
    val curSchema = StructType.fromDDL(m.schemaDdl)
    source.schema.fields.foreach { f =>
      curSchema.find(_.name == f.name).foreach(c =>
        require(c.dataType == f.dataType,
          s"column ${f.name}: table has ${c.dataType}, source has ${f.dataType}"))
    }
    curSchema.fieldNames.foreach(n =>
      require(source.columns.contains(n),
        s"source is missing table column $n (partial-column upserts would " +
          "silently null existing values; project the full row instead)"))
    rewriteTouched(spark, root, source,
      (cur, src) => Merge.upsert(widen(cur, source.schema), src, m.keys, orderCol),
      txnTag = txnTag, hint = hint)
  }

  /** Head resolution that also sees a transaction's OWN staged versions
    * (`selfTxn`) — plain [[manifest]] otherwise.
    */
  private def headFor(spark: SparkSession, root: String,
      selfTxn: Option[String]): Manifest =
    if (selfTxn.isEmpty) manifest(spark, root)
    else {
      val fs = hfs(spark, root)
      val vs = versions(fs, root)
      require(vs.nonEmpty, s"no LakeTable at $root")
      liveHeadIn(spark, root, vs, selfTxn)
    }

  /** Delete every row whose key appears in `keysToDelete` (extra columns
    * ignored). Same touched-bucket copy-on-write as [[merge]].
    */
  def delete(spark: SparkSession, root: String, keysToDelete: DataFrame): Long = {
    val keys = manifest(spark, root).keys
    rewriteTouched(spark, root, keysToDelete.select(keys.map(col): _*),
      (cur, del) => keyMembershipJoin(cur, del, keys, "left_anti",
        bcast = false))
  }

  /** One-pass keyed-aggregate delta fold — the materialized-view commit
    * primitive. Reads the buckets `delta`'s keys hash to ONCE, hands
    * (bucket content, delta) to `fold`, and publishes fold's output as
    * those buckets' new content in the same claim-disciplined commit as
    * [[applyChanges]]. A view refresh that used lookup → full-outer
    * merge → checkpoint → applyChanges paid TWO reads of the touched
    * view buckets and two upsert-shaped joins for one state change; here
    * the fold (full-outer arithmetic + `cnt > 0` liveness filter —
    * dropping a dead group IS its deletion, the bucket is being
    * rewritten) runs inside the single copy-on-write pass. `baseVersion`
    * pins the snapshot and makes a lost race a [[CommitRaceException]]
    * for the caller's re-base loop, exactly like applyChanges.
    */
  def foldGroupedDelta(spark: SparkSession, root: String, delta: DataFrame,
      baseVersion: Option[Long] = None)(
      fold: (DataFrame, DataFrame) => DataFrame): Long =
    rewriteTouched(spark, root, delta, fold, baseVersion)

  /** Upsert + delete in ONE published version (one commit point — a
    * crash leaves either the old table or the fully-applied one, never
    * the half state two separate calls would expose). `baseVersion` pins
    * the snapshot read (see [[rewriteTouched]]); a key in both inputs is
    * deleted.
    */
  def applyChanges(spark: SparkSession, root: String, upserts: DataFrame,
      deleteKeys: DataFrame, baseVersion: Option[Long] = None,
      orderCol: Option[String] = None): Long =
    applyChangesHinted(spark, root, upserts, deleteKeys, baseVersion,
      orderCol, None)

  /** [[applyChanges]] with a precomputed [[TouchedHint]] — the caller
    * already knows the buckets the change keys hash to (it probed them to
    * read the current state), so the commit's own probe job is skipped.
    */
  private[graft] def applyChangesHinted(spark: SparkSession, root: String,
      upserts: DataFrame, deleteKeys: DataFrame, baseVersion: Option[Long],
      orderCol: Option[String], hint: Option[TouchedHint]): Long = {
    val keys = manifest(spark, root, baseVersion).keys
    val touch = upserts.select(keys.map(col): _*)
      .unionByName(deleteKeys.select(keys.map(col): _*))
    rewriteTouched(spark, root, touch, (cur, _) =>
      keyMembershipJoin(Merge.upsert(cur, upserts, keys, orderCol),
        deleteKeys.select(keys.map(col): _*), keys, "left_anti",
        bcast = false),
      baseVersion, hint = hint)
  }

  /** Copy-on-write over the touched bucket set. `baseVersion` pins the
    * snapshot the rewrite READS (default: newest) — [[MaterializedView]]
    * uses this to re-apply a crashed refresh on the exact snapshot its
    * sync marker names, making the refresh idempotent; the PUBLISHED
    * version is always head+1 so a crash-orphaned version can never be
    * overwritten.
    *
    * Concurrency: ONE `_versions` listing decides both the head the
    * attempt merges against (unpinned) and the version it claims —
    * head+1 OF THAT LISTING — so a commit landing at any point after the
    * listing collides at [[publish]] and surfaces as a race; it can
    * never be silently dropped from the next manifest's file list (the
    * Delta/Iceberg claim discipline). Unpinned writers that lose re-run
    * the WHOLE attempt against the winner's head (fresh listing, fresh
    * merge, fresh data files), so interleaved writers all land. PINNED
    * writers must NOT retry here: their file list derives from the
    * pinned base, so re-running after a loss would rebuild from a stale
    * file set and drop the winner's delta — they throw the race to the
    * caller, who re-bases ([[MaterializedView.refresh]] re-reads its
    * sync marker and re-runs the whole refresh) or gives up. Either
    * way the loser's data files become crash-orphans for [[vacuum]].
    */
  private[sinks] def rewriteTouched(spark: SparkSession, root: String,
      source: DataFrame, apply: (DataFrame, DataFrame) => DataFrame,
      baseVersion: Option[Long] = None,
      txnTag: Option[String] = None,
      hint: Option[TouchedHint] = None): Long =
      withCommitRetries(if (baseVersion.isDefined) 1 else 5) { () =>
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no LakeTable at $root")
    val latest = vs.max
    val m = baseVersion.map(v => manifest(spark, root, Some(v)))
      .getOrElse(liveHeadIn(spark, root, vs, txnTag))
    // bounded driver collect: at most numBuckets ints. A caller-supplied
    // hint (computed in an action the caller already ran — see
    // [[TouchedHint]]) skips the probe iff it was derived under this
    // manifest's exact layout.
    val touched = hint match {
      case Some(h) if h.matches(m) => h.buckets
      case _ => graft.JobLabel(spark,
          s"lake:touched ${new Path(root).getName}") {
        touchedBuckets(source, m.keys, m.numBuckets)
      }
    }
    // hot side only: resolve JUST the refs covering the touched buckets —
    // the cold live-file list is never materialized (at 10⁷ files that
    // was the last O(live files) driver step per commit). A rewritten
    // bucket folds its deletion vectors in (the rows are gone from the
    // fresh files, so the vectors retire with the rewrite)
    val cur = bucketRead(spark, root, m, touched)
    val merged = apply(cur, source)
    val fresh = writeFiles(spark, root, merged, m.keys, m.numBuckets,
      m.sortCols, m.maxRecordsPerFile)
    // schema follows the rewrite (additive widening under merge); cold
    // files predating a widening read back with NULLs by name-matching
    val next = commitDelta(spark, root,
      m.copy(version = latest + 1, schemaDdl = merged.schema.toDDL,
        dvFiles = m.dvFiles.filterNot { case (_, b) => touched(b) },
        txn = txnTag),
      replaced = touched, fresh = fresh, waitTxn = true, selfTxn = txnTag)
    // commit-time change feed (opt-in): `apply` mutates only source-keyed
    // rows (upsert/delete/fold all guarantee it), so the step diff is the
    // pre/post bucket content restricted to the delivery's keys
    if (m.cdfRecord)
      publishCdf(spark, root, next, cur, fresh.map(_.path), source, m.keys)
    next.version
  }

  /** Merge-on-read delete: write `keysToDelete` as bucketed deletion
    * vectors and publish — O(|keys|) regardless of table size, no data
    * file is read or rewritten (the copy-on-write [[delete]] pays a
    * bucket rewrite; this defers that cost to reads until a rewrite or
    * [[compactDeletes]] folds the vectors). Deleting an absent key is a
    * no-op at read time.
    */
  def deleteMor(spark: SparkSession, root: String,
      keysToDelete: DataFrame): Long =
    deleteMorTagged(spark, root, keysToDelete, None)

  /** [[deleteMor]] with an optional transaction tag ([[LakeTxn]]). */
  private[graft] def deleteMorTagged(spark: SparkSession, root: String,
      keysToDelete: DataFrame,
      txnTag: Option[String]): Long = withCommitRetries() { () =>
    val fs = hfs(spark, root)
    val (m, slot) = writeHead(spark, root, txnTag)
    val keys = keysToDelete.select(m.keys.map(col): _*).dropDuplicates(m.keys)
    val fresh = writeFiles(spark, root, keys, m.keys, m.numBuckets)
    // deletion vectors ride the manifest, not segments: data files (and
    // every ref) carry verbatim — an O(|keys|) metadata-plus-vectors commit
    val next = commitMetadataOnly(spark, root,
      m.copy(version = slot, dvFiles = m.dvFiles ++ fresh.map(f => (f.path, f.bucket)),
        txn = txnTag),
      waitTxn = true, selfTxn = txnTag)
    next.version
  }

  /** Fold every outstanding deletion vector into its bucket's data files
    * (one copy-on-write pass over ONLY the dv'd buckets) — the compaction
    * that bounds read-side anti-join work on a long merge-on-read run.
    */
  def compactDeletes(spark: SparkSession, root: String): Long =
    withCommitRetries() { () =>
      val fs = hfs(spark, root)
      val (m, slot) = writeHead(spark, root)
      if (m.dvFiles.isEmpty) m.version
      else {
        val dvB = m.dvFiles.map(_._2).toSet
        val cur = bucketRead(spark, root, m, dvB)
        val (mk, zExprs) = zSortIfMarked(spark, root, m)
        val fresh = writeFiles(spark, root, cur, m.keys, m.numBuckets,
          m.sortCols, m.maxRecordsPerFile, sortExprs = zExprs)
        val next = commitDelta(spark, root, m.copy(version = slot,
          txn = None, dvFiles = Nil), replaced = dvB, fresh = fresh,
          zGen = zGenOf(mk))
        carryZMarker(spark, root, mk, next, fresh.map(_.path))
        if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }

  // ---- change data feed ------------------------------------------------

  /** Classify a keyed full-outer pre/post comparison into the Delta-CDF
    * vocabulary. `joined` carries `__pre`/`__post` row structs (NULL =
    * absent on that side); unchanged rows (null-safe struct equality)
    * emit nothing. Shared by the snapshot diff, commit-time recording,
    * and recorded-span netting — one classification, three producers.
    */
  private def explodeDiff(joined: DataFrame): DataFrame = {
    val changed = col("__pre").isNotNull && col("__post").isNotNull &&
      !(col("__pre") <=> col("__post"))
    val entries = array(
      when(col("__pre").isNull && col("__post").isNotNull,
        struct(lit("insert").alias("t"), col("__post").alias("r"))),
      when(col("__post").isNull && col("__pre").isNotNull,
        struct(lit("delete").alias("t"), col("__pre").alias("r"))),
      when(changed,
        struct(lit("update_preimage").alias("t"), col("__pre").alias("r"))),
      when(changed,
        struct(lit("update_postimage").alias("t"), col("__post").alias("r"))))
    joined.select(explode(filter(entries, e => e.isNotNull)).alias("__e"))
      .select(col("__e.r.*"), col("__e.t").alias("_change_type"))
  }

  // ---- commit-time recorded change feed (`_cdf/`) ----------------------
  // Per-version marker `_cdf/<v>.json` listing the step's feed parquet
  // files (empty list = recorded-empty: maintenance rewrites). Written
  // AFTER the manifest claim like every sidecar — a race loser never
  // writes one, and a crash between the two leaves a missing marker,
  // which only degrades that span to the snapshot diff. [[deleteMor]]
  // and [[restore]] record nothing by design: deriving their row images
  // would cost the bucket reads the operations exist to avoid.

  private[graft] def renderCdfMarker(paths: Seq[String]): String =
    s"""{"files":[${paths.map(jq).mkString(",")}]}"""

  private def writeCdfMarker(spark: SparkSession, root: String,
      version: Long, paths: Seq[String]): Unit =
    MetaFile.write(hfs(spark, root), new Path(root, s"_cdf/$version.json"),
      renderCdfMarker(paths))

  private[graft] def readCdfMarker(spark: SparkSession, root: String,
      version: Long): Option[Seq[String]] = {
    val fs = hfs(spark, root)
    val p = new Path(root, s"_cdf/$version.json")
    if (!fs.exists(p)) None
    else Some(MetaFile.strSeq(MetaFile.read(fs, p), "files"))
  }

  /** Record a copy-on-write commit's row diff: pre/post bucket content
    * restricted to the DELIVERY's keys (valid because every rewrite path
    * only mutates source-keyed rows — [[rewriteTouched]]'s `apply`
    * contract), classified and written delivery-sized under `_cdf/`.
    * The post side reads BACK the freshly written files, so nothing is
    * recomputed; the pre side re-reads the hot files the rewrite already
    * read — one extra bounded pass, paid only by `cdfRecord` tables.
    */
  private def publishCdf(spark: SparkSession, root: String, next: Manifest,
      pre: DataFrame, freshPaths: Seq[String], source: DataFrame,
      keys: Seq[String]): Unit = {
    val schema = StructType.fromDDL(next.schemaDdl)
    val cols = schema.fieldNames.toSeq
    val srcKeys = source.select(keys.map(col): _*).dropDuplicates(keys)
    def restrict(d: DataFrame) =
      keyMembershipJoin(d, srcKeys, keys, "left_semi", bcast = true)
    def side(d: DataFrame, alias: String) = {
      // the pre side may predate an additive widening: surface missing
      // columns as NULL under the TO schema, like the snapshot diff does
      val w = restrict(d).select(cols.map(c =>
        if (d.columns.contains(c)) col(c)
        else lit(null).cast(schema(c).dataType).alias(c)): _*)
      w.select(keys.map(col) :+ struct(cols.map(col): _*).alias(alias): _*)
    }
    val post = pathRead(spark, root, next, freshPaths)
    val feed = explodeDiff(nullSafeKeyJoin(
      side(pre, "__pre"), side(post, "__post"), keys, "full_outer")
      .select(col("__pre"), col("__post")))
    val dir = s"_cdf/data/${java.util.UUID.randomUUID}"
    // the feed is delivery-sized; don't let the shuffle partitioning
    // scatter it into 32 near-empty files (file count scales with the
    // rewrite's width, bounded — a delivery-sized diff lands in a few)
    graft.JobLabel(spark, s"lake:cdf ${new Path(root).getName}") {
      feed.coalesce(math.min(8, math.max(1, freshPaths.size / 4)))
        .write.parquet(s"$root/$dir")
    }
    val fs = hfs(spark, root)
    val parts = fs.listStatus(new Path(root, dir))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"$dir/$n").toSeq
    writeCdfMarker(spark, root, next.version, parts)
  }

  /** Which path the last [[changes]] call served: Some(true) = recorded
    * feeds, Some(false) = snapshot diff. Test pin; not public API. */
  private[graft] var lastChangesRecorded: Option[Boolean] = None

  /** Serve a span from recorded per-step feeds. One step passes through
    * verbatim (a step feed IS that step's exact diff). Multiple steps NET
    * per key — the span's pre-image is the key's EARLIEST recorded
    * pre-state (absent if its first touch was an insert), the post-image
    * its LATEST post-state (absent if its last touch was a delete), and
    * [[explodeDiff]] then classifies exactly like the snapshot diff,
    * cancelling intermediate churn (insert→delete nets to nothing,
    * re-merged identical rows net to nothing). All plan-side: a grouped
    * min_by/max_by over delivery-sized feed rows; presence rides an
    * explicit flag so a NULL pre/post (insert/delete) survives the
    * aggregation. Pre-widening step feeds union in by name with NULLs;
    * each reads under its step manifest's schema plus `_change_type`.
    */
  private def recordedFeed(spark: SparkSession, root: String,
      steps: Seq[(Manifest, Seq[String])], toSchema: StructType,
      keys: Seq[String]): DataFrame = {
    val cols = toSchema.fieldNames.toSeq
    def empty: DataFrame = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      toSchema.add("_change_type", "string"))
    def project(d: DataFrame): DataFrame =
      d.select(cols.map(c =>
        if (d.columns.contains(c)) col(c).cast(toSchema(c).dataType)
        else lit(null).cast(toSchema(c).dataType).alias(c)) :+
        col("_change_type"): _*)
    val frames = steps.collect { case (step, paths) if paths.nonEmpty =>
      (step.version, pathRead(spark, root, step, paths, Some(
        StructType.fromDDL(step.schemaDdl).add("_change_type", "string"))))
    }
    frames match {
      case Seq() => empty
      case Seq((_, one)) => project(one)
      case many =>
        val all = many.map { case (v, d) =>
          project(d).withColumn("__v", lit(v)) }
          .reduce(_ unionByName _)
        val rowS = struct(cols.map(col): _*)
        val perStep = all
          .groupBy((keys.map(col) :+ col("__v")): _*)
          .agg(
            first(when(col("_change_type")
              .isin("delete", "update_preimage"), rowS),
              ignoreNulls = true).alias("__pre0"),
            first(when(col("_change_type")
              .isin("insert", "update_postimage"), rowS),
              ignoreNulls = true).alias("__post0"))
          .select((keys.map(col) :+ col("__v") :+
            struct(col("__pre0").isNotNull.alias("p"),
              col("__pre0").alias("r")).alias("__preW") :+
            struct(col("__post0").isNotNull.alias("p"),
              col("__post0").alias("r")).alias("__postW")): _*)
        val net = perStep
          .groupBy(keys.map(col): _*)
          .agg(min_by(col("__preW"), col("__v")).alias("__preW"),
            max_by(col("__postW"), col("__v")).alias("__postW"))
          .select(when(col("__preW.p"), col("__preW.r")).alias("__pre"),
            when(col("__postW.p"), col("__postW.r")).alias("__post"))
        explodeDiff(net)
    }
  }

  /** Buckets whose live file SETS differ between the two manifests — data
    * files are immutable and shared across versions, so an identical file
    * set proves bit-identical bucket content with no read at all.
    *
    * Decided from REF-LEVEL signatures alone: a bucket's live file set is
    * fully determined by the (segment path, dead list) of the refs
    * covering it — segments are immutable, so identical covering refs
    * prove identical content with NO segment resolved (the diff of a
    * delivery against a 10⁷-file table reads zero segment files to find
    * its touched buckets). A ref whose dead list moved for ANOTHER
    * bucket's retirement marks this bucket changed too — a conservative
    * superset (one extra bucket read in the diff), never a missed
    * change. Legacy manifests (inline list) compare by path; mixed forms
    * compare incomparably and conservatively mark everything changed.
    */
  private[graft] def changedBuckets(from: Manifest, to: Manifest): Set[Int] = {
    def byBucket(m: Manifest): Map[Int, Set[String]] = {
      val content: Seq[(String, Int)] =
        if (m.filesEager != null) m.filesEager.map { case (p, b) => (p, b) }
        else m.segments.flatMap(r =>
          r.buckets.map(b => (s"${r.path}#${r.dead.mkString(",")}", b)))
      (content ++ m.dvFiles.map { case (p, b) => (p + "#dv", b) })
        .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    }
    val f = byBucket(from); val t = byBucket(to)
    (f.keySet ++ t.keySet)
      .filter(b => f.getOrElse(b, Set.empty) != t.getOrElse(b, Set.empty))
  }

  /** Row-level change data feed between two versions: every table column
    * plus `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} (the Delta-CDF vocabulary) and the version pair.
    * Net-effect semantics: intermediate churn between the versions that
    * cancels out emits nothing.
    *
    * Scale shape: only buckets whose file sets differ are READ — the diff
    * of a 100-row delivery against a 100 TB table costs O(touched
    * buckets), not O(table); within them, one key-equi full-outer join of
    * the two snapshots, classification by null-safe struct equality, all
    * codegen. This feed is what makes downstream consumers incremental
    * ([[MaterializedView.refresh]] is the in-repo consumer).
    *
    * A [[rebucket]] inside the span makes bucket ids incomparable between
    * the two manifests, so the bucket-set pruning degrades to a FULL value
    * diff of both snapshots — still the correct net feed (rebucket itself
    * is content-preserving and nets to zero rows), at O(both snapshots)
    * cost for that one span. The KEY layout must match: a key change has
    * no sound feed.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val mf = manifest(spark, root, Some(fromVersion))
    val mt = manifest(spark, root, Some(toVersion))
    require(mf.keys == mt.keys,
      s"key layout changed between $fromVersion and $toVersion")
    val toSchema = StructType.fromDDL(mt.schemaDdl)
    // additive evolution is fine (the FROM side reads widened with NULLs);
    // anything else — dropped or retyped columns — has no sound feed
    StructType.fromDDL(mf.schemaDdl).fields.foreach(f =>
      require(toSchema.find(_.name == f.name).exists(_.dataType == f.dataType),
        s"column ${f.name} dropped or retyped between $fromVersion and " +
          s"$toVersion; changes() supports additive evolution only"))
    val cols = toSchema.fieldNames.toSeq
    // fast path: every step in the span carries a commit-time recorded
    // feed — serve from the delivery-sized feed files alone, no snapshot
    // is read (see [[Manifest.cdfRecord]]); any unrecorded step (an old
    // version, a deleteMor, a restore, a crash-lost marker) falls back.
    // COST GATE for multi-step spans: netting aggregates the feed rows,
    // so it only undercuts the snapshot diff when the summed feed bytes
    // undercut the two snapshot sides (sizes from segments and one
    // listing per feed directory —
    // a span of table-scale scattered deliveries carries MORE feed than
    // table and the diff is cheaper; a span of delivery-sized steps is
    // the recorded path's whole point). A single recorded step IS the
    // diff and always serves directly. Both paths are value-identical
    // (CdfRecordedSpec twin-checks), so the choice is purely cost.
    val recorded: Option[Seq[(Manifest, Seq[String])]] = {
      // DEAD transaction slots inside the span contributed nothing to the
      // live chain — exclude them (their feeds, if any were recorded
      // before the abort, describe content that never became visible)
      val span = ((fromVersion + 1) to toVersion)
        .flatMap(v => scala.util.Try(manifestAt(spark, root, v)).toOption
          .filter(liveOf(spark, _))) // missing slot = vacuumed abort
        .map(m => m -> readCdfMarker(spark, root, m.version))
      if (span.nonEmpty && span.forall(_._2.isDefined))
        Some(span.map { case (m, p) => (m, p.get) })
      else None
    }
    val hot: Int => Boolean =
      if (mf.numBuckets == mt.numBuckets) changedBuckets(mf, mt)
      else _ => true // rebucket in the span: full value diff (see doc)
    val serveRecorded = recorded.exists { steps =>
      steps.count(_._2.nonEmpty) <= 1 || {
        val feedBytes = listedPart(spark, root,
          steps.flatMap(_._2).map(_ -> -1)).entries.map(_.bytes).sum
        val snapBytes = Seq(mf, mt).flatMap(segmentParts(spark, root, _,
          Some(hot)).flatMap(_.entries)).map(_.bytes max 0L).sum
        feedBytes <= snapBytes
      }
    }
    lastChangesRecorded = if (fromVersion == toVersion) None
      else Some(serveRecorded)
    val body = if (serveRecorded)
        recordedFeed(spark, root, recorded.get, toSchema, mt.keys)
      else {
        def side(m: Manifest, alias: String): DataFrame = {
          // both sides read with the TO schema: pre-widening files surface
          // the new columns as NULL, exactly what their snapshot
          // contained; each side subtracts ITS OWN deletion vectors (hot
          // buckets only)
          val df = bucketRead(spark, root, m, hot, Some(toSchema))
          df.select(m.keys.map(col) :+
            struct(cols.map(col): _*).alias(alias): _*)
        }
        // NULL-safe on the keys: a NULL key is one row on both sides and
        // must classify as update/unchanged, never a phantom delete+insert
        explodeDiff(nullSafeKeyJoin(side(mf, "__pre"), side(mt, "__post"),
          mt.keys, "full_outer").select(col("__pre"), col("__post")))
    }
    body
      .withColumn("_from_version", lit(fromVersion))
      .withColumn("_to_version", lit(toVersion))
  }

  // ---- pruned reads ----------------------------------------------------

  /** Point lookup: read ONLY the buckets the probe keys hash to, then
    * keep the rows whose key tuple is a probe's (NULL-safe: a NULL key
    * part matches a NULL key part). For k probe keys against a 100 TB
    * table this opens ≤ k buckets' files.
    *
    * Probe keys are up-cast to the table's key types (`int` on a
    * `bigint` key); a probe key that does not up-cast is refused.
    * A driver-resident probe (its optimized plan is a `LocalRelation`: a
    * `Seq(...).toDF`, a client's point read) is resolved on the driver: its bucket ids fold without a
    * job and its distinct key tuples become one `InSet` filter over the
    * key struct, so the whole read is ONE job (the scan). Any other probe
    * costs a bucket-id probe and a deduplicated broadcast semi-join on
    * top of the scan.
    */
  def lookup(spark: SparkSession, root: String, probes: DataFrame,
      version: Option[Long] = None): DataFrame =
    lookupHinted(spark, root, probes, version, None)

  /** [[lookup]] with a precomputed [[TouchedHint]]: a caller that already
    * aggregated the probe keys' bucket ids (e.g. a view refresh sharing
    * one probe between its read and its write) skips the collect here.
    */
  private[graft] def lookupHinted(spark: SparkSession, root: String,
      probes: DataFrame, version: Option[Long],
      hint: Option[TouchedHint]): DataFrame = {
    val m = manifest(spark, root, version)
    // bucket ids hash the key VALUES under their types, and the InSet
    // compares the table's key struct: every probe key takes the table's
    // key type first (an int probe on a bigint key up-casts losslessly;
    // anything narrowing is refused rather than silently misrouted)
    val schema = StructType.fromDDL(m.schemaDdl)
    val raw = probes.select(m.keys.map(col): _*)
    val keyed = raw.select(m.keys.zip(raw.schema).map { case (k, f) =>
      val to = schema(k).dataType
      require(Cast.canUpCast(f.dataType, to),
        s"lookup probe key $k is ${f.dataType.sql}, the table's is ${to.sql}")
      if (f.dataType == to) col(k) else col(k).cast(to).alias(k)
    }: _*)
    val local = localRows(keyed)
    val p = if (local.isDefined) keyed else keyed.dropDuplicates(m.keys)
    val touched = hint match {
      case Some(h) if h.matches(m) => h.buckets
      case _ => touchedBuckets(p, m.keys, m.numBuckets)
    }
    val live = bucketRead(spark, root, m, touched)
    local match {
      case Some(rows) =>
        // InSet on a struct compares under the interpreted ordering, whose
        // field equality treats NULL = NULL — the struct join's semantics
        live.filter(GraftSqlBridge.column(InSet(
          GraftSqlBridge.expression(struct(m.keys.map(col): _*)),
          rows.toSet)))
      case None =>
        keyMembershipJoin(live, p, m.keys, "left_semi", bcast = true)
    }
  }

  /** Compare two sidecar-stringified stat values in the COLUMN's own
    * ordering — the ordering [[computeStats]]' min/max were taken under.
    * Numeric columns compare numerically (double parse is monotonic over
    * the stringified values, so a collapse at extreme magnitudes can only
    * weaken a strict inequality into equality — conservative keep, never
    * a wrong prune); every other type compares as the string form, which
    * IS the native ordering for strings and matches it for ISO-rendered
    * dates/timestamps and booleans. Parsing "whenever both parse" was
    * wrong for STRING columns holding digit strings: a file with values
    * {"2","10"} records min="10"/max="2" under STRING ordering, and a
    * numeric 10>2 read of that zone dropped files that contain the probe
    * — wrong rows out of a pruned scan, not just scan width.
    */
  private def statCmp(dt: DataType, a: String, b: String): Int = dt match {
    case _: NumericType =>
      (a.toDoubleOption, b.toDoubleOption) match {
        case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
        case _ => a.compareTo(b)
      }
    case _ => a.compareTo(b)
  }

  // ---- plan-time sidecar pruning: the FileIndex-backed declarative scan

  /** (files listed, live files) of the last [[scan]] listing this JVM
    * ran with a data filter the sidecars could judge — spec pin for the
    * plan-time pruning contract; not part of the public API.
    */
  private[graft] var lastIndexScan: Option[(Int, Int)] = None

  /** (segments kept, total segments) of the same listing — spec pin for
    * the manifest-level (ref summary) dismissal; not part of the public
    * API.
    */
  private[graft] var lastIndexSegments: Option[(Int, Int)] = None

  /** How far a TIMESTAMP literal is widened before it meets a zone. A
    * zone holds its values rendered under the session zone of the
    * COMMIT; the reader's zone may differ. Two zones' wall clocks differ
    * by at most 26 h (UTC+14 against UTC-12), plus an hour of DST, so a
    * 2-day widening keeps every file that can hold the value: a zone
    * change between commit and read may keep an extra file, never drop
    * a row.
    */
  private val TimestampSlackMicros = 2L * 24 * 3600 * 1000 * 1000

  /** Above this many values an equality probe skips the bloom veto: a
    * bloom has no sorted structure to search, so the veto costs O(V) per
    * file that survives the zones. Skipping keeps a superset, never
    * drops a file; zone checks have no cap (O(log V) per zone).
    */
  private val BloomProbeCap = 10000

  /** "Does any of these closed intervals meet `[mn, mx]`?" for one
    * column's stat ordering ([[statCmp]]), with the intervals sorted
    * ONCE: a binary search finds the last interval starting at or below
    * `mx`, and a prefix maximum of the interval ends answers whether any
    * of those ends at or above `mn`. O(log V) per zone, where an exists
    * scan costs O(V): the difference between a 10⁵-key probe pruning a
    * 10⁵-file table in milliseconds and an O(V·E) driver stall. Numeric
    * columns search the parsed doubles (statCmp's numeric compare); a
    * bound that does not parse keeps. Every other type searches the
    * strings.
    */
  private def intervalProbe(dt: DataType,
      ivs: Seq[(String, String)]): (String, String) => Boolean = {
    def sorted[K: scala.reflect.ClassTag](xs: Seq[(K, K)],
        key: String => Option[K])(implicit ord: Ordering[K]) = {
      val s = xs.sortBy(_._1).toArray
      val los = s.map(_._1)
      val maxHis = s.map(_._2)
      for (i <- 1 until maxHis.length)
        maxHis(i) = ord.max(maxHis(i), maxHis(i - 1))
      (mn: String, mx: String) => (key(mn), key(mx)) match {
        case (Some(a), Some(b)) =>
          var lo = 0; var hi = los.length
          while (lo < hi) { // first index whose interval starts above b
            val mid = (lo + hi) >>> 1
            if (ord.lteq(los(mid), b)) lo = mid + 1 else hi = mid
          }
          lo > 0 && ord.gteq(maxHis(lo - 1), a)
        case _ => true
      }
    }
    dt match {
      case _: NumericType =>
        val parsed = ivs.map { case (a, b) => (a.toDoubleOption, b.toDoubleOption) }
        if (parsed.exists { case (a, b) => a.isEmpty || b.isEmpty }) (_, _) => true
        else sorted(parsed.map { case (a, b) => (a.get, b.get) },
          _.toDoubleOption)(implicitly, Ordering.Double.TotalOrdering)
      case _ => sorted(ivs, Some(_))
    }
  }

  /** One prunable unit of a [[SidecarFileIndex]]: zone summary (empty =
    * none), file count, byte total (-1 = sum the entries) and the live
    * entries, loaded only when a listing reaches the part. `size` falls
    * back to `len` for an entry with no recorded bytes.
    */
  private final class IndexPart(val summaryMins: Seq[Option[String]],
      val summaryMaxs: Seq[Option[String]], val count: Int,
      bytes: Long, loader: () => Seq[SegEntry]) {
    lazy val entries: Seq[SegEntry] = loader()
    def size(len: SegEntry => Long): Long = if (bytes >= 0) bytes
      else entries.map(e => if (e.bytes >= 0) e.bytes else len(e)).sum
  }

  /** `m`'s live files, one part per segment ref. Confined to `buckets`,
    * only the refs covering one resolve — O(touched refs) — each cut to
    * its entries there, so it sizes as those entries, not the ref total.
    * A legacy manifest (inline file list) is one [[listedPart]].
    */
  private def segmentParts(spark: SparkSession, root: String, m: Manifest,
      buckets: Option[Int => Boolean]): Seq[IndexPart] = {
    def payloads(r: SegmentRef): Seq[SegEntry] = {
      val seg = loadSegment(spark, root, r.path)
      val es = liveEntries(r, seg)
      if (seg.statsCols == m.statsCols && seg.bloomCols == m.bloomCols) es
      else es.map(_.copy(mins = IndexedSeq.empty,
        maxs = IndexedSeq.empty, blooms = IndexedSeq.empty))
    }
    if (m.segments.isEmpty && m.filesEager != null)
      Seq(listedPart(spark, root, buckets.fold(m.filesEager)(in =>
        m.filesEager.filter(f => in(f._2)))))
    else buckets match {
      case None => m.segments.map(r =>
        new IndexPart(r.mins, r.maxs, r.files, r.bytes, () => payloads(r)))
      case Some(in) => m.segments.filter(_.buckets.exists(in)).map { r =>
        val es = payloads(r).filter(e => in(e.bucket))
        new IndexPart(r.mins, r.maxs, es.size, -1L, () => es)
      }
    }
  }

  /** `paths` as one summary-less part of payload-less entries (rows -1:
    * every verdict keeps them) sized by ONE listing per parent directory
    * — a status call only for a file its directory's listing missed.
    */
  private def listedPart(spark: SparkSession, root: String,
      paths: Seq[(String, Int)]): IndexPart =
    new IndexPart(Nil, Nil, paths.size, -1L, () => {
      val conf = spark.sparkContext.hadoopConfiguration
      val lens: Map[Path, Long] = paths.map(f => new Path(root, f._1))
        .map(_.getParent).distinct.iterator.flatMap { d =>
          d.getFileSystem(conf).listStatus(d).iterator
            .map(st => st.getPath -> st.getLen)
        }.toMap
      paths.map { f =>
        val p0 = new Path(root, f._1)
        val fsys = p0.getFileSystem(conf)
        bareEntry(f, lens.getOrElse(fsys.makeQualified(p0),
          fsys.getFileStatus(p0).getLen))
      }
    })

  /** A payload-less entry (rows -1) for `f`, `bytes` long (-1: unknown). */
  private def bareEntry(f: (String, Int), bytes: Long = -1L): SegEntry = {
    val none = IndexedSeq.empty[Option[String]]
    SegEntry(f._1, f._2, -1L, bytes, none, none, none, none)
  }

  /** THE lake file relation: `parts` read as parquet under `schema`
    * (nullable, like every file read) through a [[SidecarFileIndex]] —
    * nothing listed or inferred at plan time. Only a `snapshot` (the
    * whole version [[scan]] reads) carries the tags
    * [[graft.plans.LakeMetadataAggs]] answers from and writes the
    * [[lastIndexScan]] pins: a subset must never get a table-wide
    * COUNT/MIN/MAX.
    */
  private def fileRelation(spark: SparkSession, root: String, m: Manifest,
      schema: StructType, parts: Seq[IndexPart],
      snapshot: Boolean): DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new SidecarFileIndex(spark, root, m, schema, parts, snapshot),
      new StructType(), GraftSqlBridge.asNullable(schema), None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      if (!snapshot) Map.empty
      else Map("graft.lake.root" -> root,
        "graft.lake.version" -> m.version.toString))(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)
  }

  /** `m`'s live rows in `buckets`, their deletion vectors applied: a
    * rewrite's hot side, [[lookup]], and each snapshot-diff [[changes]]
    * side (under the span's TO `schema`).
    */
  private def bucketRead(spark: SparkSession, root: String, m: Manifest,
      buckets: Int => Boolean,
      schema: Option[StructType] = None): DataFrame =
    applyDv(spark, root, m,
      fileRelation(spark, root, m,
        schema.getOrElse(StructType.fromDDL(m.schemaDdl)),
        segmentParts(spark, root, m, Some(buckets)), snapshot = false),
      m.dvFiles.filter(f => buckets(f._2)))

  /** A fixed list of files (root-relative or absolute) under `schema`
    * (default: `m`'s): fresh commit files, a clone's foreign files, hot
    * z-order files, deletion vectors, recorded change feeds.
    */
  private def pathRead(spark: SparkSession, root: String, m: Manifest,
      paths: Seq[String], schema: Option[StructType] = None): DataFrame =
    fileRelation(spark, root, m,
      schema.getOrElse(StructType.fromDDL(m.schemaDdl)),
      Seq(listedPart(spark, root, paths.map(_ -> -1))), snapshot = false)

  /** The caller's `parts` as a Catalyst
    * [[org.apache.spark.sql.execution.datasources.FileIndex]] (the only
    * one [[fileRelation]] builds) whose `listFiles` answers the planner's
    * `dataFilters` from the zone-map and bloom sidecars — the Delta
    * `TahoeFileIndex` design point, original implementation, and the
    * ONLY code that decides sidecar pruning: ANY
    * predicate over [[scan]] — DataFrame `.filter`, SQL text over a temp
    * view, a conjunct Catalyst pushed through a join, the `InSet` of
    * [[dynamicPrunedScan]] — skips files without the caller knowing the
    * sidecars exist. Everything stays metadata-only: the verdicts read
    * the in-memory snapshot this index captured at construction; no
    * data file is opened to decide, and no Spark job runs at plan time
    * (bloom probes hash the literal with the same `xxhash64` expression
    * the build side used, evaluated driver-side). Each pushed conjunct is
    * compiled ONCE per listing: its literals are rendered, sorted and
    * hashed once, then judged against every segment summary and file.
    *
    * Exactness discipline (a wrong prune loses rows; a kept file only
    * costs a read):
    *   - Zone compares use [[statCmp]] — the ordering the sidecar's
    *     min/max were TAKEN under. Strict `<`/`>` keep on the widened
    *     non-strict bound: `statCmp`'s double parse may collapse values
    *     that differ beyond double precision, so `max > v` as a keep
    *     test could wrongly drop a file where `max = v` under collapse;
    *     `max >= v` can only over-keep.
    *   - Literals render through `CAST(x AS STRING)` (session zone) —
    *     exactly [[measureEntries]]' rendering. TIMESTAMP literals are
    *     widened by [[TimestampSlackMicros]] on each side first, because
    *     the commit may have rendered under another zone.
    *   - An all-NULL zone (`min`/`max` absent with the entry present)
    *     admits no comparison or `IS NOT NULL` match — those predicates
    *     prune the file EXACTLY, not conservatively.
    *   - A segment measured under other `statsCols`/`bloomCols` than the
    *     manifest's has misaligned payloads: its files keep.
    *   - Anything unrecognized — casts over the column, UDFs, columns
    *     without sidecars, `IS NULL` (zones carry no null counts) —
    *     keeps the file.
    */
  private final class SidecarFileIndex(spark: SparkSession, root: String,
      m: Manifest, schema: StructType, parts: Seq[IndexPart],
      snapshot: Boolean)
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.execution.datasources.PartitionDirectory

    private val colTypes: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    private val conf = spark.sparkContext.hadoopConfiguration
    private val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)

    /** FileStatus synthesized from segment metadata: the length is exact
      * (recorded when the file was committed), so NO filesystem RPC runs
      * at plan time — a 100k-file object-store table plans its scan
      * without a single LIST call (the pre-r12 index listed every parent
      * directory at construction).
      */
    private def statusOf(e: SegEntry): FileStatus = {
      val p0 = new Path(root, e.path)
      val fsys = p0.getFileSystem(conf)
      val p = fsys.makeQualified(p0)
      val len = if (e.bytes >= 0) e.bytes else fsys.getFileStatus(p).getLen
      new FileStatus(len, false, 1, 128L << 20, 0L, p)
    }

    // decoded bloom filters by (file, bloom position), decoded on first
    // probe — the index is an immutable snapshot, so caching is safe
    private val bloomCache = scala.collection.mutable.HashMap
      .empty[(String, Int), Option[org.apache.spark.util.sketch.BloomFilter]]
    private def bloomOf(e: SegEntry, bi: Int) = bloomCache.synchronized {
      bloomCache.getOrElseUpdate((e.path, bi),
        e.blooms.lift(bi).flatten.map(enc =>
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(b64(enc)))))
    }

    /** One pushed conjunct, compiled: `part` judges a whole segment from
      * its manifest zone summary (false = dismissed without its segment
      * file ever being parsed — the Iceberg manifest-list skip), `file`
      * judges one live entry. false = provably no row can match. A
      * conjunct no sidecar can judge compiles to the one [[Keep]], which
      * the combinators preserve.
      */
    private final class Verdict(val part: IndexPart => Boolean,
        val file: SegEntry => Boolean) {
      def &&(o: Verdict) =
        if (this eq Keep) o else if (o eq Keep) this
        else new Verdict(p => part(p) && o.part(p), e => file(e) && o.file(e))
      def ||(o: Verdict) =
        if ((this eq Keep) || (o eq Keep)) Keep
        else new Verdict(p => part(p) || o.part(p), e => file(e) || o.file(e))
    }
    private val Keep = new Verdict(_ => true, _ => true)
    private val Never = new Verdict(_ => false, _ => false)

    /** The `[lo, hi]` range of `CAST(l AS STRING)` renderings the commit
      * may have stored for literal `l`: one string for numeric, string,
      * date, TIMESTAMP_NTZ and boolean literals (no zone enters their
      * rendering), the [[TimestampSlackMicros]]-widened rendering for
      * TIMESTAMP ones. None = no zone verdict.
      */
    private def bounds(l: ce.Literal): Option[(String, String)] = {
      def str(x: ce.Literal) =
        Option(ce.Cast(x, StringType, tz).eval(null)).map(_.toString)
      (l.dataType, l.value) match {
        case (_, null) => None
        case (TimestampType, t: Long) if t > Long.MinValue +
            TimestampSlackMicros && t < Long.MaxValue - TimestampSlackMicros =>
          for {
            lo <- str(ce.Literal(t - TimestampSlackMicros, TimestampType))
            hi <- str(ce.Literal(t + TimestampSlackMicros, TimestampType))
          } yield (lo, hi)
        case (_: NumericType | StringType | DateType | TimestampNTZType |
            BooleanType, _) => str(l).map(v => (v, v))
        case _ => None
      }
    }

    /** A verdict answered by `name`'s zone alone, `hit(min, max)`, at
      * both levels. A missing summary or an unmeasured entry keeps; an
      * all-NULL file zone admits no non-null value.
      */
    private def zoneVerdict(name: String)(
        hit: (String, String) => Boolean): Verdict = {
      val si = m.statsCols.indexOf(name)
      if (si < 0) Keep
      else new Verdict(
        p => (p.summaryMins.lift(si).flatten,
            p.summaryMaxs.lift(si).flatten) match {
          case (Some(mn), Some(mx)) => hit(mn, mx)
          case _ => true
        },
        e => e.rows < 0 || ((e.mins.lift(si), e.maxs.lift(si)) match {
          case (Some(Some(mn)), Some(Some(mx))) => hit(mn, mx)
          case (Some(_), Some(_)) => false // all-NULL zone
          case _ => true
        }))
    }

    /** `name >= l` (`ge`) or `name <= l`; strict ops arrive here widened
      * to non-strict (see class doc).
      */
    private def cmpVerdict(name: String, l: ce.Literal,
        ge: Boolean): Verdict = {
      val dt = colTypes(name)
      bounds(l) match {
        case None => Keep
        case Some((lo, _)) if ge => zoneVerdict(name)((_, mx) => statCmp(dt, mx, lo) >= 0)
        case Some((_, hi)) => zoneVerdict(name)((mn, _) => statCmp(dt, mn, hi) <= 0)
      }
    }

    /** May `name` equal one of `lits`? The zones answer through one
      * [[intervalProbe]] over every literal's bounds; the blooms veto per
      * file with every literal hashed once, up to [[BloomProbeCap]]
      * values. NULL literals never match (`c = NULL` is never true), so
      * an all-NULL list prunes exactly.
      */
    private def eqAnyVerdict(name: String, lits0: Seq[ce.Literal]): Verdict = {
      val lits = lits0.filter(_.value != null)
      val dt = colTypes(name)
      if (lits.isEmpty) Never
      else {
        val zones =
          if (!m.statsCols.contains(name)) Keep
          else {
            val bs = lits.map(bounds)
            if (bs.exists(_.isEmpty)) Keep
            else zoneVerdict(name)(intervalProbe(dt, bs.flatten))
          }
        val bi = m.bloomCols.indexOf(name)
        // the build side hashed the column's stored type; a literal of
        // any other type hashes differently — no verdict
        val blooms =
          if (bi < 0 || lits.size > BloomProbeCap ||
              lits.exists(_.dataType != dt)) Keep
          else {
            val hs = lits.map(l =>
              ce.XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]).toArray
            new Verdict(_ => true,
              e => bloomOf(e, bi).forall(bf => hs.exists(bf.mightContainLong)))
          }
        zones && blooms
      }
    }

    /** Compile one conjunct; anything unrecognized keeps. */
    private def compile(x: ce.Expression): Verdict = x match {
      case ce.And(a, b) => compile(a) && compile(b)
      case ce.Or(a, b) => compile(a) || compile(b)
      case ce.EqualTo(a: ce.AttributeReference, l: ce.Literal) =>
        eqAnyVerdict(a.name, Seq(l))
      case ce.EqualTo(l: ce.Literal, a: ce.AttributeReference) =>
        eqAnyVerdict(a.name, Seq(l))
      case ce.EqualNullSafe(a: ce.AttributeReference, l: ce.Literal)
          if l.value != null => eqAnyVerdict(a.name, Seq(l))
      case ce.EqualNullSafe(l: ce.Literal, a: ce.AttributeReference)
          if l.value != null => eqAnyVerdict(a.name, Seq(l))
      case ce.GreaterThan(a: ce.AttributeReference, l: ce.Literal) =>
        cmpVerdict(a.name, l, ge = true)
      case ce.GreaterThanOrEqual(a: ce.AttributeReference, l: ce.Literal) =>
        cmpVerdict(a.name, l, ge = true)
      case ce.LessThan(a: ce.AttributeReference, l: ce.Literal) =>
        cmpVerdict(a.name, l, ge = false)
      case ce.LessThanOrEqual(a: ce.AttributeReference, l: ce.Literal) =>
        cmpVerdict(a.name, l, ge = false)
      // literal-on-the-left comparisons flip the operator
      case ce.GreaterThan(l: ce.Literal, a: ce.AttributeReference) =>
        cmpVerdict(a.name, l, ge = false)
      case ce.GreaterThanOrEqual(l: ce.Literal, a: ce.AttributeReference) =>
        cmpVerdict(a.name, l, ge = false)
      case ce.LessThan(l: ce.Literal, a: ce.AttributeReference) =>
        cmpVerdict(a.name, l, ge = true)
      case ce.LessThanOrEqual(l: ce.Literal, a: ce.AttributeReference) =>
        cmpVerdict(a.name, l, ge = true)
      case ce.In(a: ce.AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[ce.Literal]) =>
        eqAnyVerdict(a.name, vs.map(_.asInstanceOf[ce.Literal]))
      case ce.InSet(a: ce.AttributeReference, set) =>
        eqAnyVerdict(a.name,
          set.toSeq.filter(_ != null).map(v => ce.Literal(v, a.dataType)))
      case ce.IsNotNull(a: ce.AttributeReference) =>
        val si = m.statsCols.indexOf(a.name)
        if (si < 0) Keep
        else new Verdict(_ => true,
          e => e.rows < 0 || e.mins.lift(si).forall(_.nonEmpty))
      case ce.StartsWith(a: ce.AttributeReference, l: ce.Literal)
          if l.value != null && l.value.toString.nonEmpty &&
            colTypes.get(a.name).contains(StringType) =>
        val prefix = l.value.toString
        // any s with this prefix has s >= prefix, and when the last char
        // is incrementable, s < prefix-with-last-char-bumped
        zoneVerdict(a.name)((mn, mx) => mx.compareTo(prefix) >= 0 &&
          (prefix.last == Char.MaxValue ||
            mn.compareTo(prefix.init + (prefix.last + 1).toChar) < 0))
      case _ => Keep
    }

    override def rootPaths: Seq[Path] = Seq(new Path(root))
    override def partitionSchema: StructType = new StructType()
    override def inputFiles: Array[String] =
      parts.flatMap(_.entries.map(e => statusOf(e).getPath.toString)).toArray
    override def refresh(): Unit = () // immutable snapshot
    override def sizeInBytes: Long = parts.map(_.size(statusOf(_).getLen)).sum

    override def listFiles(partitionFilters: Seq[ce.Expression],
        dataFilters: Seq[ce.Expression]): Seq[PartitionDirectory] = {
      val v = dataFilters.map(compile).foldLeft(Keep)(_ && _)
      val alive = parts.filter(v.part)
      val kept = alive.flatMap(_.entries.filter(v.file))
      if (snapshot && (v ne Keep)) {
        lastIndexScan = Some((kept.size, parts.map(_.count).sum))
        lastIndexSegments = Some((alive.size, parts.size))
      }
      Seq(PartitionDirectory(InternalRow.empty, kept.map(statusOf).toArray))
    }
  }

  /** Read a version (default: newest) as a [[SidecarFileIndex]]-backed
    * relation, deletion vectors applied — the snapshot read behind
    * [[read]], [[readAsOf]] and [[readForJoin]]: predicates over THIS
    * DataFrame (or a temp view of it in SQL) reach `listFiles` as
    * `dataFilters` and prune files through the zone-map/bloom sidecars at
    * plan time. Schema and file lengths come from the manifest, so
    * planning lists nothing and infers nothing; row-group pushdown and
    * file splitting are Spark's own. MoR deletion vectors subtract
    * through a NULL-safe anti-join (user predicates push through its
    * left side). At 100 TB this is the difference between "the engine
    * can prune if you call the right method" and "every query prunes".
    */
  def scan(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = manifest(spark, root, version)
    graft.plans.LakeMetadataAggs.register(spark)
    // no payload is loaded here: the index resolves segments lazily and
    // a predicate that dismisses a whole segment through the manifest's
    // ref summary never parses that segment file at all
    applyDv(spark, root, m,
      fileRelation(spark, root, m, StructType.fromDDL(m.schemaDdl),
        segmentParts(spark, root, m, None), snapshot = true),
      m.dvFiles)
  }

  /** One [[history]] row: a SLOT's operational state, metadata-only. */
  final case class VersionInfo(version: Long, tsMillis: Long, state: String,
      files: Int, dvFiles: Int, numBuckets: Int, txn: Option[String])

  /** Operational history, newest slot first — the DESCRIBE HISTORY a
    * table format owes its operators, driver-side from metadata alone
    * (no data file opened). Every SLOT appears, not just the live
    * chain: `state` is `committed` for plain commits and committed
    * transaction members, `aborted` for transaction slots whose outcome
    * records abort (vacuum food — their content never became visible),
    * and `in-flight` for transaction slots whose outcome is still
    * undecided (invisible to readers; blocking writers until decided).
    * `tsMillis` is the manifest's PUBLISH wall-clock — for transaction
    * members that predates visibility (the outcome decides that), the
    * same caveat [[versionAsOf]] carries.
    */
  def history(spark: SparkSession, root: String): Seq[VersionInfo] = {
    val fs = hfs(spark, root)
    versions(fs, root).sorted.reverse.map { v =>
      val (m, ts) = manifestFile(fs, root, v)
      val state = m.txn match {
        case None => "committed"
        case Some(p) => txnOutcome(fs.getConf, p) match {
          case Some(true) => "committed"
          case Some(false) => "aborted"
          case None => "in-flight"
        }
      }
      // fileCount reads the refs' stored counts — no segment file is
      // opened, keeping history() metadata-only at any table size
      VersionInfo(v, ts, state, m.fileCount, m.dvFiles.size, m.numBuckets, m.txn)
    }
  }

  /** Roll the table back (or forward) to the CONTENT of `version` by
    * publishing it as the newest version — data files are immutable and
    * shared, so a restore writes one manifest and zero data; the undone
    * versions stay readable for time travel until [[vacuum]] drops them.
    * This is the operational answer to a bad delivery: restore, then
    * re-run the fixed delivery against the restored head.
    */
  def restore(spark: SparkSession, root: String, version: Long): Long =
    withCommitRetries() { () =>
      val fs = hfs(spark, root)
      val target = manifest(spark, root, Some(version))
      val (head, slot) = writeHead(spark, root)
      if (head.version == version) version
      else {
        // the target's refs republish verbatim — segments are immutable
        // and vacuum keeps every segment a kept manifest references, so
        // a restore is one manifest write, zero data and zero payloads
        val next = commitMetadataOnly(spark, root,
          target.copy(version = slot, txn = None))
        next.version
      }
    }

  /** Rewrite ONLY the buckets whose file count exceeds `maxFilesPerBucket`
    * — the bounded maintenance pass that keeps per-bucket file counts flat
    * on a long merge/deleteMor run (each merge adds files to its touched
    * buckets; each deleteMor adds vectors). Untouched buckets are carried
    * by path; dv'd buckets that get rewritten fold their vectors in.
    */
  /** Consolidate the METADATA plane: copy every live file's metadata —
    * payloads verbatim, no data file opened, no scan run — into fresh
    * bucket-ordered segments at the entry cap (one for small tables;
    * [[minSegments]] for large — the cap keeps any later touched-bucket
    * commit's parse bounded) and publish a manifest carrying just those
    * refs. The ref list grows O(live segments) as small deliveries
    * accrete; this is [[compactSmallFiles]]' metadata analog (the
    * Iceberg `rewrite_manifests` design point): one O(live files)
    * metadata write, zero data I/O, and every later commit is back to
    * shrinking few wide refs. Old segment files stay for time travel
    * until [[vacuum]] drops the versions referencing them. A table
    * already at its segment floor is a no-op returning the current
    * version.
    */
  def compactMetadata(spark: SparkSession, root: String): Long =
    withCommitRetries() { () =>
      val (m, slot) = writeHead(spark, root)
      if (m.segments.size <= minSegments(m)) m.version
      else {
        val known = m.segments.flatMap { ref =>
          val seg = loadSegment(spark, root, ref.path)
          if (seg.statsCols == m.statsCols && seg.bloomCols == m.bloomCols &&
              seg.ndvCols == m.ndvCols)
            liveEntries(ref, seg).map(e => e.path -> e)
          else Nil // unreachable at a published head; re-measure if ever
        }.toMap
        // segments = Nil: every file is fresh and the known payloads make
        // the consolidation measurement-free (resolving the full live
        // list is the point of this declared-O(live files) metadata op)
        val next = commitDelta(spark, root, m.copy(version = slot,
          txn = None, filesEager = null, segments = Nil),
          Set.empty, fresh = m.files.map(bareEntry(_)), known = known)
        if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }

  def compactSmallFiles(spark: SparkSession, root: String,
      maxFilesPerBucket: Int = 4): Long = {
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket must be >= 1")
    withCommitRetries() { () =>
      val fs = hfs(spark, root)
      val (m, slot) = writeHead(spark, root)
      // per-bucket counts need entry-level metadata (refs record only a
      // total) — resolving the live list is inherent to this maintenance
      // pass's fat-bucket decision, like vacuum's; the COMMIT below is
      // still delta-form
      val counts = (m.files ++ m.dvFiles).groupBy(_._2).view.mapValues(_.size)
      val fat = counts.filter(_._2 > maxFilesPerBucket).keys.toSet
      if (fat.isEmpty) m.version
      else {
        val cur = bucketRead(spark, root, m, fat)
        val (mk, zExprs) = zSortIfMarked(spark, root, m)
        val fresh = writeFiles(spark, root, cur, m.keys, m.numBuckets,
          m.sortCols, m.maxRecordsPerFile, sortExprs = zExprs)
        val next = commitDelta(spark, root, m.copy(version = slot,
          txn = None,
          dvFiles = m.dvFiles.filterNot { case (_, b) => fat(b) }),
          replaced = fat, fresh = fresh, zGen = zGenOf(mk))
        carryZMarker(spark, root, mk, next, fresh.map(_.path))
        if (m.cdfRecord) writeCdfMarker(spark, root, next.version, Nil)
        next.version
      }
    }
  }

  /** Keep the newest `keepLast` manifests; delete older manifests and every
    * data file no kept manifest references. UUID data dirs left empty (and
    * crash-orphaned dirs older than the oldest kept manifest's files) are
    * removed.
    */
  /** Retention by AGE: vacuum down to the versions published within the
    * trailing window ending now (plus the head, always) — "keep 7 days of
    * time travel" as operators actually phrase it. Resolves the cutoff via
    * the manifests' publish timestamps ([[versionAsOf]] machinery), then
    * delegates to [[vacuum]]'s keep-newest-k sweep.
    */
  def vacuumOlderThan(spark: SparkSession, root: String,
      maxAgeMillis: Long): Seq[String] = {
    require(maxAgeMillis >= 0, s"maxAgeMillis must be >= 0, got $maxAgeMillis")
    val fs = hfs(spark, root)
    val cutoff = System.currentTimeMillis - maxAgeMillis
    // publish timestamps are monotone in slot order only on ONE clock; a
    // multi-host writer set skews them, so a newer slot can carry an
    // older stamp — in EITHER direction. The skew bound
    // (`graft.lake.vacuumClockSkewMs`, default 5 min — NTP-disciplined
    // fleets sit far under it) therefore cuts both ways:
    //  - the walk may only STOP once a stamp is older than the cutoff by
    //    more than the bound (any slot below one stamped before
    //    `cutoff - skew` published earlier in real time, so it is
    //    genuinely out of window);
    //  - a slot stamped INSIDE the margin [cutoff - skew, cutoff) must
    //    be KEPT, not just walked past: its slow-clock stamp may
    //    understate a true publish time inside the window, and retention
    //    errs on keeping (the cost is a few extra small manifests for
    //    one cycle, never a lost in-window version).
    // Set the bound to 0 on single-writer/single-clock tables for the
    // exact window. O(window + margin) small reads either way.
    val skewMs = spark.sparkContext.hadoopConfiguration
      .getLong("graft.lake.vacuumClockSkewMs", 300000L)
    // keep down to the DEEPEST margin-or-better slot. The count handed
    // to vacuum is in vacuum's OWN currency — LIVE (committed-visible)
    // slots, its keep-walk classification — so DECIDED-ABORTED in-window
    // slots don't advance it: counting raw walked slots (the pre-r15
    // form) inflated the keep window by every aborted transaction slot
    // it contained, retaining live versions OLDER than the requested age
    // (over-retention only, never loss — but a retention contract should
    // mean what it says). UNDECIDED (in-flight) slots DO count: their
    // outcome can flip to commit between this walk and vacuum's own —
    // excluding one would let the newly-live slot consume a keep that
    // belonged to the window's deepest live version (an in-window
    // version lost to a race). Counting it is the one-sided-safe call:
    // if it aborts instead, vacuum keeps one extra older live slot for
    // a cycle. An aborted outcome can never flip (outcomes are claimed
    // exactly once), so excluding those is race-free.
    var retained = 0
    val it = versions(fs, root).sorted.reverseIterator
    var stop = false
    while (it.hasNext && !stop) {
      val (m, ts) = manifestFile(fs, root, it.next())
      if (ts >= cutoff - skewMs) {
        val abortedSlot =
          m.txn.exists(p => txnOutcome(fs.getConf, p).contains(false))
        if (!abortedSlot) retained += 1
      } else stop = true
    }
    vacuum(spark, root, math.max(1, retained))
  }

  /** Manifest files read by the last [[vacuum]] this JVM ran — spec pin
    * for the bounded-outcome-resolution contract (O(keep window), not
    * O(all versions)); not part of the public API.
    */
  private[graft] var lastVacuumManifestReads: Option[Int] = None

  /** Unreferenced-debris sweeps are AGE-GATED (`graft.lake.vacuumGraceMs`
    * Hadoop conf, default 10 min): a writer stages data files, segment
    * files and CDF feeds BEFORE its manifest claim (publish can block up
    * to `graft.lake.txnWaitMs` in the below-slot guard), so to a
    * concurrent vacuum an in-flight commit's files look exactly like
    * orphan debris — sweeping them would let the winning manifest
    * reference missing files and break that version's reads. Files
    * younger than the grace window are spared (the orphan-file retention
    * every table format ships); genuinely dead debris is reclaimed by
    * the next scheduled vacuum once it ages past the window. Set 0 only
    * where no writer can be in flight.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = hfs(spark, root)
    // read through the SESSION conf, not fs.getConf: the Hadoop FS cache
    // can hold a configuration copied at first access, so a later conf
    // change (an operator widening the grace) would be silently ignored
    val graceMs = spark.sparkContext.hadoopConfiguration
      .getLong("graft.lake.vacuumGraceMs", 600000L)
    val modCutoff = System.currentTimeMillis - graceMs
    def aged(st: FileStatus): Boolean = st.getModificationTime <= modCutoff
    val vs = versions(fs, root)
    // transaction slots: ABORTED ones are dead everywhere — their files
    // are reclaimable now and their manifests deletable, EXCEPT the top
    // slot's manifest, which keeps its number occupied (deleting it would
    // let the next writer REUSE the slot, aliasing CDF stream offsets and
    // time-travel identities). IN-FLIGHT slots are conservatively live:
    // never reclaimed, never dropped, their files always protected,
    // whatever their age. The retention window `keepLast` counts LIVE
    // (committed-visible) slots ONLY — counting raw slots would let a run
    // of aborted/in-flight transaction slots at the top empty the keep
    // set and sweep the committed table itself (e.g. vacuum(root, 1)
    // right after a force-abort would otherwise delete the live head's
    // manifest and every data file).
    //
    // BOUNDED outcome resolution: the walk reads manifests NEWEST-first
    // and stops once `keepLast` live slots are classified — on a
    // 1000-version table with keepLast=5 that is ~5 reads, not 1000
    // (the pre-r13 sweep resolved every slot's outcome). Sound because
    // undecided transaction slots form a TOP SUFFIX of the version
    // sequence: publish's below-slot guard never claims above an
    // undecided slot (waiting, then force-aborting), so any slot below
    // a successfully published one is decided — an in-flight slot can
    // never hide below the keep boundary. Everything under the boundary
    // drops unread; parsed manifests are reused for the live-file and
    // live-segment sets below (no second read).
    val walked = scala.collection.mutable.LinkedHashMap.empty[Long, Manifest]
    val inFlightB = scala.collection.mutable.ArrayBuffer.empty[Long]
    val keepB = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = vs.sorted.reverseIterator
    while (it.hasNext && keepB.size < keepLast) {
      val v = it.next()
      val m = manifestAt(spark, root, v)
      walked(v) = m
      m.txn.map(p => txnOutcome(fs.getConf, p)) match {
        case Some(None) => inFlightB += v
        case Some(Some(false)) => () // aborted: droppable (top-slot rule below)
        case _ => keepB += v
      }
    }
    lastVacuumManifestReads = Some(walked.size)
    val keep = keepB.toSeq.sorted
    val inFlight = inFlightB.toSeq.sorted
    val keepSet = keep.toSet; val inFlightSet = inFlight.toSet
    val drop = vs.filterNot(v =>
      keepSet(v) || inFlightSet(v) || v == vs.max)
    val live = (keep ++ inFlight).flatMap { v =>
      val m = walked(v)
      (m.files ++ m.dvFiles).map(_._1)
    }.toSet
    val dataDir = new Path(root, "data")
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(dataDir)) {
      for (sub <- fs.listStatus(dataDir); bd <- fs.listStatus(sub.getPath)
           if bd.getPath.getName.startsWith("__bucket=");
           f <- fs.listStatus(bd.getPath)) {
        val rel = s"data/${sub.getPath.getName}/${bd.getPath.getName}/${f.getPath.getName}"
        if (!live(rel) && f.getPath.getName.endsWith(".parquet") && aged(f)) {
          fs.delete(f.getPath, false); removed += rel
        }
      }
      // prune dirs emptied of parquet files (metadata stragglers included)
      // — unless anything inside OR the directory tree itself is younger
      // than the grace window: `left.forall(aged)` is vacuously true for
      // a just-created still-EMPTY dir, but that dir is exactly where an
      // in-flight write job is about to land its files, so the dir's own
      // (and each bucket subdir's) FileStatus must pass the age gate too.
      // The prune cutoff is stamped AFTER the file sweep above: deleting
      // a parquet freshens its parent dir's mtime, and measuring that
      // against the entry-time cutoff would make this pass spare every
      // dir it just emptied (under a real grace window the freshened dir
      // waits one vacuum cycle — empty debris, nothing references it)
      val pruneCutoff = System.currentTimeMillis - graceMs
      def agedP(st: FileStatus): Boolean =
        st.getModificationTime <= pruneCutoff
      for (sub <- fs.listStatus(dataDir) if agedP(sub)) {
        val kids = fs.listStatus(sub.getPath)
        val left = kids.flatMap {
          case d if d.isDirectory => fs.listStatus(d.getPath).toSeq
          case f => Seq(f)
        }
        if (!left.exists(_.getPath.getName.endsWith(".parquet")) &&
            kids.forall(agedP) && left.forall(agedP))
          fs.delete(sub.getPath, true)
      }
    }
    // the NEWEST z-order marker is a chain head, not per-version state
    // (live-set intersection keeps it valid whatever content it names),
    // so the sweep spares it even when its version falls out of retention
    val zHead =
      MetaFile.numbered(fs, new Path(root, "_zorder")).lastOption.getOrElse(-1L)
    drop.foreach { v =>
      fs.delete(new Path(root, s"_versions/$v.json"), false)
      fs.delete(new Path(root, s"_cdf/$v.json"), false)
      if (v != zHead) fs.delete(new Path(root, s"_zorder/$v.json"), false)
    }
    // segment files: immutable and SHARED across versions — one is live
    // while any KEPT or IN-FLIGHT manifest references it (the retained
    // top aborted slot's manifest survives as a slot tombstone, but its
    // segments are reclaimable exactly like its data files: nothing
    // resolves a dead slot's file list). Unreferenced segments are
    // race-loser/crash debris or belonged to dropped versions; `.staging`
    // leftovers are abandoned writes.
    val segDir = new Path(root, "_segments")
    if (fs.exists(segDir)) {
      val liveSegs = (keep ++ inFlight)
        .flatMap(v => walked(v).segments.map(_.path))
        .map(p => fs.makeQualified(new Path(root, p)).toString).toSet
      for (f <- fs.listStatus(segDir)
           if !liveSegs(fs.makeQualified(f.getPath).toString) && aged(f)) {
        fs.delete(f.getPath, false)
        removed += s"_segments/${f.getPath.getName}"
      }
    }
    // recorded change-feed data unreferenced by any KEPT marker: feeds of
    // dropped versions plus crash/race-loser debris (a feed dir written
    // before a publish that never landed)
    val cdfData = new Path(root, "_cdf/data")
    if (fs.exists(cdfData)) {
      val keptFeeds = (keep ++ inFlight).flatMap(v =>
        readCdfMarker(spark, root, v).getOrElse(Nil))
        .map(p => p.split("/").takeRight(2).head).toSet
      for (sub <- fs.listStatus(cdfData)
           if !keptFeeds(sub.getPath.getName) && aged(sub)) {
        fs.delete(sub.getPath, true)
        removed += s"_cdf/data/${sub.getPath.getName}"
      }
    }
    removed.toSeq
  }

  /** [[fsck]] result. `ok` = no referenced file is missing (the one
    * condition that breaks reads). Orphans and sidecar gaps are WARNINGS:
    * orphans are crash/race debris [[vacuum]] reclaims, and a missing
    * sidecar entry only degrades pruning to conservative keep-all.
    */
  final case class FsckReport(
      version: Long,
      liveFiles: Int,
      missingFiles: Seq[String],
      orphanFiles: Seq[String],
      statsGaps: Seq[String],
      bloomGaps: Seq[String],
      ndvGaps: Seq[String] = Nil,
      orphanSegments: Seq[String] = Nil) {
    def ok: Boolean = missingFiles.isEmpty
  }

  /** Manifest ↔ filesystem integrity audit — the operational `fsck` a
    * table format owes its operators, run driver-side against metadata
    * and directory listings (no data file is OPENED):
    *
    *  - MISSING: a file some KEPT version's manifest references but the
    *    filesystem lacks — reads of that version will fail; restore an
    *    older version or re-run the delivery.
    *  - ORPHAN: a parquet file on disk under `data/` that NO kept version
    *    references — crash-before-publish or commit-race-loser debris,
    *    invisible to every reader, reclaimed by [[vacuum]].
    *  - STATS/BLOOM/NDV GAPS: live files of the NEWEST version without a
    *    sidecar entry for a declared stats/bloom column — pruning,
    *    [[fastCount]] and [[fastNdv]] degrade conservatively until a
    *    rewrite re-measures.
    */
  def fsck(spark: SparkSession, root: String): FsckReport = {
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no LakeTable at $root")
    // ABORTED transaction slots are excluded: their files are vacuum's to
    // reclaim, so auditing them as "referenced" would report phantom
    // missing files after a sweep. In-flight slots audit conservatively.
    val manifests = vs.map(v => manifestAt(spark, root, v))
      .filter(m => !m.txn.exists(p => txnOutcome(fs.getConf, p).contains(false)))
    // segment references audit FIRST: a referenced-but-missing segment
    // file breaks that version's reads exactly like a missing data file,
    // and resolving the file list through it would crash the audit —
    // manifests whose segments are intact resolve; the broken segment
    // itself joins missingFiles.
    val (missingSegs, resolvable) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val refs = manifests.flatMap(_.segments.map(_.path)).distinct
      val missing = refs.filterNot { rel =>
        val p = new Path(root, rel)
        p.getFileSystem(conf).exists(p)
      }.toSet
      (missing.toSeq.sorted,
        manifests.filter(_.segments.forall(r => !missing(r.path))))
    }
    val referenced = resolvable
      .flatMap(m => (m.files ++ m.dvFiles).map(_._1)).toSet
    val missing = missingSegs ++ referenced.toSeq.sorted
      .filterNot { rel =>
        // per-path filesystem: a shallow clone's absolute references may
        // live on the source's scheme
        val p = new Path(root, rel)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
    val onDisk = scala.collection.mutable.ArrayBuffer.empty[String]
    val dataDir = new Path(root, "data")
    if (fs.exists(dataDir))
      for (sub <- fs.listStatus(dataDir) if sub.isDirectory;
           bd <- fs.listStatus(sub.getPath)
           if bd.getPath.getName.startsWith("__bucket=");
           f <- fs.listStatus(bd.getPath)
           if f.getPath.getName.endsWith(".parquet"))
        onDisk += s"data/${sub.getPath.getName}/${bd.getPath.getName}/${f.getPath.getName}"
    val orphans = onDisk.toSeq.filterNot(referenced).sorted
    // segment debris: on-disk segment files no non-aborted manifest
    // references — race-loser/crash leftovers, vacuum's to reclaim
    val orphanSegs = {
      val segDir = new Path(root, "_segments")
      if (!fs.exists(segDir)) Nil
      else {
        val refd = manifests.flatMap(_.segments.map(r =>
          fs.makeQualified(new Path(root, r.path)).toString)).toSet
        fs.listStatus(segDir).toSeq
          .filterNot(f => refd(fs.makeQualified(f.getPath).toString))
          .map(f => s"_segments/${f.getPath.getName}").sorted
      }
    }
    val head = manifests.last
    val headResolvable = resolvable.exists(_.version == head.version)
    def gaps(cols: Seq[String],
        payload: Option[Map[String, _]]): Seq[String] =
      if (cols.isEmpty || !headResolvable) Nil
      else {
        val have = payload.getOrElse(Map.empty)
        head.files.map(_._1).filterNot(have.contains).sorted
      }
    val statsGaps = gaps(head.statsCols, readStats(spark, root, head.version))
    val bloomGaps = gaps(head.bloomCols, readBlooms(spark, root, head.version))
    val ndvGaps = gaps(head.ndvCols, readNdv(spark, root, head.version))
    FsckReport(head.version,
      (if (headResolvable) head.files.size else head.fileCount) +
        head.dvFiles.size,
      missing, orphans, statsGaps, bloomGaps, ndvGaps, orphanSegs)
  }
}
