package graft.streaming

import graft.sinks.LakeTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE over the change feeds of N ≥ 1 lake tables
  * — the "stream FROM a table" design point (Delta's streaming source),
  * made TRANSACTION-CONSISTENT. Downstream consumers subscribe with
  *
  * {{{
  *   spark.readStream.format("graft-lake-cdf").option("root", root).load()
  *   spark.readStream.format("graft-lake-cdf-group")
  *     .option("roots", "<root>,<root>,...").load()
  * }}}
  *
  * and receive the tables' own commit history as micro-batches of CDF
  * rows (value columns + `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage} + `_from_version`/`_to_version`),
  * with EXACTLY-ONCE delivery for free because the offsets ARE the table
  * versions — one composite offset `{"v":[v0,…,vN-1]}`:
  *
  *   - a poll reads each root's newest manifest plus the manifests of
  *     the versions it would hand out (no data file opened);
  *   - batch (start, end] is [[LakeTable.changes]] over exactly that span
  *     per root — deterministic, so checkpoint recovery replays the
  *     identical batch; multi-version spans NET per key;
  *   - the FIRST batch (no start offset, no `startingVersion`) is every
  *     table's snapshot at the offset served as `insert` rows
  *     (`_from_version` = -1) — a new subscriber bootstraps and then rides
  *     deltas, never a seam where rows are missed or doubled. With
  *     `startingVersion` the subscription is changes-only from there.
  *
  * Every offset is a '''consistent cut''' ([[LakeCdfSource.consistentCutN]]):
  * for every committed [[graft.sinks.LakeTxn]], either all of its members
  * are inside the cut or all are beyond it — a batch never splits a
  * transaction, across tables or along one table's multi-member chain —
  * and every root lands on a LIVE slot, never an aborted or in-flight one
  * `getBatch` could not serve. The rate cap `maxVersionsPerTrigger`
  * bounds each root's span before the cut; when the capped cut would not
  * move at all (a run of dead slots or one long transaction fills the
  * cap) the cap widens by its own size until it does, so a cap never
  * wedges the stream.
  *
  * Rows are the union-by-name of all tables' CDF feeds plus a `_table`
  * column carrying the root the row belongs to; columns the schemas don't
  * share are NULL on other roots' rows (shared names must agree on type —
  * required at stream creation). The single-table schema
  * ([[LakeCdfSource.cdfSchema]]) has no `_table`, and the pinned-schema
  * projection drops it.
  *
  * Schema is PINNED at stream start: additive table evolution mid-stream
  * keeps serving the pinned columns (new columns surface after a
  * restart); an old span replayed after a widening NULL-fills the new
  * columns. Retention is the operator's side: [[LakeTable.vacuum]] must
  * keep at least the span between a consumer's checkpoint and head; a
  * vacuumed-away start version fails loudly at `getBatch`.
  */
class LakeCdfSource(spark: SparkSession, roots: Seq[String],
    override val schema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    startingVersions: Option[IndexedSeq[Long]] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset,
    ReadLimit}
  import LakeCdfSource._

  require(roots.distinct.size == roots.size, s"duplicate root in $roots")

  /** Newest offset already handed to the engine — the rate-limit base.
    * Recovery is seamless: the engine re-runs the last committed batch
    * through getBatch before polling again, which re-seeds this.
    */
  private var handedOut: Option[IndexedSeq[Long]] = None

  /** Trigger.AvailableNow target, snapshotted at stream start: the run
    * drains versions up to here and stops — commits landing during the
    * drain wait for the next run.
    */
  private var availableNowCap: Option[IndexedSeq[Long]] = None

  private def heads(): IndexedSeq[Long] =
    roots.map(r => LakeTable.manifest(spark, r).version).toIndexedSeq

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(heads())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def nextOffset(committed: Option[IndexedSeq[Long]]): IndexedSeq[Long] = {
    val h0 = heads()
    val h = availableNowCap.fold(h0)(c =>
      h0.zip(c).map { case (x, cap) => math.min(x, cap) })
    // `startingVersion` is the first base: a changes-only backlog is a
    // divisible span, so the rate limit applies from the first batch.
    // The bootstrap snapshot (no base) is never capped: it is one unit
    // of work, there is no smaller correct first batch.
    val base = committed.orElse(startingVersions)
    // only the head THIS poll resolved is known-live: its manifest() read
    // just proved liveness and existence. A prepare-time AvailableNow cap
    // or a rate cap may name a slot a concurrent vacuum has deleted
    // since, so those candidates keep the direct probe.
    def cut(cand: IndexedSeq[Long]) = consistentCutN(spark, roots,
      base.getOrElse(IndexedSeq.fill(roots.size)(-1L)), cand, knownLive = h0)
    (base, maxVersionsPerTrigger) match {
      case (Some(b), Some(n)) =>
        // rate limit BEFORE the consistency clamp: capping only lowers
        // the candidate and clamping only lowers it further, so the cut
        // stays consistent. A cap that lands only on dead slots, or
        // inside a transaction on every root, clamps back to the base —
        // widen it by n until the cut moves or the cap reaches the heads.
        def capped(k: Long) = h.zip(b).map { case (x, p) => math.min(x, p + k) }
        Iterator.iterate(n)(_ + n).map(capped)
          .map(c => (c, cut(c)))
          .find { case (c, o) => o != b || c == h }.get._2
      case _ => cut(h)
    }
  }

  /** Admission-control poll (the engine prefers this over [[getOffset]]
    * once [[SupportsTriggerAvailableNow]] is implemented; both answer
    * identically). `start` is the offset the engine last committed —
    * authoritative across restarts, so it supersedes [[handedOut]].
    */
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val base = Option(start).map(o => parseOffset(o.json(), roots.size))
      .orElse(handedOut)
    renderOffset(nextOffset(base))
  }

  override def getOffset: Option[Offset] =
    Some(renderOffset(nextOffset(handedOut)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = parseOffset(end.json(), roots.size)
    handedOut = Some(handedOut.fold(to)(h =>
      h.zip(to).map { case (a, b) => math.max(a, b) }))
    val from = start.map(o => parseOffset(o.json(), roots.size))
      .orElse(startingVersions)
    def side(i: Int): Option[DataFrame] = {
      val root = roots(i); val toV = to(i)
      val body = from.map(_(i)) match {
        case Some(f) if f == toV => None // nothing new on this root
        case Some(f) => Some(LakeTable.changes(spark, root, f, toV))
        case None => Some(LakeTable.read(spark, root, Some(toV))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_from_version", lit(-1L))
          .withColumn("_to_version", lit(toV)))
      }
      body.map(_.withColumn("_table", lit(root)))
    }
    // reconcile to the PINNED schema (order and width): each root fills
    // the others' columns with typed NULLs, a replayed OLD span (restart
    // after widening) NULL-fills columns its rows predate, and columns
    // outside the pinned schema (a widening after stream start, `_table`
    // on a single-table stream) are projected away
    def conform(d: DataFrame): DataFrame = {
      val present = d.columns.toSet
      val filled = schema.fields.filterNot(f => present(f.name))
        .foldLeft(d)((x, f) => x.withColumn(f.name, lit(null).cast(f.dataType)))
      filled.select(schema.fieldNames.map(col).toSeq: _*)
    }
    val sides = roots.indices.flatMap(side).map(conform)
    val unioned =
      if (sides.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else sides.reduce(_ unionByName _)
    GraftSqlBridge.streamingDataFrame(unioned)
  }

  override def stop(): Unit = ()
}

object LakeCdfSource {

  private[graft] def renderOffset(o: IndexedSeq[Long]) =
    org.apache.spark.sql.execution.streaming.runtime
      .SerializedOffset(s"""{"v":[${o.mkString(",")}]}""")

  /** Every offset form a checkpoint may hold: `{"v":[…]}` (rendered
    * today), a bare `N` (single-table checkpoints written before the
    * vector form) and `{"a":x,"b":y}` (two-table checkpoints written
    * before the vector form). The arity must match the stream's roots.
    */
  private[graft] def parseOffset(s: String, arity: Int): IndexedSeq[Long] = {
    val t = s.trim
    def bad = throw new IllegalArgumentException(s"bad change-feed offset $s")
    def num(x: String) = scala.util.Try(x.trim.toLong).getOrElse(bad)
    val o =
      if (t.nonEmpty && t.forall(c => c.isDigit || c == '-')) IndexedSeq(num(t))
      else if (t.startsWith("{\"v\":[") && t.endsWith("]}")) {
        val body = t.stripPrefix("{\"v\":[").stripSuffix("]}")
        if (body.trim.isEmpty) bad
        body.split(",").iterator.map(num).toIndexedSeq
      } else """^\{"a":(-?\d+),"b":(-?\d+)\}$""".r.findFirstMatchIn(t)
        .map(m => IndexedSeq(m.group(1).toLong, m.group(2).toLong))
        .getOrElse(bad)
    require(o.size == arity,
      s"offset $s has ${o.size} versions, the stream has $arity roots")
    o
  }

  /** The largest transaction-consistent cut `c` with `prev ≤ c ≤ h`
    * per root — whole on EVERY axis: a committed transaction's members
    * stay jointly in or out, across roots and along one root's
    * multi-member chain (its members flipped visible as one unit; a
    * batch serving half of it would expose a state the source never
    * served). Any committed member inside its root's candidate whose
    * sibling on any root lies beyond that root's candidate clamps its
    * own root below it, iterated to fixpoint. Only (prev, candidate]
    * slots are scanned — transactions wholly inside a previous batch
    * are consistent by induction, and manifest reads are metadata-only.
    * Never clamps below `prev` (a committed offset is already
    * consistent and immutable).
    */
  private[graft] def consistentCutN(spark: SparkSession, roots: Seq[String],
      prev: IndexedSeq[Long], h: IndexedSeq[Long],
      knownLive: IndexedSeq[Long] = IndexedSeq.empty): IndexedSeq[Long] = {
    val n = roots.size
    require(prev.size == n && h.size == n,
      s"offset arity ${prev.size}/${h.size} != roots $n")
    // committed-txn members in (from, to]: slot -> outcome path
    def txnsIn(root: String, from: Long, to: Long): Seq[(Long, String)] =
      ((from + 1) to to).flatMap { v =>
        scala.util.Try(LakeTable.manifestAt(spark, root, v)).toOption
          .flatMap(m => m.txn.filter(p => LakeTable.txnOutcome(
            spark.sparkContext.hadoopConfiguration, p).contains(true))
            .map(v -> _))
      }
    // the first member of outcome path p on `root` above `from`, if any
    // (members below a committed offset are already served); a LATER
    // member past the cut is caught by that root's own clamp iteration
    def siblingAbove(root: String, p: String, from: Long): Option[Long] = {
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      LakeTable.versions(fs, root).filter(_ > from).find { v =>
        scala.util.Try(LakeTable.manifestAt(spark, root, v)).toOption
          .exists(_.txn.contains(p))
      }
    }
    // an offset must land on a LIVE slot (or stay at `prev`, live by
    // induction): getBatch serves it through changes()/read(), which
    // require committed visibility — a cut clamped onto an aborted or
    // in-flight txn slot would throw there, and the offset may already
    // be checkpointed, wedging the stream. Walk down past non-live
    // slots; cheap in practice (undecided slots form a top suffix of
    // the chain, and aborted mid-chain slots are rare one-step hops).
    def liveAtOrBelow(root: String, floor: Long, v: Long): Long = {
      if (v <= floor) return floor
      // direct probe first: in the uncapped steady state the candidate
      // IS the polled live head, so this is one manifest read with no
      // directory listing — the walk below only runs for rate-capped or
      // clamped candidates that landed on a dead/missing slot
      if (scala.util.Try(LakeTable.manifestAt(spark, root, v)).toOption
          .exists(LakeTable.liveOf(spark, _))) return v
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      LakeTable.versions(fs, root)
        .filter(x => x > floor && x < v).sorted.reverseIterator
        .find(x => scala.util.Try(LakeTable.manifestAt(spark, root, x))
          .toOption.exists(LakeTable.liveOf(spark, _)))
        .getOrElse(floor)
    }
    // initial candidates normalize too: the caller's rate cap `prev + n`
    // is a raw slot number that can land on a dead slot just like a clamp
    // — but a candidate the caller verified THIS poll (`knownLive`: the
    // just-resolved live head, whose manifest read proved liveness AND
    // existence) skips the probe, so the uncapped steady state pays no
    // extra manifest/outcome read per root per poll. Only a same-poll
    // verification qualifies: an older one (e.g. a prepare-time cap)
    // proves liveness — immutable — but not that the slot still EXISTS
    // under a concurrent vacuum
    val c = Array.tabulate(n) { i =>
      val cand = math.max(h(i), prev(i))
      if (knownLive.lift(i).contains(cand)) cand
      else liveAtOrBelow(roots(i), prev(i), cand)
    }
    var changed = true
    while (changed) {
      changed = false
      for (i <- 0 until n; (v, p) <- txnsIn(roots(i), prev(i), c(i))) {
        // a member is torn when its transaction has ANOTHER member beyond
        // a candidate — on any OTHER root (the cross-table tear) or on
        // its OWN root above the same cut (the single-table chain)
        val torn = (0 until n).exists { j =>
          val from = if (j == i) v else prev(j)
          siblingAbove(roots(j), p, from).exists(_ > c(j))
        }
        if (torn) {
          val clamped = liveAtOrBelow(roots(i), prev(i), v - 1)
          if (clamped < c(i)) { c(i) = clamped; changed = true }
        }
      }
    }
    c.toIndexedSeq
  }

  /** The single-table stream's row shape: the table's columns plus the
    * CDF metadata trio — identical to [[LakeTable.changes]]' output.
    */
  def cdfSchema(spark: SparkSession, root: String): StructType =
    StructType.fromDDL(LakeTable.manifest(spark, root).schemaDdl)
      .add("_change_type", "string")
      .add("_from_version", "bigint")
      .add("_to_version", "bigint")

  /** The group stream's row shape: union of every root's table schema
    * (shared names must agree on type) plus `_table` and the CDF meta
    * columns.
    */
  private[streaming] def groupSchema(spark: SparkSession,
      roots: Seq[String]): StructType = {
    val merged = roots.map(r =>
      StructType.fromDDL(LakeTable.manifest(spark, r).schemaDdl))
      .reduce { (acc, s) =>
        s.fields.foldLeft(acc) { (a, f) =>
          a.find(_.name == f.name) match {
            case Some(have) =>
              require(have.dataType == f.dataType,
                s"group stream: column ${f.name} is ${have.dataType} on one " +
                  s"root but ${f.dataType} on another — shared names must agree")
              a
            case None => a.add(f)
          }
        }
      }
    merged.fields.foldLeft(new StructType().add("_table", "string"))(
      (s, f) => s.add(f))
      .add("_change_type", "string")
      .add("_from_version", "bigint")
      .add("_to_version", "bigint")
  }

  private[streaming] def maxVersionsOf(
      parameters: Map[String, String]): Option[Long] =
    parameters.get("maxVersionsPerTrigger").map { s =>
      val n = s.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }
}

/** `format("graft-lake-cdf")` registration (META-INF/services): one
  * table, options `root`, `startingVersion`, `maxVersionsPerTrigger`.
  */
class LakeCdfSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake-cdf"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("root", throw new IllegalArgumentException(
      """graft-lake-cdf requires .option("root", <lake table root>)"""))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      LakeCdfSource.cdfSchema(sqlContext.sparkSession, rootOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    new LakeCdfSource(sqlContext.sparkSession, Seq(root),
      schema.getOrElse(LakeCdfSource.cdfSchema(sqlContext.sparkSession, root)),
      LakeCdfSource.maxVersionsOf(parameters),
      parameters.get("startingVersion").map(v => IndexedSeq(v.toLong)))
  }
}

/** `format("graft-lake-cdf-group")` registration (META-INF/services): a
  * transaction group of two or more tables, options `roots` (comma
  * separated) and `maxVersionsPerTrigger`.
  */
class LakeCdfGroupSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake-cdf-group"

  private def rootsOf(parameters: Map[String, String]): Seq[String] = {
    val rs = parameters.getOrElse("roots", throw new IllegalArgumentException(
      """graft-lake-cdf-group requires .option("roots", "<root>,<root>,...")"""))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(rs.size >= 2,
      s"graft-lake-cdf-group needs >= 2 roots, got $rs")
    rs
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      LakeCdfSource.groupSchema(sqlContext.sparkSession, rootsOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val roots = rootsOf(parameters)
    new LakeCdfSource(sqlContext.sparkSession, roots,
      schema.getOrElse(LakeCdfSource.groupSchema(sqlContext.sparkSession, roots)),
      LakeCdfSource.maxVersionsOf(parameters))
  }
}
