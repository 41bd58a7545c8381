package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sinks.{LakeTable, MaterializedView}

/** Streaming maintenance of a keyed lake table AND its gold aggregate in
  * one micro-batch loop — the streaming twin of the reference's
  * load-then-aggregate warehouse DAG (its batch run recomputes gold from
  * scratch, `dags/coin_data_pipeline_optimized.py:923-933`; here gold
  * advances by the change feed the upsert itself produced).
  *
  * Per batch: `LakeTable.merge(batch)` (touched-bucket copy-on-write)
  * then `MaterializedView.refresh` (CDF-driven, O(delta)). Exactly-once
  * EFFECT with no extra bookkeeping, because the two halves compose:
  *
  *  - a REPLAYED batch re-merges identical rows — the rewritten buckets'
  *    rows are value-identical, so the change feed between the retry's
  *    versions is EMPTY and the view does not move (the feed, not an
  *    offset ledger, is what nets out the replay);
  *  - a crash between merge and refresh just leaves the view one sync
  *    behind; the next batch's refresh folds both deliveries' feed in —
  *    and the view's own crash window is covered by
  *    [[MaterializedView.refresh]]'s pinned-snapshot marker protocol.
  *
  * Scale: each trigger pays O(batch ∪ touched buckets), never O(table) —
  * the construction a 100 TB gold table needs from a daily-delivery
  * stream.
  */
object LakeStreaming {

  /** Caller starts the returned writer with a checkpointLocation and
    * trigger. The lake table must exist ([[LakeTable.init]]) and the view
    * must be initialized over it ([[MaterializedView.init]]) before the
    * stream starts.
    */
  def goldIngest(source: DataFrame, tableRoot: String, mvRoot: String,
      orderCol: Option[String] = None): DataStreamWriter[Row] =
    source.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        // localCheckpoint: the merge consumes the batch twice (touched-
        // bucket collect + rewrite); a streaming source can't be re-read
        val b = batch.toDF().localCheckpoint()
        try {
          LakeTable.merge(spark, tableRoot, b, orderCol)
          MaterializedView.refresh(spark, tableRoot, mvRoot)
        } finally b.unpersist(blocking = false)
        ()
    }

  /** [[goldIngest]] for a JOIN view: the stream delivers FACT rows; the
    * dim evolves out-of-band (its own deliveries land between batches).
    * Per batch: fact merge, then [[graft.sinks.JoinMaterializedView
    * .refresh]] — which folds BOTH the batch's fact feed and any dim
    * versions that landed since the last sync, so a dim attribute move
    * published mid-stream re-attributes history in the next trigger
    * without a separate scheduler. The replay-nets-to-empty and
    * crash-one-sync-behind arguments carry over verbatim: both halves
    * read change feeds, not offsets.
    */
  def joinGoldIngest(source: DataFrame, factRoot: String, dimRoot: String,
      mvRoot: String, orderCol: Option[String] = None): DataStreamWriter[Row] =
    source.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint()
        try {
          LakeTable.merge(spark, factRoot, b, orderCol)
          graft.sinks.JoinMaterializedView.refresh(spark, factRoot,
            dimRoot, mvRoot)
        } finally b.unpersist(blocking = false)
        ()
    }

  /** CDC table replication: subscribe to `sourceRoot`'s change feed
    * ([[LakeCdfSource]], `graft-lake-cdf`) and keep `targetRoot` — a
    * pre-initialized lake table with the same keys — converged to it. The
    * consumer half of the streaming lakehouse loop: the producer's commits
    * become the stream's offsets, so the mirror is EXACTLY-ONCE by
    * construction (checkpoint recovery replays a deterministic version
    * span; merge and deleteMor are idempotent on identical rows, so even a
    * replayed batch converges instead of double-applying). The first batch
    * bootstraps from the source's snapshot-as-inserts; after that every
    * trigger costs O(span delta), never O(table). It is the one-member case
    * of [[mirrorTxnGroup]]: same batch applier, the stream tagged with its
    * root as `_table`. Start the returned writer with a checkpointLocation
    * and a trigger.
    */
  def mirror(spark: org.apache.spark.sql.SparkSession, sourceRoot: String,
      targetRoot: String): DataStreamWriter[Row] =
    applyTxnBatches(spark.readStream.format("graft-lake-cdf")
      .option("root", sourceRoot).load()
      .withColumn("_table", org.apache.spark.sql.functions.lit(sourceRoot)),
      Seq((sourceRoot, targetRoot)))

  /** TRANSACTION-CONSISTENT replication of a table GROUP (two or more
    * members): one stream over [[LakeCdfSource]] (`graft-lake-cdf-group`)
    * whose vector offset is a consistent cut — no batch ever contains part
    * of a [[graft.sinks.LakeTxn]] commit without the rest — applied to
    * every target inside ONE trigger. Between triggers the targets hold a
    * cut state too: a reader joining the mirrors sees a transaction as
    * not-yet-arrived or as fully-arrived, NEVER torn (the gap independent
    * [[mirror]] streams cannot close). The single-trigger window between
    * target applies is the familiar foreachBatch non-atomicity — a crash
    * inside it replays the batch, and the appliers are idempotent, so
    * convergence holds; mirrors that must be externally queryable
    * mid-trigger should be read through their own [[graft.sinks.LakeTxn]]
    * on the target side.
    */
  def mirrorTxnGroup(spark: org.apache.spark.sql.SparkSession,
      srcToTgt: Seq[(String, String)],
      maxVersionsPerTrigger: Option[Long] = None): DataStreamWriter[Row] = {
    val reader0 = spark.readStream.format("graft-lake-cdf-group")
      .option("roots", srcToTgt.map(_._1).mkString(","))
    maxVersionsPerTrigger.foreach(n =>
      reader0.option("maxVersionsPerTrigger", n.toString))
    applyTxnBatches(reader0.load(), srcToTgt)
  }

  /** The one batch applier of every mirror. Per member: upserts (insert +
    * update_postimage) then deletes — the feed NETS per key within a
    * span, so one key never carries both in the same batch; preimages are
    * informational and skipped.
    */
  private def applyTxnBatches(stream: DataFrame,
      srcToTgt: Seq[(String, String)]): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF().localCheckpoint()
        // ONE action decides which halves exist for EVERY member AND
        // precomputes each member's upsert-touched buckets under its
        // TARGET's layout (per-table bucket expr switched on _table), so
        // the per-member merges skip their probe jobs too — bounded
        // collect: ≤ members × kinds × numBuckets rows.
        val targetMeta = srcToTgt.map { case (src, tgt) =>
          src -> LakeTable.manifest(s, tgt) }.toMap
        val bucketCol = srcToTgt.foldLeft(lit(null).cast("int")) {
          case (acc, (src, _)) =>
            val tm = targetMeta(src)
            when(col("_table") === src,
              LakeTable.bucketExprFor(tm.keys, tm.numBuckets)).otherwise(acc)
        }
        val probe = b.groupBy(col("_table"), col("_change_type"),
          bucketCol.alias("__b")).count().collect()
        val kindsAll = probe.groupBy(r => (r.getString(0), r.getString(1)))
          .view.mapValues(_.map(_.getLong(3)).sum).toMap
        val upKinds = Set("insert", "update_postimage")
        val touchedAll: Map[String, Set[Int]] = probe.iterator
          .filter(r => upKinds(r.getString(1)) && !r.isNullAt(2))
          .toSeq.groupBy(_.getString(0))
          .map { case (t, rs) => t -> rs.map(_.getInt(2)).toSet }
        try srcToTgt.foreach { case (src, tgt) =>
          // project onto the SOURCE table's schema (its columns are
          // exactly the non-null ones for this side's rows): merge's
          // additive widening then carries a source-side column add to
          // the target — projecting onto the TARGET's schema would drop
          // the new column from the replica forever. Intersected with
          // the batch's pinned columns: a widening that happened AFTER
          // stream creation isn't in the feed yet (restart the stream
          // to pick it up — the source's pinned-schema contract).
          val cols = org.apache.spark.sql.types.StructType
            .fromDDL(LakeTable.manifest(s, src).schemaDdl)
            .fieldNames.toSeq.filter(b.columns.contains)
          val side = b.filter(col("_table") === src)
          val kinds = kindsAll.collect { case ((t, k), n) if t == src => k -> n }
          val tm = targetMeta(src)
          val touched = LakeTable.TouchedHint(tm.keys, tm.numBuckets,
            touchedAll.getOrElse(src, Set.empty))
          val ups = side.filter(col("_change_type")
            .isin("insert", "update_postimage")).select(cols.map(col): _*)
          val dels = side.filter(col("_change_type") === "delete")
            .select(cols.map(col): _*)
          if (kinds.getOrElse("insert", 0L) +
              kinds.getOrElse("update_postimage", 0L) > 0)
            LakeTable.mergeTagged(s, tgt, ups, None, None, Some(touched))
          if (kinds.getOrElse("delete", 0L) > 0)
            LakeTable.deleteMor(s, tgt, dels)
        } finally b.unpersist(blocking = false)
        ()
    }
  }
}
