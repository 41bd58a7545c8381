package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.orchestration.LakeDag
import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `lake_daily`: the keyed-table maintenance chain [[LakeDag.stageChain]]
  * over seeded upsert and tombstone deliveries, plus a second view with
  * `minMaxCols = Seq("o_totalprice")` refreshed (and vacuumed like the
  * chain's own view) after each delivery. After every delivery the same
  * client sends a burst of seeded reads against the fresh table, each
  * collected in full before the next is sent, through the public front
  * doors only: `LakeTable.lookup`, `LakeTable.scan(...).filter`,
  * `LakeTable.readAsOf` and `MaterializedView.read`. The table is
  * z-ordered on (`o_totalprice`, `o_orderdate`), so maintenance leaves
  * behind the file layout the reads prune with.
  *
  * Set-up: the base table (delivery 0) and [[WarmReads]] reads of it.
  * Timed: [[measure]].
  */
final class LakeDaily(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}
  import spark.implicits._

  val BaseRows = 40000
  val Fresh = 1000
  val Updates = 500
  val Deletes = 200
  val NumBuckets = 4
  /** Reads sent after the timed delivery: one mix cycle of ten per 5 s of
    * the run length (40 for 20 s), never fewer than two cycles, so that the
    * tail percentile has ten samples beyond it. Whole cycles give every
    * seed the same mix of ops, and so the same op at the median and the
    * tail. Set-up sends one cycle to warm the read paths.
    */
  val Reads: Int = Req.Mix.size * math.max(2, math.round(ctx.seconds / 5).toInt)
  val WarmReads: Int = Req.Mix.size
  /** A read's request id is its delivery times this, plus its index. */
  private val IdStride = 100000

  private val zOrderCols = Seq("o_totalprice", "o_orderdate")
  private val input = ctx.dir("input")
  private def conf(k: Int) = LakeDag.StageConf(Seeds.ds(k), ctx.uri("input"),
    ctx.uri("lake"), statsCols = zOrderCols, numBuckets = NumBuckets, zOrderCols = zOrderCols)
  private val tableRoot = conf(0).tableRoot
  private val viewRoot = conf(0).viewRoot
  private val minMaxRoot = ctx.uri("lake") + "/minmax_view"
  /** The generator and in-memory model; [[generate]] keeps the one that
    * wrote the base delivery.
    */
  private var gen: LakeGen = _
  /** Input bytes of each delivery (upserts and tombstones as landed). */
  private val landedBytes = ArrayBuffer.empty[Long]
  /** The newest delivery's as-of point: taken between its upserts and its
    * tombstones, with the model of that snapshot.
    */
  private var asOfMillis = 0L
  private var asOfModel: Map[Long, Order] = Map.empty
  private val proj = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority", "o_clerk")
  private var firstTimed = Int.MaxValue
  private var returned = 0L

  def layerOf(stage: String): String = stage match {
    case "ingest_upserts" => "lake.ingest"
    case "apply_deletes" => "lake.deletes"
    case "refresh_views" => "lake.views"
    case "audit_report" => "lake.audit"
    case _ => "lake.maintenance"
  }

  /** Generate the base delivery three times (two seeds equal). */
  def generate(): Double = {
    val keep = input.resolve("upserts").resolve(s"dt=${conf(0).ds}")
    val t = generateThrice(keep) { (s, d) =>
      val g = new LakeGen(s, BaseRows, Fresh, Updates, Deletes)
      g.next(d, d.resolveSibling("no_deletes"))
      if (d == keep) gen = g
    }
    landedBytes += Files2.bytesUnder(keep)
    t
  }

  /** Run delivery `k` (already landed) through the chain and the min/max
    * view.
    */
  private def runChain(k: Int): Unit = {
    val c = conf(k)
    tracer.span("lake.delivery", c.ds, k) {
      LakeDag.stageChain.foreach { s =>
        tracer.span(layerOf(s), s, k)(LakeDag.runStage(spark, s, c))
        if (s == "ingest_upserts") {
          asOfMillis = System.currentTimeMillis()
          Thread.sleep(5)
        }
      }
      tracer.span("lake.minmax", "minmax_view", k) {
        if (k == 0)
          MaterializedView.init(spark, c.tableRoot, minMaxRoot, c.groupCols,
            c.sumCols, minMaxCols = Seq("o_totalprice"))
        else MaterializedView.refresh(spark, c.tableRoot, minMaxRoot)
        MaterializedView.vacuum(spark, minMaxRoot, c.keepVersions)
      }
    }
    asOfModel = gen.live.toMap ++ gen.lastDeleted
  }

  /** Land the next delivery and time it through the chain. */
  private def deliver(): Int = {
    val c = conf(gen.delivered)
    val up = input.resolve("upserts").resolve(s"dt=${c.ds}")
    val del = input.resolve("deletes").resolve(s"dt=${c.ds}")
    val rows = gen.next(up, del)
    landedBytes += Files2.bytesUnder(up) + Files2.bytesUnder(del)
    val k = gen.delivered - 1
    val wall = timed(s"lake delivery ${c.ds}")(runChain(k))
    deliveries += ((wall, rows.toLong))
    k
  }

  // ---- reads --------------------------------------------------------------

  private def run(q: Req): Array[Row] = q.op match {
    case "lookup" =>
      LakeTable.lookup(spark, tableRoot, q.keys.toDF("o_orderkey")).select(proj.map(col): _*).collect()
    case "range" =>
      LakeTable.scan(spark, tableRoot)
        .filter(col("o_totalprice").between(q.lo / 100.0, q.hi / 100.0))
        .select(proj.map(col): _*).collect()
    case "full" =>
      LakeTable.scan(spark, tableRoot).filter(col("o_clerk") === Order.clerkName(q.clerk))
        .select(proj.map(col): _*).collect()
    case "asof" =>
      LakeTable.readAsOf(spark, tableRoot, asOfMillis).filter(col("o_custkey") === q.cust)
        .select(proj.map(col): _*).collect()
    case "view" =>
      MaterializedView.read(spark, viewRoot)
        .filter(col("o_orderpriority") === Order.Priorities(q.prio))
        .select("o_orderpriority", "cnt", "sum_o_totalprice").collect()
  }

  private def rowKey5(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${math.round(r.getDouble(2) * 100)}|${r.getString(3)}|${r.getString(4)}"
  private def rowKey5(o: Order): String =
    s"${o.key}|${o.cust}|${o.cents}|${o.priority}|${o.clerkName}"

  private def digestOf(q: Req, rows: Array[Row]): (Long, Long) =
    if (q.op == "view") digest(rows.iterator.map(r =>
      s"${r.getString(0)}|${r.getLong(1)}|${r.getAs[java.math.BigDecimal](2).movePointRight(2).longValueExact}"))
    else digest(rows.iterator.map(rowKey5))

  /** Whether model order `o` answers row request `q` (not `view`). */
  private def answers(q: Req)(o: Order): Boolean = q.op match {
    case "lookup" => q.keys.contains(o.key)
    case "range" => o.cents >= q.lo && o.cents <= q.hi
    case "full" => o.clerk == q.clerk
    case "asof" => o.cust == q.cust
  }

  /** The same predicate over a model of the table: `live` for every op
    * but `asof`, which reads the snapshot model `asOf`.
    */
  private def expected(q: Req, live: collection.Map[Long, Order],
      asOf: collection.Map[Long, Order]): (Long, Long) = q.op match {
    case "view" =>
      val p = Order.Priorities(q.prio)
      val os = live.valuesIterator.filter(_.priority == p).toSeq
      digest(Iterator(s"$p|${os.size}|${os.map(_.cents).sum}"))
    case "asof" => digest(asOf.valuesIterator.filter(answers(q)).map(rowKey5))
    case _ => digest(live.valuesIterator.filter(answers(q)).map(rowKey5))
  }

  /** Requests whose result digest differs from the model's. */
  private def mismatched(sent: collection.Seq[(Req, (Long, Long))], live: collection.Map[Long, Order],
      asOf: collection.Map[Long, Order]): collection.Seq[(Req, (Long, Long))] =
    sent.filter { case (q, got) => got != expected(q, live, asOf) }

  /** Generate delivery `k`'s list of `n` requests into a file, send them
    * one by one, then check each result against the model.
    */
  private def readBurst(k: Int, n: Int): Unit = {
    val file = input.resolve("requests").resolve(s"dt=${Seeds.ds(k)}.tsv")
    val keys = gen.live.keys.toArray
    java.util.Arrays.sort(keys)
    Files.createDirectories(file.getParent)
    Files.write(file, Req.generate(ctx.seed, k, n, keys, gen.custs).map(_.line).asJava)
    val sent = Files.readAllLines(file).asScala.map(Req.parse).map { q =>
      var rows: Array[Row] = Array.empty
      val id = k * IdStride + q.id
      val wall = timed(s"read $id ${q.op}") {
        rows = tracer.span(s"reads.${q.op}", q.op, id)(run(q))
      }
      reads += wall * 1e3
      returned += rows.length
      q -> digestOf(q, rows)
    }
    val live = gen.live
    mismatched(sent, live, asOfModel).take(3).foreach { case (q, got) =>
      problems += s"read dt=${Seeds.ds(k)} ${q.line}: result digest $got, " +
        s"model ${expected(q, live, asOfModel)}"
    }
    // negative control: the model without one row that a non-empty result
    // holds must no longer match that result
    sent.iterator.filter { case (q, (n, _)) => q.op != "view" && q.op != "asof" && n > 0 }
      .flatMap { case sample @ (q, _) => live.valuesIterator.find(answers(q)).map(o => (sample, o.key)) }
      .nextOption() match {
      case None => problems += s"negative control: no read of dt=${Seeds.ds(k)} returned a modelled row"
      case Some((sample, drop)) =>
        if (mismatched(Seq(sample), live.clone() -= drop, asOfModel).isEmpty)
          problems += s"negative control: model without order $drop still matched ${sample._1.line}"
    }
  }

  def prepare(): Unit = {
    runChain(0)
    readBurst(0, WarmReads)
    deliveries.clear(); reads.clear(); attempted = 0; failed = 0; returned = 0
  }

  /** One delivery, then its [[Reads]] reads. The amount of work is fixed,
    * so the state on disk (and `space_amp`) does not depend on speed.
    */
  def measure(): Unit = {
    firstTimed = gen.delivered
    readBurst(deliver(), Reads)
  }

  // ---- correctness ------------------------------------------------------

  private val tableCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority", "o_clerk",
    "o_shippriority", "o_comment")

  private def rowKey(o: Order): String =
    s"${o.key}|${o.cust}|${o.status}|${o.cents}|${o.date}|${o.priority}|${o.clerkName}|${o.ship}|${o.comment}"

  private def rowKey(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${math.round(r.getDouble(3) * 100)}|" +
      s"${r.getInt(4)}|${r.getString(5)}|${r.getString(6)}|${r.getInt(7)}|${r.getString(8)}"

  /** Order-independent (count, hash) of a row set. */
  private def digest(keys: Iterator[String]): (Long, Long) =
    keys.foldLeft((0L, 0L)) { case ((n, h), k) => (n + 1, h + (MurmurHash3.stringHash(k) & 0xffffffffL)) }

  /** The table as served, with the date as epoch days. */
  private def tableRows(df: DataFrame): Array[Row] =
    df.select(tableCols.map(c => if (c == "o_orderdate") unix_date(col(c)).alias(c) else col(c)): _*)
      .collect()

  /** Per-priority (cnt, sum in cents, min cents, max cents) of the model. */
  private def groups(rows: Iterable[Order]): Map[String, (Long, Long, Long, Long)] =
    rows.groupBy(_.priority).map { case (p, os) =>
      p -> ((os.size.toLong, os.map(_.cents).sum, os.map(_.cents).min, os.map(_.cents).max))
    }

  /** View rows against the model's groups; `minMax` also compares extrema. */
  private def viewMismatches(view: Array[Row], want: Map[String, (Long, Long, Long, Long)],
      minMax: Boolean): Seq[String] = {
    val got = view.map { r =>
      val sumCents = r.getAs[java.math.BigDecimal]("sum_o_totalprice").movePointRight(2)
        .setScale(0, java.math.RoundingMode.UNNECESSARY).longValueExact
      val mm = if (!minMax) (0L, 0L) else
        (math.round(r.getAs[Double]("min_o_totalprice") * 100),
          math.round(r.getAs[Double]("max_o_totalprice") * 100))
      r.getAs[String]("o_orderpriority") -> ((r.getAs[Long]("cnt"), sumCents, mm._1, mm._2))
    }.toMap
    val wantCmp = if (minMax) want else want.map { case (p, v) => p -> v.copy(_3 = 0L, _4 = 0L) }
    if (got == wantCmp) Nil
    else Seq(s"view${if (minMax) " (min/max)" else ""}: served $got, model $wantCmp")
  }

  /** Audit rows, final table and both views against the model. */
  def check(): Unit = {
    val audits = spark.read.parquet(ctx.uri("lake") + "/report").collect()
    if (audits.length != gen.delivered)
      problems += s"audit_report: ${audits.length} rows for ${gen.delivered} deliveries"
    audits.filterNot(r => r.getAs[Boolean]("consistent") && r.getAs[Boolean]("integrity_ok") &&
      r.getAs[Boolean]("cardinality_ok")).take(3).foreach(r => problems += s"audit_report: $r")
    val served = digest(tableRows(LakeTable.read(spark, tableRoot)).iterator.map(rowKey))
    val model = digest(gen.live.valuesIterator.map(rowKey))
    if (served != model) problems += s"table: served (rows, hash) $served, model $model"
    val want = groups(gen.live.values)
    problems ++= viewMismatches(MaterializedView.read(spark, viewRoot).collect(), want, minMax = false)
    val mm = MaterializedView.read(spark, minMaxRoot).collect()
    problems ++= viewMismatches(mm, want, minMax = true)
    // negative control: a corrupted expected count must be caught
    val (p0, v0) = want.head
    if (viewMismatches(mm, want + (p0 -> v0.copy(_1 = v0._1 + 1)), minMax = true).isEmpty)
      problems += "negative control: a corrupted expected view count was not detected"
  }

  def outputs: (Seq[Path], Seq[DataFrame]) =
    (Seq(ctx.dir("lake")),
      Seq(LakeTable.read(spark, tableRoot), MaterializedView.read(spark, viewRoot),
        MaterializedView.read(spark, minMaxRoot),
        spark.read.parquet(ctx.uri("lake") + "/report")))

  def layerMetrics(): Seq[(String, Double)] = {
    val lake = Seq("lake.ingest", "lake.deletes", "lake.maintenance", "lake.views",
      "lake.minmax", "lake.audit").flatMap { l =>
      val c = tracer.layer(l, firstTimed)
      Counters.names.map(n => s"$l.$n" -> Counters.get(c, n))
    }
    val readLayers = Seq("lookup", "range", "full", "asof", "view").flatMap { op =>
      val c = tracer.layer(s"reads.$op", firstTimed * IdStride)
      Counters.names.filterNot(_ == "bytes_written").map(n => s"reads.$op.$n" -> Counters.get(c, n))
    }
    val written = tracer.sum(_ == "lake.delivery", firstTimed)(_.bytesWritten)
    val scanned = tracer.sum(_.startsWith("reads."), firstTimed * IdStride)(_.recordsRead)
    lake ++ readLayers ++ Seq(
      "lake.write_amp" -> written / math.max(1L, landedBytes.drop(firstTimed).sum),
      "reads.scan_amp" -> scanned / math.max(1L, returned))
  }
}
