package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Every generator is a pure function of the
  * seed (and, for a delivery, of its index): the same seed gives
  * byte-identical files, another seed different ones. The engine only
  * ever sees the files written here.
  */
object Seeds {
  /** Independent stream `k` of `seed` (SplitMix64 finaliser). */
  def rng(seed: Long, k: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  def ds(k: Int): String = LocalDate.of(2026, 1, 10).plusDays(k.toLong).toString
}

/** Per-coin aggregates of one delivery, as the gold layer defines them. */
final class CoinAgg {
  var n = 0
  var sum, mcapSum = 0.0
  var min = Double.PositiveInfinity
  var max = Double.NegativeInfinity
}

/** Coin bronze: one JSON array per `dt` in the CoinGecko `/coins/markets`
  * shape of the reference fixture (all 26 fields, a bare `NaN` for `roi`
  * and for an uncapped `max_supply`). The universe polls intraday:
  * `snapshots` rows per coin per day, each with its own `last_updated`,
  * so `(coin_id, last_updated)` is unique.
  */
final class CoinGen(seed: Long, val coins: Int, val snapshots: Int) {
  private final class Coin(val id: String, val symbol: String, val name: String,
      val price0: Double, val supply: Double, val maxSupply: Double, val atlDay: Int)

  private val universe: IndexedSeq[Coin] = {
    val r = Seeds.rng(seed, -1L)
    (1 to coins).map { i =>
      val supply = math.rint(math.exp(r.nextDouble(13.0, 23.0)))
      new Coin(String.format(Locale.ROOT, "coin-%05d", Int.box(i)), s"c$i", s"Coin $i",
        math.exp(r.nextDouble(-6.0, 10.0)), supply,
        if (r.nextInt(3) == 0) Double.NaN else math.rint(supply * 1.5),
        r.nextInt(3000))
    }
  }

  /** Delivery `k`: the JSON bytes, the per-coin aggregates of the prices
    * written, and the number of rows.
    */
  def delivery(k: Int): (Array[Byte], Map[String, CoinAgg], Int) = {
    val r = Seeds.rng(seed, k.toLong)
    val dt = Seeds.ds(k)
    val aggs = mutable.LinkedHashMap.empty[String, CoinAgg]
    val sb = new java.lang.StringBuilder(coins * snapshots * 700)
    def d(x: Double): String = if (x.isNaN) "NaN" else java.lang.Double.toString(x)
    def round8(x: Double): Double =
      new java.math.BigDecimal(x).round(new java.math.MathContext(8)).doubleValue
    sb.append('[')
    var first = true
    val stepMin = 1440 / snapshots
    for (j <- 0 until snapshots; c <- universe) {
      val drift = math.exp(0.05 * (k + j.toDouble / snapshots) * r.nextDouble(-1.0, 1.0))
      val price = round8(c.price0 * drift)
      val mcap = math.round(price * c.supply)
      val a = aggs.getOrElseUpdate(c.id, new CoinAgg)
      a.n += 1; a.sum += price; a.mcapSum += mcap.toDouble
      a.min = math.min(a.min, price); a.max = math.max(a.max, price)
      val minute = j * stepMin + (c.id.hashCode & 0x7fffffff) % stepMin
      val ts = String.format(Locale.ROOT, "%sT%02d:%02d:%02d.%03dZ", dt,
        Int.box(minute / 60), Int.box(minute % 60),
        Int.box(r.nextInt(60)), Int.box(r.nextInt(1000)))
      val change = round8(price * r.nextDouble(-0.08, 0.08))
      val ath = round8(price * (1.0 + r.nextDouble(0.0, 4.0)))
      val atl = round8(price * r.nextDouble(0.01, 1.0))
      if (!first) sb.append(", ")
      first = false
      sb.append("{\"id\": \"").append(c.id)
        .append("\", \"symbol\": \"").append(c.symbol)
        .append("\", \"name\": \"").append(c.name)
        .append("\", \"image\": \"https://example.invalid/coins/").append(c.id).append(".png")
        .append("\", \"current_price\": ").append(d(price))
        .append(", \"market_cap\": ").append(mcap)
        .append(", \"market_cap_rank\": ").append(c.id.drop(5).toInt)
        .append(", \"fully_diluted_valuation\": ")
        .append(math.round(price * (if (c.maxSupply.isNaN) c.supply else c.maxSupply)))
        .append(", \"total_volume\": ").append(d(math.rint(mcap * r.nextDouble(0.001, 0.2))))
        .append(", \"high_24h\": ").append(d(round8(price * 1.03)))
        .append(", \"low_24h\": ").append(d(round8(price * 0.97)))
        .append(", \"price_change_24h\": ").append(d(change))
        .append(", \"price_change_percentage_24h\": ").append(d(round8(100.0 * change / price)))
        .append(", \"market_cap_change_24h\": ").append(d(round8(change * c.supply)))
        .append(", \"market_cap_change_percentage_24h\": ").append(d(round8(100.0 * change / price)))
        .append(", \"circulating_supply\": ").append(d(c.supply))
        .append(", \"total_supply\": ").append(d(c.supply))
        .append(", \"max_supply\": ").append(d(c.maxSupply))
        .append(", \"ath\": ").append(d(ath))
        .append(", \"ath_change_percentage\": ").append(d(round8(100.0 * (price - ath) / ath)))
        .append(", \"ath_date\": \"").append(Seeds.ds(k - 1)).append("T12:00:00.000Z")
        .append("\", \"atl\": ").append(d(atl))
        .append(", \"atl_change_percentage\": ").append(d(round8(100.0 * (price - atl) / atl)))
        .append(", \"atl_date\": \"")
        .append(LocalDate.of(2018, 1, 1).plusDays(c.atlDay.toLong)).append("T00:00:00.000Z")
        .append("\", \"roi\": NaN, \"last_updated\": \"").append(ts).append("\"}")
    }
    sb.append(']')
    (sb.toString.getBytes("UTF-8"), aggs.toMap, coins * snapshots)
  }
}

/** One `orders`-shaped row of the keyed lake table (TPC-H `orders`
  * columns; prices in whole cents so the views' decimal sums are exact).
  */
final case class Order(key: Long, cust: Long, status: String, cents: Long,
    date: Int, prio: Int, clerk: Int, ship: Int, comment: String) {
  def price: Double = cents / 100.0
  def priority: String = Order.Priorities(prio)
  def clerkName: String = Order.clerkName(clerk)
}

object Order {
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Clerks = 1000
  def clerkName(c: Int): String = String.format(Locale.ROOT, "Clerk#%09d", Int.box(c))
  private val words = IndexedSeq("quickly", "final", "deposits", "sleep",
    "furiously", "regular", "accounts", "ironic", "packages", "blithely",
    "pending", "requests", "carefully", "express", "theodolites", "bold")

  val schema = MessageTypeParser.parseMessageType(
    """message orders {
      |  optional int64 o_orderkey;
      |  optional int64 o_custkey;
      |  optional binary o_orderstatus (STRING);
      |  optional double o_totalprice;
      |  optional int32 o_orderdate (DATE);
      |  optional binary o_orderpriority (STRING);
      |  optional binary o_clerk (STRING);
      |  optional int32 o_shippriority;
      |  optional binary o_comment (STRING);
      |}""".stripMargin)
  val keySchema = MessageTypeParser.parseMessageType(
    "message keys { optional int64 o_orderkey; }")

  def random(r: SplittableRandom, key: Long, custs: Int): Order = Order(key,
    1L + r.nextInt(custs), Seq("O", "F", "P")(r.nextInt(3)),
    r.nextLong(90000L, 50000000L), 8035 + r.nextInt(2405),
    r.nextInt(Priorities.size), 1 + r.nextInt(Clerks), 0,
    (0 until 3 + r.nextInt(5)).map(_ => words(r.nextInt(words.size))).mkString(" "))

  /** Write `rows` as one snappy parquet file (no Spark job: the writer is
    * deterministic, so the same rows give the same bytes).
    */
  def writeParquet(file: Path, rows: Iterator[Order]): Unit = {
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withConf(new Configuration()).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { o =>
      w.write(f.newGroup().append("o_orderkey", o.key).append("o_custkey", o.cust)
        .append("o_orderstatus", o.status).append("o_totalprice", o.price)
        .append("o_orderdate", o.date).append("o_orderpriority", o.priority)
        .append("o_clerk", o.clerkName).append("o_shippriority", o.ship)
        .append("o_comment", o.comment))
    } finally w.close()
  }

  def writeKeys(file: Path, keys: Seq[Long]): Unit = {
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withConf(new Configuration()).withType(keySchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(keySchema)
    try keys.foreach(k => w.write(f.newGroup().append("o_orderkey", k)))
    finally w.close()
  }
}

/** Lake deliveries and the in-memory model they imply. Delivery 0 is
  * the base table; every later delivery carries `fresh` new keys,
  * `updates` rewrites of recent keys (skewed toward the newest) and
  * `deletes` tombstones of live keys. [[live]] is the table with every
  * delivery so far applied in order (upserts, then tombstones).
  */
final class LakeGen(seed: Long, val baseRows: Int, val fresh: Int,
    val updates: Int, val deletes: Int) {
  val custs: Int = math.max(1000, baseRows / 10)
  val live = mutable.LongMap.empty[Order]
  private var nextKey = 1L
  /** Rows that the newest delivery's tombstones removed (for as-of reads
    * of the snapshot between its upserts and its deletes).
    */
  var lastDeleted: Map[Long, Order] = Map.empty
  var delivered = 0

  /** Generate delivery `delivered` into `upsertsDir`/`deletesDir` (as the
    * `part-0.parquet` of each), apply it to the model; returns the number
    * of input rows.
    */
  def next(upsertsDir: Path, deletesDir: Path): Int = {
    val k = delivered
    val r = Seeds.rng(seed, k.toLong)
    val ups: Seq[Order] =
      if (k == 0) (0 until baseRows).map(_ => newOrder(r))
      else {
        val keys = live.keys.toArray
        java.util.Arrays.sort(keys)
        val picked = mutable.LinkedHashSet.empty[Long]
        while (picked.size < math.min(updates, keys.length)) {
          val u = r.nextDouble()
          picked += keys(keys.length - 1 - (keys.length * u * u * u).toInt)
        }
        val upd = picked.toSeq.map { key =>
          val o = live(key)
          o.copy(status = "F", cents = r.nextLong(90000L, 50000000L),
            prio = r.nextInt(Order.Priorities.size))
        }
        upd ++ (0 until fresh).map(_ => newOrder(r))
      }
    val dels: Seq[Long] =
      if (k == 0) Nil
      else {
        val touched = ups.map(_.key).toSet
        val keys = live.keys.filterNot(touched).toArray
        java.util.Arrays.sort(keys)
        val picked = mutable.LinkedHashSet.empty[Long]
        while (picked.size < math.min(deletes, keys.length))
          picked += keys(r.nextInt(keys.length))
        picked.toSeq
      }
    Order.writeParquet(upsertsDir.resolve("part-0.parquet"), ups.iterator)
    if (dels.nonEmpty) Order.writeKeys(deletesDir.resolve("part-0.parquet"), dels)
    ups.foreach(o => live(o.key) = o)
    lastDeleted = dels.flatMap(d => live.get(d).map(d -> _)).toMap
    dels.foreach(live.remove)
    delivered += 1
    ups.size + dels.size
  }

  private def newOrder(r: SplittableRandom): Order = {
    val o = Order.random(r, nextKey, custs)
    nextKey += 1
    o
  }
}

/** A lake read request of the `lake_reads` mix. */
final case class Req(id: Int, op: String, keys: Seq[Long], lo: Long, hi: Long,
    clerk: Int, cust: Long, prio: Int) {
  def line: String = Seq(id, op, keys.mkString(","), lo, hi, clerk, cust, prio).mkString("\t")
}

object Req {
  /** Requests per cycle of ten: every cycle holds exactly this mix, in a
    * seeded order, so every seed sees the same proportions.
    */
  val Mix: Seq[String] = Seq("lookup", "lookup", "lookup", "lookup", "range",
    "range", "full", "asof", "view", "view")

  def parse(line: String): Req = {
    val f = line.split("\t", -1)
    Req(f(0).toInt, f(1), if (f(2).isEmpty) Nil else f(2).split(",").map(_.toLong).toSeq,
      f(3).toLong, f(4).toLong, f(5).toInt, f(6).toLong, f(7).toInt)
  }

  /** The `n` requests sent after delivery `k`, over a table whose live
    * keys are `keys` (ascending). Lookup keys are skewed toward the newest
    * keys; a range selects about one row in a thousand of the price axis.
    */
  def generate(seed: Long, k: Int, n: Int, keys: Array[Long], custs: Int): Seq[Req] = {
    val r = Seeds.rng(seed, (1L << 40) + k)
    val ops = (0 until (n + Mix.size - 1) / Mix.size).flatMap { _ =>
      val c = Mix.toArray
      for (i <- c.indices.reverse) {
        val j = r.nextInt(i + 1); val t = c(i); c(i) = c(j); c(j) = t
      }
      c.toSeq
    }.take(n)
    ops.zipWithIndex.map { case (op, id) =>
      val base = Req(id, op, Nil, 0L, 0L, 0, 0L, 0)
      op match {
        case "lookup" => base.copy(keys = (0 until 10).map { _ =>
          val u = r.nextDouble()
          keys(keys.length - 1 - (keys.length * u * u * u).toInt)
        }.distinct)
        case "range" =>
          val lo = r.nextLong(90000L, 50000000L - 50000L)
          base.copy(lo = lo, hi = lo + 50000L)
        case "full" => base.copy(clerk = 1 + r.nextInt(Order.Clerks))
        case "asof" => base.copy(cust = 1L + r.nextInt(custs))
        case "view" => base.copy(prio = r.nextInt(Order.Priorities.size))
      }
    }
  }
}
