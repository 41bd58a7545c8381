package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.orchestration.CoinDag
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `coin_daily`: the flagship medallion chain, one seeded bronze delivery
  * per `dt` through the 13 offline stages of [[CoinDag.stageChain]]
  * (every stage but `extract`, which needs the network). After each
  * delivery the client reads the served gold for a few coins of that
  * `dt`, as a dashboard would.
  */
final class CoinDaily(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}

  val Coins = 600
  val Snapshots = 8
  /** The first delivery pays the JVM's cold start: it is set-up. */
  val WarmDeliveries = 1
  val ReadsPerDelivery = 10
  /** Timed deliveries: one per 5 s of the run length (4 for 20 s; a warm
    * delivery with its reads takes about that long on a 4-core box). The
    * count is fixed, so the tables, which grow with every delivery, end
    * in the same state however fast the engine is.
    */
  val TimedDeliveries: Int = math.max(1, math.round(ctx.seconds / 5).toInt)

  private val gen = new CoinGen(ctx.seed, Coins, Snapshots)
  private val stages = CoinDag.stageChain.filterNot(_ == "extract")
  private val raw = ctx.dir("input/raw")
  private def conf(k: Int) = CoinDag.StageConf(Seeds.ds(k), raw.toString,
    ctx.uri("bronze"), ctx.uri("lake"), ctx.uri("serve"))
  /** What the generator wrote, per `dt`: the gold the engine must serve. */
  private val expected = mutable.LinkedHashMap.empty[String, Map[String, CoinAgg]]
  private var next = 0
  /** Bronze bytes landed in the timed window, and its first delivery. */
  private var timedBronzeBytes = 0L
  private var firstTimed = Int.MaxValue

  def layerOf(stage: String): String = stage match {
    case "create_tables" | "upload_raw_to_s3" | "transform_bronze_to_silver" => "coin.ingest"
    case "build_gold_minio" => "coin.gold"
    case "load_dim" | "load_fact" | "load_gold_postgres" => "coin.serve"
    case _ => "coin.gates"
  }

  private def land(k: Int): Long = {
    val (bytes, aggs, _) = gen.delivery(k)
    Files.createDirectories(raw)
    Files.write(raw.resolve(s"coins_${Seeds.ds(k)}.json"), bytes)
    expected(Seeds.ds(k)) = aggs
    bytes.length.toLong
  }

  def generate(): Double = generateThrice(raw) { (s, d) =>
    Files.createDirectories(d)
    Files.write(d.resolve("coins_probe.json"), new CoinGen(s, Coins, Snapshots).delivery(0)._1)
  }

  /** Land delivery `next`, run the chain, then the served reads. */
  private def deliver(): Long = {
    val k = next
    next += 1
    val bytes = land(k)
    val c = conf(k)
    val wall = timed(s"coin delivery ${c.ds}") {
      tracer.span("coin.delivery", c.ds, k) {
        stages.foreach(s => tracer.span(layerOf(s), s, k)(CoinDag.runStage(spark, s, c)))
      }
    }
    deliveries += ((wall, (Coins * Snapshots).toLong))
    val r = Seeds.rng(ctx.seed, 1000L + k)
    for (_ <- 0 until ReadsPerDelivery) {
      val coin = String.format(java.util.Locale.ROOT, "coin-%05d", Int.box(1 + r.nextInt(Coins)))
      var got: Array[Row] = Array.empty
      reads += 1e3 * timed(s"served read dt=${c.ds} $coin") {
        got = spark.read.parquet(s"${c.serveRoot}/gold_coin_daily_metrics")
          .filter(col("dt") === c.ds && col("coin_id") === coin)
          .select("max_price_usd").collect()
      }
      val want = expected(c.ds).get(coin).map(_.max)
      if (got.map(_.getDouble(0)).toSeq != want.toSeq)
        problems += s"served read dt=${c.ds} $coin: got ${got.toSeq}, want $want"
    }
    bytes
  }

  def prepare(): Unit = {
    Files2.deleteTree(raw)
    for (_ <- 0 until WarmDeliveries) deliver()
    deliveries.clear(); reads.clear(); attempted = 0; failed = 0
  }

  def measure(): Unit = {
    firstTimed = next
    for (_ <- 0 until TimedDeliveries) timedBronzeBytes += deliver()
  }

  /** Served gold rows against the generator's own aggregates. */
  private def goldMismatches(rows: Seq[Row], want: collection.Map[String, Map[String, CoinAgg]]): Seq[String] = {
    val got = rows.map(r => (r.getAs[String]("dt"), r.getAs[String]("coin_id")) -> r).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    val missing = want.toSeq.flatMap { case (dt, aggs) =>
      aggs.toSeq.flatMap { case (coin, a) =>
        got.get((dt, coin)) match {
          case None => Seq(s"gold dt=$dt $coin missing")
          case Some(r) =>
            val ok = r.getAs[Double]("min_price_usd") == a.min &&
              r.getAs[Double]("max_price_usd") == a.max &&
              close(r.getAs[Double]("avg_price_usd"), a.sum / a.n) &&
              close(r.getAs[Double]("avg_market_cap"), a.mcapSum / a.n)
            if (ok) Nil else Seq(s"gold dt=$dt $coin: served $r")
        }
      }
    }
    val extra = got.size - want.values.map(_.size).sum
    missing ++ (if (extra != 0) Seq(s"gold: $extra rows beyond the generated coins") else Nil)
  }

  def check(): Unit = {
    val serve = ctx.uri("serve")
    val rows = spark.read.parquet(s"$serve/gold_coin_daily_metrics").collect().toSeq
    problems ++= goldMismatches(rows, expected).take(5)
    val dims = spark.read.parquet(s"$serve/coin_dimension").count()
    if (dims != Coins) problems += s"coin_dimension has $dims rows, generated $Coins coins"
    val facts = spark.read.parquet(s"$serve/coin_prices_fact").count()
    val wantFacts = expected.size.toLong * Coins * Snapshots
    if (facts != wantFacts) problems += s"coin_prices_fact has $facts rows, generated $wantFacts"
    // negative control: one corrupted expected value must be caught
    val (dt0, aggs0) = expected.head
    val (coin0, a0) = aggs0.head
    val bad = new CoinAgg
    bad.n = a0.n; bad.sum = a0.sum; bad.mcapSum = a0.mcapSum; bad.min = a0.min
    bad.max = a0.max + 1.0
    if (goldMismatches(rows, expected.clone().addOne(dt0 -> (aggs0 + (coin0 -> bad)))).isEmpty)
      problems += "negative control: a corrupted expected max was not detected"
  }

  def outputs: (Seq[Path], Seq[DataFrame]) = {
    val lake = ctx.uri("lake"); val serve = ctx.uri("serve")
    (Seq(ctx.dir("lake"), ctx.dir("serve")),
      Seq(s"$lake/silver/coins", s"$lake/gold/coins_daily", s"$serve/coin_dimension",
        s"$serve/coin_prices_fact", s"$serve/gold_coin_daily_metrics")
        .map(spark.read.parquet(_)))
  }

  def layerMetrics(): Seq[(String, Double)] = {
    val layers = Seq("coin.ingest", "coin.gold", "coin.serve", "coin.gates").flatMap { l =>
      val c = tracer.layer(l, firstTimed)
      Counters.names.map(n => s"$l.$n" -> Counters.get(c, n))
    }
    val written = tracer.sum(_ == "coin.delivery", firstTimed)(_.bytesWritten)
    layers :+ ("coin.write_amp" -> written / math.max(1L, timedBronzeBytes))
  }
}
