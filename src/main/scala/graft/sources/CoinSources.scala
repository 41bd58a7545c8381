package graft.sources

import graft.schema.CoinSchemas
import graft.sinks.LakeSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The coin medallion's table layer (SURVEY §2.1 S2-S4): where each coin
  * dataset lives, its schema, and how a coin table is read or merged.
  *
  * Bronze is a JSON *array* file per partition (not JSON-lines) whose null
  * `roi` serializes as bare `NaN` — invalid strict JSON (reference writes it
  * at `dags/coin_data_pipeline_optimized.py:222-229`) — so the reader needs
  * `multiLine` + `allowNonNumericNumbers`. Schema is always supplied
  * explicitly: schema inference costs an extra full pass over the data, which
  * is unaffordable at scale and non-deterministic under dirty input.
  */
object CoinSources {

  /** A coin parquet table: its directory under a root, and its schema. */
  final case class CoinTable(dir: String, schema: StructType) {
    def at(root: String): String = s"$root/$dir"
    def at(root: String, dt: String): String = s"$root/$dir/dt=$dt"
  }
  val silver: CoinTable     = CoinTable("silver/coins", CoinSchemas.silverV1)
  val gold: CoinTable       = CoinTable("gold/coins_daily", CoinSchemas.goldDaily)
  val dimension: CoinTable  = CoinTable("coin_dimension", CoinSchemas.dimension)
  val fact: CoinTable       = CoinTable("coin_prices_fact", CoinSchemas.fact)
  val servedGold: CoinTable = CoinTable("gold_coin_daily_metrics", CoinSchemas.goldDaily)

  /** Bronze JSON for one partition dir (or the partitioned root). */
  def readBronzeJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(CoinSchemas.bronze)
      .option("multiLine", value = true)
      .option("allowNonNumericNumbers", value = true)
      .json(path)

  /** Silver parquet. The checked-in reference fixture was written by pandas as
    * `timestamp[ns, tz=UTC]`, which Spark 4 refuses (`PARQUET_TYPE_ILLEGAL
    * INT64 (TIMESTAMP(NANOS,true))`), under this declared schema too; it is
    * readable only by an inferring read under
    * `spark.sql.legacy.parquet.nanosAsLong`, as CoinEtlGoldenSpec reads it.
    */
  def readSilver(spark: SparkSession, path: String): DataFrame = read(spark, silver, path)

  /** Gold parquet. */
  def readGold(spark: SparkSession, path: String): DataFrame = read(spark, gold, path)

  /** The served gold table. */
  def readServedGold(spark: SparkSession, serveRoot: String): DataFrame =
    read(spark, servedGold, servedGold.at(serveRoot))

  /** Replace table `t` under `root` with `combine(existing, incoming)` (or
    * `incoming` when it does not exist yet), published by stage-and-swap.
    */
  def merge(spark: SparkSession, t: CoinTable, root: String, incoming: DataFrame)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val path = t.at(root)
    val p    = new Path(path)
    val fs   = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged = if (fs.exists(p)) combine(read(spark, t, path), incoming) else incoming
    LakeSink.stageAndSwap(fs, p)(staging =>
      merged.write.mode("overwrite").parquet(staging.toString))
    // The swap is a rename, not a Spark write to `path`, so the session's
    // file-listing cache still holds the replaced part files — readers would
    // hit FILE_NOT_EXIST. Invalidate explicitly.
    spark.catalog.refreshByPath(path)
  }

  private def read(spark: SparkSession, t: CoinTable, path: String): DataFrame =
    spark.read.schema(t.schema).parquet(path)
}

/** Driver-side ingest source (SURVEY §2.1 S1). The reference fetches
  * CoinGecko `/coins/markets?vs_currency=usd&order=market_cap_desc` with a
  * 10 s timeout (`dags/coin_data_pipeline_optimized.py:158-183`). Kept behind
  * a trait so tests and the zero-egress environment inject fixture JSON
  * instead of the network.
  */
trait CoinMarketsFetcher {

  /** Returns the raw JSON payload (an array of market records). */
  def fetchJson(): String
}

/** Non-2xx response — the engine's `raise_for_status` twin. */
final case class HttpStatusException(status: Int, url: String)
    extends RuntimeException(s"HTTP $status from $url")

/** Live HTTP fetcher. Semantics mirror the reference's extract contract
  * (`coin_data_pipeline_optimized.py:158-183` + DAG `default_args`):
  * GET with a 10 s timeout, raise-for-status on non-2xx, and `retries`
  * re-attempts after `retryDelayMs` on timeout/connect/5xx-class failures
  * (the reference retries via Airflow task retries — its 5-MINUTE retry
  * spacing is an orchestrator concern; an in-process fetch sleeping minutes
  * would hold its slot hostage, so the in-path default is 1 s and long
  * spacing belongs to whatever reruns the job). 4xx responses do NOT
  * retry — a malformed request won't improve on resend. Tests exercise all
  * of this against an in-process localhost server; no egress involved.
  */
final class HttpCoinMarketsFetcher(
    url: String =
      "https://api.coingecko.com/api/v3/coins/markets?vs_currency=usd&order=market_cap_desc",
    timeoutSeconds: Long = 10L,
    retries: Int = 1,
    retryDelayMs: Long = 1000L
) extends CoinMarketsFetcher {

  private def attempt(): String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) throw HttpStatusException(resp.statusCode(), url)
    resp.body()
  }

  override def fetchJson(): String = {
    var attemptsLeft = math.max(0, retries)
    while (true) {
      try return attempt()
      catch {
        case e: HttpStatusException if e.status < 500 => throw e
        case e @ (_: java.io.IOException | _: HttpStatusException) =>
          if (attemptsLeft == 0) throw e
          attemptsLeft -= 1
          if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Fixture-backed fetcher for tests and offline runs. */
final class FixtureCoinMarketsFetcher(path: String) extends CoinMarketsFetcher {
  override def fetchJson(): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
}
