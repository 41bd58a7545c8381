package graft

import graft.expectations.{Between, GreaterThan, NotNull, Suite}
import graft.functions.{Aggregators, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, RangeJoin, Similarity, Skew, SubstringDedup, TextAnalysis}
import graft.sinks.Merge
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: the full operator surface of the engine, each entry
  * a [[SparkEntry.Query]] in [[SparkEntry.registry]] that holds its Spark
  * body, its DuckDB-equivalent SQL and its bench tier. Ops whose
  * kernels are not SQL-expressible (sketches, LSH, sampling) register their
  * checkable CONTRACT instead — planted-duplicate recall, error bounds,
  * determinism and monotonicity booleans — with kernel-level semantics owned
  * by ScalaTest.
  *
  * Determinism rules (so the driver's hash compare is bit-stable):
  *  - every query has a total ORDER BY on both sides;
  *  - sums/averages of arbitrary doubles round-trip through DECIMAL(18,6)
  *    (exact for this data, order-insensitive, identical in both engines);
  *  - integer-valued outputs are BIGINT on both sides (DuckDB's SUM(int) is
  *    HUGEINT, Spark's size()/rank() are INT — both get explicit casts);
  *  - no raw timestamp output columns (tz-awareness differs across readers);
  *    dates/strings instead.
  */
object SparkEntry {

  /** Per-session table catalog: `spark.read.parquet` re-reads footers to
    * infer the schema on EVERY call, so the registry's ~400 table reads per
    * bench pay that repeatedly. DataFrames are immutable logical plans —
    * caching one per (session, path) is what a metastore-backed catalog
    * does, and later reads plan instantly. Entries owned by a STOPPED
    * session are purged on every lookup, so the map cannot retain dead
    * sessions (and their plans) for the JVM lifetime; a path rewritten
    * in-process under a live session needs [[invalidateTables]].
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Evict cached plans: all entries under `pathPrefix` (stale-schema
    * escape hatch after rewriting a table in place), plus always any entry
    * whose session has been stopped.
    */
  def invalidateTables(pathPrefix: String = null): Unit = {
    val it = tableCache.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1.sparkContext.isStopped ||
          (pathPrefix != null && k._2.startsWith(pathPrefix))) it.remove()
    }
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    invalidateTables()
    tableCache.computeIfAbsent((s, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))
  }

  /** Deterministic URL planting for the web-curation queries: the synthetic
    * texts carry no URLs, so each doc gets one appended by `doc_id mod 3`
    * (mirrored literally in the DuckDB oracles).
    */
  private def plantUrls(docs: DataFrame): DataFrame =
    docs.withColumn("text2", concat(col("text"), lit(" see https://"),
      element_at(array(lit("alpha.com"), lit("sub.evil.com"), lit("evil.com")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
      lit("/page")))

  /** The events table has shipped `ts` as TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others — adapt to what the file
    * actually carries. Nanos read as long (legacy conf) and truncate to µs
    * with integral division (`div`, not `/` — ns epochs exceed the 53-bit
    * double mantissa); native µs just casts to session-tz timestamp (UTC
    * here, so instants match DuckDB's naive read bit-for-bit).
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** ONE positional inverted index shared by q_phrase_search and
    * q_proximity_search: build-if-missing into a tmp path keyed by the
    * data dir AND the documents file's mtime, so a different scale
    * factor or regenerated testdata gets a fresh build while repeat runs
    * (bench warm iterations, the other query) reuse the index instead of
    * rebuilding it — the production posture: probes against a persisted
    * index, not a per-query rebuild.
    */
  private def phraseIndexPath(s: SparkSession, dir: String): String = {
    val docsFile = new java.io.File(s"$dir/documents.parquet")
    val key = java.lang.Long.toHexString(
      (dir + "@" + docsFile.lastModified).hashCode.toLong & 0xffffffffL)
    val path = System.getProperty("java.io.tmpdir") + s"/graft_phrase_index_$key"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_deliveries")))
      graft.operators.InvertedIndex.build(t(s, dir, "documents"), "doc_id",
        "text", path, numPartitions = 8, positional = true)
    path
  }

  /** Exact, order-insensitive sum of a ≤6-decimal double column. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Exact-sum average (deterministic double division). */
  private def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    byName("q1_gold_agg").run(spark, dir)
  }

  /** One registered query: its Spark body over a scale-factor directory,
    * the DuckDB SQL that must hash-equal it (same tables, same column
    * names, same ORDER BY), and its bench tier. `lifecycle` queries build
    * or publish persisted multi-delivery state per run (lake chains,
    * on-disk index lifecycles, file exports with read-back contracts);
    * every other query is `parity`. See [[Bench]].
    */
  final case class Query(name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: String,
      lifecycle: Boolean = false)

  /** Name index over `qs`; a name registered twice throws instead of one
    * entry silently shadowing the other.
    */
  private[graft] def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  lazy val byName: Map[String, Query] = index(registry)

  /** The registered queries whose name contains one of the
    * comma-separated substrings of `filterSpec` (all of them when it is
    * absent), in name order.
    */
  def select(filterSpec: Option[String]): Seq[Query] = {
    val pats = filterSpec.map(_.split(",").toSeq)
    registry.filter(q => pats.forall(_.exists(q.name.contains))).sortBy(_.name)
  }

  // =================================================================
  // Query registry — one entry per implemented operator (SURVEY §2).
  // =================================================================
  lazy val registry: Seq[Query] = Seq(

    // ---- P1/P2: projection + rename ------------------------------------
    Query("q_projection", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").alias("line_no"),
          col("l_quantity").alias("qty"), col("l_returnflag").alias("flag"))
        .orderBy("l_orderkey", "line_no"),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |       l_quantity AS qty, l_returnflag AS flag
        |FROM lineitem ORDER BY l_orderkey, line_no""".stripMargin),

    // ---- P3/P6: casts + date extraction --------------------------------
    Query("q_cast_types", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").alias("line_no"),
          col("l_quantity").cast("bigint").alias("qty_int"),
          date_format(col("l_shipdate").cast("date"), "yyyy-MM-dd").alias("ship_date"))
        .orderBy("l_orderkey", "line_no"),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |       CAST(l_quantity AS BIGINT) AS qty_int,
        |       strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_date
        |FROM lineitem ORDER BY l_orderkey, line_no""".stripMargin),

    Query("q_date_parts", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").alias("o_year"),
          month(col("o_orderdate")).cast("long").alias("o_month"))
        .agg(count(lit(1)).alias("n_orders"), dsum(col("o_totalprice")).alias("sum_price"))
        .orderBy("o_year", "o_month"),
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin),

    // ---- P4/P5: literal + derived columns ------------------------------
    Query("q_derived_cols", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), lit("cryptocurrency").alias("category"),
          (col("c_acctbal") + 100.0).alias("bal_adj"),
          upper(col("c_mktsegment")).alias("segment"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, 'cryptocurrency' AS category,
        |       c_acctbal + 100.0 AS bal_adj, UPPER(c_mktsegment) AS segment
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- EP3 flat-table shape: the v1 pipeline's 6-col projection with
    // BIGINT market_cap + injected wall-clock stamp, exercised through
    // FlatPipeline.transform itself on a bronze-shaped testdata frame.
    Query("q_flat_table", (s, dir) => {
      val bronzeish = t(s, dir, "part").select(
        concat(lit("part-"), col("p_partkey")).alias("id"),
        lower(col("p_brand")).alias("symbol"),
        col("p_name").alias("name"),
        col("p_retailprice").alias("current_price"),
        floor(col("p_retailprice") * 1000).cast("long").alias("market_cap"),
        (col("p_size") / 10.0).alias("price_change_percentage_24h"))
      graft.pipeline.FlatPipeline
        .transform(bronzeish, java.sql.Timestamp.valueOf("2026-01-13 08:00:00"))
        .withColumn("last_updated",
          date_format(col("last_updated"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("id")
    },
      """SELECT 'part-' || CAST(p_partkey AS VARCHAR) AS id,
        |       LOWER(p_brand) AS symbol, p_name AS name,
        |       p_retailprice AS current_price,
        |       CAST(FLOOR(p_retailprice * 1000) AS BIGINT) AS market_cap,
        |       p_size / 10.0 AS price_change_percentage_24h,
        |       '2026-01-13 08:00:00' AS last_updated
        |FROM part ORDER BY id""".stripMargin),

    // ---- P7: filter predicates (quality-gate shapes) -------------------
    Query("q_filter_predicates", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.05 && col("l_quantity") <= 25 &&
          col("l_returnflag") =!= "A" && col("l_shipdate").isNotNull)
        .groupBy(col("l_returnflag").alias("flag"))
        .agg(count(lit(1)).alias("n"), sum(col("l_quantity")).alias("sum_qty"))
        .orderBy("flag"),
      """SELECT l_returnflag AS flag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_discount > 0.05 AND l_quantity <= 25
        |  AND l_returnflag <> 'A' AND l_shipdate IS NOT NULL
        |GROUP BY 1 ORDER BY flag""".stripMargin),

    // ---- P8: scalar built-ins (string/math/regex) ----------------------
    Query("q_scalar_funcs", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), upper(col("source")).alias("src_u"),
          length(col("text")).cast("long").alias("len"),
          substring(col("text"), 1, 10).alias("prefix"),
          concat(col("lang"), lit("-"), col("source")).alias("tag"),
          round(col("n_chars") / 100.0, 4).alias("hundredths"))
        .orderBy("doc_id"),
      """SELECT doc_id, UPPER(source) AS src_u,
        |       CAST(LENGTH(text) AS BIGINT) AS len,
        |       SUBSTRING(text, 1, 10) AS prefix,
        |       lang || '-' || source AS tag,
        |       ROUND(n_chars / 100.0, 4) AS hundredths
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_json_extract", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").alias("k"))
        .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- array / higher-order-function surface: results must equal the
    // closed-form identities the oracle computes arithmetically -----------
    Query("q_array_funcs", (s, dir) => {
      val qty = col("l_quantity").cast("long")
      val arr = sequence(lit(1L), qty)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").alias("line_no"),
          qty.alias("qty"),
          aggregate(arr, lit(0L), (acc, x) => acc + x).alias("s_sum"),
          size(filter(arr, x => x % 2L === 0L)).cast("long").alias("n_even"),
          aggregate(zip_with(arr, arr, (a, b) => a * b), lit(0L),
            (acc, x) => acc + x).alias("sum_sq"),
          exists(arr, x => x > 40L).alias("any_gt40"))
        .orderBy("l_orderkey", "line_no")
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |       CAST(l_quantity AS BIGINT) AS qty,
        |       (CAST(l_quantity AS BIGINT) * (CAST(l_quantity AS BIGINT) + 1)) // 2 AS s_sum,
        |       CAST(l_quantity AS BIGINT) // 2 AS n_even,
        |       (CAST(l_quantity AS BIGINT) * (CAST(l_quantity AS BIGINT) + 1)
        |         * (2 * CAST(l_quantity AS BIGINT) + 1)) // 6 AS sum_sq,
        |       CAST(l_quantity AS BIGINT) > 40 AS any_gt40
        |FROM lineitem ORDER BY l_orderkey, line_no""".stripMargin),

    // ---- SQL subquery surface (EXISTS / scalar) ------------------------
    Query("q_subquery_exists", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("cust_sq")
      t(s, dir, "orders").createOrReplaceTempView("ord_sq")
      s.sql(
        """SELECT c_custkey, c_name FROM cust_sq c
          |WHERE EXISTS (SELECT 1 FROM ord_sq o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),

    Query("q_subquery_scalar", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_sq")
      // decimal-exact sum / count for the threshold: a plain AVG of doubles
      // is summation-order-dependent and could differ between engines in
      // the last ulp, flipping rows at the boundary
      s.sql(
        """SELECT l_returnflag, COUNT(*) AS n_above_avg
          |FROM li_sq
          |WHERE l_extendedprice >
          |  (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          |   FROM li_sq)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
      """SELECT l_returnflag, COUNT(*) AS n_above_avg
        |FROM lineitem
        |WHERE l_extendedprice >
        |  (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |   FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Query("q_regexp", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).alias("name_digits"),
          col("c_name").rlike("[0-9]{3}").alias("has_3digits"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |       regexp_matches(c_name, '[0-9]{3}') AS has_3digits
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- A1: THE gold aggregate (hash group-by) ------------------------
    Query("q1_gold_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).alias("sum_qty"),
          avg(col("l_quantity")).alias("avg_qty"),
          dsum(col("l_extendedprice")).alias("sum_price"),
          davg(col("l_extendedprice")).alias("avg_price"),
          min(col("l_extendedprice")).alias("min_price"),
          max(col("l_extendedprice")).alias("max_price"),
          count(lit(1)).alias("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       AVG(l_quantity) AS avg_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- A2/A3: counts + empty-input guard -----------------------------
    Query("q_counts", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.agg(count(lit(1)).alias("n_rows"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).alias("n_discounted"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).alias("n_null_qty"))
    },
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
        |       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_qty
        |FROM lineitem""".stripMargin),

    Query("q_empty_guard", (s, dir) =>
      t(s, dir, "lineitem").filter(lit(1) === lit(0))
        .agg(count(lit(1)).alias("n_rows_when_empty")),
      "SELECT COUNT(*) AS n_rows_when_empty FROM lineitem WHERE 1 = 0"),

    // ---- A4: distinct / count-distinct ---------------------------------
    Query("q_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").alias("flag"), col("l_linestatus").alias("status"))
        .distinct()
        .orderBy("flag", "status"),
      """SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
        |FROM lineitem ORDER BY flag, status""".stripMargin),

    Query("q_count_distinct", (s, dir) =>
      t(s, dir, "orders")
        .agg(countDistinct(col("o_custkey")).alias("n_customers"),
          countDistinct(col("o_orderstatus")).alias("n_statuses"),
          count(lit(1)).alias("n_orders")),
      """SELECT COUNT(DISTINCT o_custkey) AS n_customers,
        |       COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |       COUNT(*) AS n_orders
        |FROM orders""".stripMargin),

    // ---- A5: rollup ----------------------------------------------------
    Query("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).alias("n"), sum(col("l_quantity")).alias("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).alias("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).alias("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status"),
      """SELECT COALESCE(l_returnflag, '(all)') AS flag,
        |       COALESCE(l_linestatus, '(all)') AS status,
        |       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    // ---- pivot / unpivot (wide<->long reshaping) -----------------------
    Query("q_pivot", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).alias("n_f"),
          coalesce(col("O"), lit(0L)).alias("n_o"),
          coalesce(col("P"), lit(0L)).alias("n_p"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Query("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_extendedprice")).alias("price"),
          dsum(col("l_tax")).alias("tax"),
          dsum(col("l_discount")).alias("discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("price"), col("tax"), col("discount")),
          "measure", "value")
        .select(col("l_returnflag"), col("measure"),
          round(col("value"), 6).alias("value"))
        .orderBy("l_returnflag", "measure"),
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS price,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS tax,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS discount
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, measure, ROUND(value, 6) AS value
        |FROM agg UNPIVOT (value FOR measure IN (price, tax, discount))
        |ORDER BY l_returnflag, measure""".stripMargin),

    Query("q_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).alias("n"), sum(col("l_quantity")).alias("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).alias("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).alias("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status"),
      """SELECT COALESCE(l_returnflag, '(all)') AS flag,
        |       COALESCE(l_linestatus, '(all)') AS status,
        |       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    Query("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT COALESCE(l_returnflag, '(all)') AS flag,
          |       COALESCE(l_linestatus, '(all)') AS status,
          |       COUNT(*) AS n
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY flag, status""".stripMargin)
    },
      """SELECT COALESCE(l_returnflag, '(all)') AS flag,
        |       COALESCE(l_linestatus, '(all)') AS status,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin),

    Query("q_sessionize_batch", (s, dir) => {
      // Batch twin of streaming sessionization: a session break is a >30min
      // gap; session id = running count of breaks per user (two windows, no
      // state) — the classic lag/cumsum formulation.
      val ev = events(s, dir).filter(col("user_id") < 20)
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).alias("n_events"),
          dsum(col("value")).alias("sum_value"))
        .orderBy("user_id", "session_id")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
        |  FROM events WHERE user_id < 20
        |), gaps AS (
        |  SELECT user_id, event_id, value, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sessions AS (
        |  SELECT user_id, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM gaps
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    Query("q_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").alias("flag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"))
        .orderBy("flag"),
      """SELECT l_returnflag AS flag,
        |       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin),

    // Mergeable quantile sketch (DDSketch): the exact percentile rides
    // along oracle-checked, and the sketch contributes its relative-error
    // contract (α=1%, bound 2%) as a boolean per quantile.
    Query("q_quantile_sketch", (s, dir) => {
      val qs = Seq(0.25, 0.5, 0.9, 0.99)
      val sk = udaf(new Aggregators.DdSketchQuantiles(0.01, qs))
      // l_quantity (50 distinct values): the exact-percentile rider stays a
      // counting aggregate instead of a 6M-value global sort; the sketch's
      // 1% relative bound is still a real claim against integer quantiles.
      t(s, dir, "lineitem")
        .agg(sk(col("l_quantity").cast("double")).alias("est"),
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.9D, 0.99D))")
            .alias("exact"))
        .select(explode(arrays_zip(
          array(qs.map(lit): _*).alias("qq"),
          col("est").alias("est"),
          col("exact").alias("exact"))).alias("z"))
        .select(col("z.qq").alias("qq"),
          round(col("z.exact"), 6).alias("exact_val"),
          (abs(col("z.est") - col("z.exact")) <= abs(col("z.exact")) * 0.02)
            .alias("within_bound"))
        .orderBy("qq")
    },
      """SELECT CAST(0.25 AS DOUBLE) AS qq,
        |       ROUND(quantile_cont(l_quantity, 0.25), 6) AS exact_val,
        |       CAST(1 AS BOOLEAN) AS within_bound FROM lineitem
        |UNION ALL SELECT 0.5, ROUND(quantile_cont(l_quantity, 0.5), 6), TRUE FROM lineitem
        |UNION ALL SELECT 0.9, ROUND(quantile_cont(l_quantity, 0.9), 6), TRUE FROM lineitem
        |UNION ALL SELECT 0.99, ROUND(quantile_cont(l_quantity, 0.99), 6), TRUE FROM lineitem
        |ORDER BY qq""".stripMargin),

    // Count-Min frequency sketch: exact per-key counts are oracle-checked;
    // the sketch contributes its two contracts — never undercounts
    // (deterministic) and overcounts ≤ (e/width)·N — as booleans.
    Query("q_countmin", (s, dir) => {
      val keys = (1L to 5L).map(_.toString)
      val cms  = udaf(new Aggregators.CountMinFreq(4, 8192, keys))
      val exacts = keys.map(k =>
        sum(when(col("l_partkey").cast("string") === k, 1L).otherwise(0L))
          .alias(s"x$k"))
      val aggCols = Seq(
        cms(col("l_partkey").cast("string")).alias("est"),
        count(lit(1)).alias("n")) ++ exacts
      t(s, dir, "lineitem")
        .agg(aggCols.head, aggCols.tail: _*)
        .select(explode(arrays_zip(
          array(keys.map(lit): _*).alias("key"),
          col("est").alias("est"),
          array(keys.map(k => col(s"x$k")): _*).alias("exact"))).alias("z"),
          col("n"))
        .select(col("z.key").alias("key"), col("z.exact").alias("n_exact"),
          (col("z.est") >= col("z.exact")).alias("never_undercounts"),
          (col("z.est") <= col("z.exact") +
            ceil(lit(math.E / 8192) * col("n"))).alias("within_eps"))
        .filter(col("n_exact") > 0)
        .orderBy("key")
    },
      """SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS n_exact,
        |       CAST(1 AS BOOLEAN) AS never_undercounts,
        |       CAST(1 AS BOOLEAN) AS within_eps
        |FROM lineitem WHERE l_partkey IN (1, 2, 3, 4, 5)
        |GROUP BY 1 ORDER BY key""".stripMargin),

    // One-pass column profiler over string/integral columns (min/max
    // string rendering of those types is engine-portable).
    Query("q_profile", (s, dir) =>
      graft.operators.Profiler.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name"),
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
        |       COUNT(*) - COUNT(o_custkey) AS n_null,
        |       COUNT(DISTINCT o_custkey) AS n_distinct,
        |       CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
        |       CAST(MAX(o_custkey) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |       COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
        |FROM orders
        |UNION ALL SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
        |       COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority)
        |FROM orders
        |ORDER BY col_name""".stripMargin),

    // Grouped DDSketch: one mergeable sketch buffer per group, partial-
    // merged map-side — the shape that computes percentiles per key across
    // a 100 TB table in one pass.
    Query("q_quantile_by_group", (s, dir) => {
      val sk = udaf(new Aggregators.DdSketchQuantiles(0.01, Seq(0.5, 0.95)))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").alias("flag"))
        .agg(sk(col("l_quantity").cast("double")).alias("est"),
          expr("percentile(l_quantity, array(0.5D, 0.95D))").alias("exact"))
        .select(col("flag"),
          round(element_at(col("exact"), 1), 6).alias("p50"),
          round(element_at(col("exact"), 2), 6).alias("p95"),
          (abs(element_at(col("est"), 1) - element_at(col("exact"), 1)) <=
            abs(element_at(col("exact"), 1)) * 0.02 &&
            abs(element_at(col("est"), 2) - element_at(col("exact"), 2)) <=
              abs(element_at(col("exact"), 2)) * 0.02).alias("within_bound"))
        .orderBy("flag")
    },
      """SELECT l_returnflag AS flag,
        |       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin),

    // Bucketed co-located join: customer and orders are lazily written ONCE
    // per sf-dir as bucketed+sorted tables on c_custkey/o_custkey; every
    // subsequent run joins them with ZERO shuffle exchanges on the join key
    // (the layout trade every repeated 100 TB fact join makes). The result
    // is oracle-checked against the raw tables — identical data, different
    // physical layout.
    Query("q_join_bucketed", (s, dir) => {
      // Table identity is keyed by the SOURCE DATA signature (path + file
      // lengths, md5'd — full-width, unlike String.hashCode), so
      // regenerated testdata gets fresh bucketed twins instead of silently
      // joining stale files, and distinct sf-dirs can never collide.
      val sig = java.security.MessageDigest.getInstance("MD5").digest(
        (dir + ":" + new java.io.File(s"$dir/customer.parquet").length() +
          ":" + new java.io.File(s"$dir/orders.parquet").length())
          .getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val custT = s"cust_bkt_$sig"
      val ordT  = s"ord_bkt_$sig"
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val hconf = s.sparkContext.hadoopConfiguration
      // The in-memory catalog forgets tables across sessions but the
      // bucketed FILES persist: re-register COMMITTED files (_SUCCESS
      // marker — a dir orphaned by a killed write is rewritten, not
      // trusted) with bucketed DDL instead of rewriting them — a new
      // session pays metadata registration, not the clustered write.
      def ensure(table: String, ddlCols: String, bucketKey: String,
          write: => Unit): Unit =
        if (!s.catalog.tableExists(table)) {
          val path = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(wh), table)
          val fs = path.getFileSystem(hconf)
          if (fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
            s.sql(s"CREATE TABLE $table ($ddlCols) USING parquet " +
              s"CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO 8 BUCKETS " +
              s"LOCATION '$path'")
          else {
            if (fs.exists(path)) fs.delete(path, true) // orphaned partial write
            write
          }
        }
      ensure(custT, "c_custkey BIGINT, c_mktsegment STRING", "c_custkey",
        graft.sinks.Bucketing.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          custT, s"$wh/$custT", numBuckets = 8, keys = Seq("c_custkey")))
      ensure(ordT, "o_custkey BIGINT, o_totalprice DOUBLE", "o_custkey",
        graft.sinks.Bucketing.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          ordT, s"$wh/$ordT", numBuckets = 8, keys = Seq("o_custkey")))
      s.table(custT)
        .join(s.table(ordT), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).alias("n_orders"),
          dsum(col("o_totalprice")).alias("sum_price"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),

    // ---- skew-handling: two-phase salted aggregation -------------------
    Query("q_skew_salted_agg", (s, dir) =>
      Skew.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity", buckets = 16)
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
        |       COUNT(l_quantity) AS n,
        |       MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_val
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    // ---- A6: HLL distinct-count sketch ---------------------------------
    Query("q_text_tfidf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val n    = docs.count()
      val tf   = TextAnalysis.termFrequencies(docs)
      val dfq  = TextAnalysis.documentFrequencies(docs)
      tf.join(dfq, Seq("term"))
        .withColumn("tfidf",
          round(col("freq") * log(lit(n.toDouble) / col("doc_freq")), 6))
        .filter(col("tfidf") > 0)
        .orderBy(col("tfidf").desc, col("term").asc)
        .limit(20)
        .select(col("term"), col("freq"), col("doc_freq"), col("tfidf"))
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[\s\x0b]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT term, COUNT(*) AS freq FROM toks WHERE length(term) > 0 GROUP BY term
        |), df AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM toks
        |  WHERE length(term) > 0 GROUP BY term
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT term, freq, doc_freq,
        |       ROUND(freq * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf
        |FROM tf JOIN df USING (term), n
        |WHERE ROUND(freq * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) > 0
        |ORDER BY tfidf DESC, term ASC LIMIT 20""".stripMargin),

    // HLL estimates are kernel-dependent, but the ERROR BOUND is the
    // checkable semantic: |est − exact|/exact < 0.04 (m=4096 ⇒ σ≈1.6%).
    // n_exact rides along as a fully oracle-checked column.
    Query("q_hll_by_group", (s, dir) => {
      val hll = udaf(new Aggregators.HyperLogLog(12))
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(hll(col("o_custkey").cast("string")).alias("__est"),
          countDistinct(col("o_custkey")).alias("n_exact"))
        .select(col("o_orderstatus"), col("n_exact"),
          (abs(col("__est") - col("n_exact")) / col("n_exact") < 0.04)
            .alias("within_bound"))
        .orderBy("o_orderstatus")
    },
    // HLL sketch estimates: the exact count is oracle-checked and the sketch
    // contributes its 4% error-bound contract as a boolean (m=4096 ⇒ σ≈1.6%;
    // AggregatorSpec owns the tighter kernel-level bounds).
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_exact,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Query("q_hll_distinct", (s, dir) => {
      val hll = udaf(new Aggregators.HyperLogLog(12))
      t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").alias("k"))
        .agg(hll(col("k")).alias("__est"),
          countDistinct(col("k")).alias("n_exact"))
        .select(col("n_exact"),
          (abs(col("__est") - col("n_exact")) / col("n_exact") < 0.04)
            .alias("within_bound"))
    },
      """SELECT COUNT(DISTINCT CAST(l_orderkey AS VARCHAR)) AS n_exact,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM lineitem""".stripMargin),

    // TPC-H Q1: the canonical scan-heavy aggregate (pricing summary).
    Query("q_tpch_q1", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).alias("sum_qty"),
          dsum(col("l_extendedprice")).alias("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).alias("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).alias("sum_charge"),
          round(davg(col("l_quantity")), 6).alias("avg_qty"),
          round(davg(col("l_extendedprice")), 6).alias("avg_price"),
          round(davg(col("l_discount")), 6).alias("avg_disc"),
          count(lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_price,
        |  round(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // TPC-H Q6: the pushdown showcase (tight filter, one sum, no join).
    Query("q_tpch_q6", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).alias("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |  AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // Sequenced conversion funnel view -> click -> purchase (each step
    // strictly AFTER the previous step's first occurrence, per user);
    // integer-micros comparisons on both sides.
    Query("q_event_funnel", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).alias("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).alias("vt"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("us") > col("vt"))
        .groupBy(col("user_id")).agg(min(col("us")).alias("ct"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("us") > col("ct"))
        .groupBy(col("user_id")).agg(count(lit(1)).alias("__one"))
      v.agg(count(lit(1)).alias("n_view"))
        .crossJoin(broadcast(c.agg(count(lit(1)).alias("n_view_click"))))
        .crossJoin(broadcast(p.agg(count(lit(1)).alias("n_full_funnel"))))
        .select(col("n_view"), col("n_view_click"), col("n_full_funnel"),
          round(col("n_full_funnel").cast("double") / col("n_view"), 6)
            .alias("conversion"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS vt FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.us) AS ct FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.us > v.vt GROUP BY e.user_id),
        |p AS (SELECT e.user_id FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us > c.ct GROUP BY e.user_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel,
        |  round((SELECT count(*) FROM p) / CAST((SELECT count(*) FROM v) AS DOUBLE), 6)
        |    AS conversion""".stripMargin),

    // ---- multi-join analytics (TPC-H Q3/Q5 shapes) ---------------------
    Query("q_tpch_q3", (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1998-01-01"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").alias("o_date"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),

    Query("q_tpch_q10", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-10-01") &&
              col("o_orderdate") < lit("1997-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |            AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),

    Query("q_tpch_q5", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc),
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin),

    // TPC-H Q7 (volume shipping): bidirectional nation-pair trade volume.
    // The pair disjunction ((A,B) OR (B,A)) rides the supplier⋈customer
    // join as a residual filter; both nation lookups broadcast.
    Query("q_tpch_q7", (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").alias("s_nk"), col("n_name").alias("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").alias("c_nk"), col("n_name").alias("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").alias("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // TPC-H Q8 (national market share): two-level aggregate — conditional
    // numerator over a full-volume denominator, per order year.
    Query("q_tpch_q8", (s, dir) => {
      val suppNation = t(s, dir, "nation")
        .select(col("n_nationkey").alias("s_nk"), col("n_name").alias("supp_nation"))
      val custGeo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custGeo, col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").alias("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_3",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)) /
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .alias("mkt_share"))
        .select(col("o_year"), round(col("mkt_share"), 6).alias("mkt_share"))
        .orderBy("o_year")
    },
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |  round(
        |    CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |    6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin),

    // TPC-H Q13 (customer order-count distribution): LEFT outer join so
    // zero-order customers survive into the c_count=0 bucket, then a
    // second aggregate over the first's output — the double-group-by shape.
    Query("q_tpch_q13", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).alias("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).alias("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c LEFT OUTER JOIN orders o
        |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q14 (promo revenue share): conditional-aggregate ratio over a
    // one-month scan; the part lookup is the only join and broadcasts.
    Query("q_tpch_q14", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-06-01") &&
          col("l_shipdate") < lit("1997-07-01"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)) /
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .alias("promo_revenue"))
        .select(round(col("promo_revenue"), 6).alias("promo_revenue")),
      """SELECT round(100.0 *
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |  6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    // subquery (per-part 0.2·avg(quantity) threshold) re-planned as one
    // grouped aggregate on the FILTERED side joined back — the brand filter
    // prunes the avg scan to 66 parts before any wide read.
    Query("q_tpch_q17", (s, dir) => {
      val brandParts = t(s, dir, "part").filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"))
      val brandLines = t(s, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val perPartAvg = brandLines.groupBy(col("p_partkey"))
        .agg(davg(col("l_quantity")).alias("__avg_qty"))
      brandLines
        .join(broadcast(perPartAvg), Seq("p_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("__avg_qty"))
        .agg(round(dsum(col("l_extendedprice")) / 7.0, 6).alias("avg_yearly"))
    },
      """SELECT round(
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 6)
        |  AS avg_yearly
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = 'Brand#13'
        |  AND l.l_quantity < 0.2 * (
        |    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin),

    // TPC-H Q18 (large-volume customers): group-by-HAVING as a semi-join
    // feeder — the qualifying orderkeys reduce to ~hundreds, so the probe
    // back into orders⋈customer broadcasts.
    Query("q_tpch_q18", (s, dir) => {
      val bigOrders = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).alias("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      t(s, dir, "orders")
        .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").alias("o_date"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    },
      """SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 250.0
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin),

    // TPC-H Q2 (min-cost regional supplier). The testdata has no partsupp,
    // so the part-supplier relation derives from OBSERVED lineitems:
    // cost(part,supp) = Σprice/Σqty (both decimal-exact before the one
    // division, so Spark and DuckDB agree bit-for-bit). The correlated
    // per-part MIN is re-planned as a grouped aggregate joined back
    // (broadcast — candidates after the size/type/region filters are tiny),
    // the same shape as Q17's threshold.
    Query("q_tpch_q2", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // The part/supplier predicates filter on the GROUP KEYS of the
      // part-supplier cost aggregate, so they push below the groupBy as
      // broadcast semi-joins: only the qualifying slice of lineitem is
      // shuffled (at SF100k that's the difference between shuffling the
      // whole fact table and a few thousand rows), and each surviving
      // group's content is untouched. The per-part min then rides a window
      // over the already-tiny candidate frame — one pass over lineitem
      // total, where the former agg-and-self-join shape scanned it twice.
      val eurSup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val parts = t(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      val ps = t(s, dir, "lineitem")
        .join(broadcast(parts.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(eurSup.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((dsum(col("l_extendedprice")) / dsum(col("l_quantity")))
          .alias("ps_cost"))
      val cand = ps
        .join(broadcast(eurSup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      cand
        .withColumn("__min_cost",
          min(col("ps_cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("ps_cost") === col("__min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), round(col("ps_cost"), 6).alias("ps_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) /
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS ps_cost
        |  FROM lineitem GROUP BY 1, 2),
        |cand AS (
        |  SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name, ps.ps_cost
        |  FROM ps
        |  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |  JOIN part p ON ps.l_partkey = p.p_partkey
        |    AND p.p_size = 15 AND p.p_type = 'STANDARD')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       round(ps_cost, 6) AS ps_cost
        |FROM cand c
        |WHERE c.ps_cost = (SELECT MIN(c2.ps_cost) FROM cand c2
        |                   WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin),

    // TPC-H Q4 (order-priority checking). No commit/receipt dates in the
    // testdata, so "late" = any lineitem shipped >60 days after the order
    // date; the EXISTS is a semi-join carrying the non-equi lateness
    // predicate alongside the key, shuffle on orderkey only.
    Query("q_tpch_q4", (s, dir) => {
      val ords = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-07-01") &&
          col("o_orderdate") < lit("1997-10-01"))
      ords.join(t(s, dir, "lineitem"),
          ords("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q9 (product-type profit by nation and year). Supply cost has no
    // partsupp to come from, so the cost leg is a retail-price surrogate
    // (1% of p_retailprice per unit); the join tree is the canonical
    // star — two broadcast dims (part-filter, supplier⋈nation) feeding the
    // lineitem⋈orders equi-join, the only big shuffle.
    Query("q_tpch_q9", (s, dir) => {
      val redParts = t(s, dir, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, dir, "lineitem")
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").alias("nation"),
          year(col("o_orderdate")).cast("long").alias("o_year"))
        .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.01) * col("p_retailprice") * col("l_quantity")), 6)
          .alias("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n.n_name AS nation,
        |       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
        |       round(CAST(SUM(CAST(
        |         l.l_extendedprice * (1 - l.l_discount) -
        |         0.01 * p.p_retailprice * l.l_quantity
        |       AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // TPC-H Q11 (important part values). Scope = suppliers in ASIA (the
    // single-nation original generalized to a region); the HAVING threshold
    // is 2× the MEAN per-part share — the original's 0.0001/SF constant
    // re-expressed scale-free, so the row count stays meaningful as the
    // part domain grows (a fixed fraction empties out at 10× parts).
    // Per-part and total are both decimal-exact row sums, so the double
    // comparison agrees with the oracle exactly; the scalar ships as a
    // broadcast one-row crossJoin, the repo's standard global-threshold
    // shape.
    Query("q_tpch_q11", (s, dir) => {
      val asiaSup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 2)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val scoped = t(s, dir, "lineitem")
        .join(broadcast(asiaSup), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).alias("__v"))
      val perPart = scoped.groupBy(col("l_partkey").alias("p_partkey"))
        .agg(dsum(col("__v")).alias("__value"))
      val total = scoped.agg(dsum(col("__v")).alias("__total"),
        countDistinct(col("l_partkey")).alias("__np"))
      perPart.crossJoin(broadcast(total))
        .filter(col("__value") > lit(2.0) * col("__total") / col("__np"))
        .select(col("p_partkey"), round(col("__value"), 6).alias("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    },
      """WITH scoped AS (
        |  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_regionkey = 2),
        |tot AS (SELECT CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS t,
        |               COUNT(DISTINCT l_partkey) AS np
        |        FROM scoped)
        |SELECT l_partkey AS p_partkey,
        |       round(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6) AS value
        |FROM scoped, tot
        |GROUP BY l_partkey, tot.t, tot.np
        |HAVING CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) > 2.0 * tot.t / tot.np
        |ORDER BY value DESC, p_partkey""".stripMargin),

    // TPC-H Q12 (shipping-delay priority split). Ship mode doesn't exist in
    // the testdata; the original's mode buckets become line status, and
    // "received late" becomes shipped >90 days after the order date. One
    // equi-join + conditional counts — the CASE-sum pair stays in one
    // grouped aggregate.
    Query("q_tpch_q12", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).alias("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).alias("low_line_count"))
        .orderBy("l_linestatus"),
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin),

    // TPC-H Q15 (top supplier). The revenue "view" is a grouped aggregate
    // over one quarter; the correlated MAX is a broadcast one-row scalar
    // (same construction as Q11's threshold). Revenue per supplier is a
    // decimal-exact row sum, so the double MAX-equality is bit-stable.
    Query("q_tpch_q15", (s, dir) => {
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).alias("__max_rev"))
      revenue.crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("__max_rev"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 6).alias("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 6) AS total_revenue
        |FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q16 (supplier count by part attributes). The part-supplier
    // relation is the DISTINCT observed (part, supplier) pairs; the
    // complaints NOT-IN becomes a broadcast anti-join against the
    // low-balance suppliers (the 10 rows with s_acctbal < 500). Count
    // distinct suppliers per (brand, type, size) — one shuffle on the
    // group keys.
    Query("q_tpch_q16", (s, dir) => {
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val parts = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val complaintSup = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 500.0).select(col("s_suppkey"))
      ps
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(complaintSup), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |       CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                           WHERE s_acctbal < 500.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q19 (disjunctive brand/size/quantity predicates). One broadcast
    // part join; the three OR'd conjunction arms stay a single codegen'd
    // filter — Catalyst extracts the common p_partkey equi-key so the OR
    // never degrades the join itself.
    Query("q_tpch_q19", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(round(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
          .alias("revenue")),
      """SELECT round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q20 (excess-share suppliers). availqty has no partsupp to come
    // from, so the test is observational: a (part, supplier) pair whose
    // all-time shipped quantity exceeds half the part's 1997 demand. Both
    // quantity totals are decimal-exact; the supplier probe is a semi-join
    // and the region filter broadcasts. Demand joins pair-totals on
    // partkey — red parts only, pruned before either aggregate.
    Query("q_tpch_q20", (s, dir) => {
      val redParts = t(s, dir, "part").filter(col("p_name").startsWith("red"))
        .select(col("p_partkey"))
      val redLines = t(s, dir, "lineitem")
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      val pairQty = redLines.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(dsum(col("l_quantity")).alias("__pair_qty"))
      val demand97 = redLines
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .groupBy(col("l_partkey").alias("__pk"))
        .agg(dsum(col("l_quantity")).alias("__demand"))
      val excess = pairQty
        .join(broadcast(demand97), col("l_partkey") === col("__pk"))
        .filter(col("__pair_qty") > lit(0.5) * col("__demand"))
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 0)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy("s_name")
    },
      """WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |rl AS (SELECT l.* FROM lineitem l JOIN red ON l.l_partkey = red.p_partkey),
        |pair AS (SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS pq
        |  FROM rl GROUP BY 1, 2),
        |dem AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS dq
        |  FROM rl
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT s_name, s_acctbal FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_regionkey = 0
        |WHERE s.s_suppkey IN (
        |  SELECT p.l_suppkey FROM pair p JOIN dem d ON p.l_partkey = d.l_partkey
        |  WHERE p.pq > 0.5 * d.dq)
        |ORDER BY s_name""".stripMargin),

    // TPC-H Q21 (suppliers who kept orders waiting). The original's
    // EXISTS / NOT EXISTS self-joins are re-planned as ONE per-order
    // supplier-stats aggregate joined back: a row is blamed when its order
    // has ≥2 distinct suppliers (EXISTS another) and exactly ONE distinct
    // LATE supplier (NOT EXISTS another late) — set-identical to the
    // correlated formulation, but linear in lineitems instead of two
    // quadratic self-joins. "Late" = shipped >90 days after order date.
    Query("q_tpch_q21", (s, dir) => {
      val fLines = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .alias("__late"))
      val orderStats = fLines.groupBy(col("l_orderkey").alias("__ok"))
        .agg(countDistinct(col("l_suppkey")).alias("__n_supp"),
          countDistinct(when(col("__late"), col("l_suppkey"))).alias("__n_late"))
      fLines.filter(col("__late"))
        .join(orderStats,
          col("l_orderkey") === col("__ok") && col("__n_supp") >= 2 &&
            col("__n_late") === 1)
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).alias("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      """WITH f AS (
        |  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    AND o.o_orderstatus = 'F')
        |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM f l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM f l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM f l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    // TPC-H Q22 (global sales opportunity). The phone country code doesn't
    // exist; its stand-in is the hundreds digit of the zero-padded customer
    // name — same substring-bucket shape, uniform at every sf. Rich-idle =
    // balance above the positive-balance average (broadcast scalar) AND no
    // order since 2000 (anti-join).
    Query("q_tpch_q22", (s, dir) => {
      val coded = t(s, dir, "customer")
        .withColumn("cntrycode", substring(col("c_name"), 16, 1))
        .filter(col("cntrycode").isin("1", "2", "4", "6", "8"))
      val avgBal = coded.filter(col("c_acctbal") > 0.0)
        .agg(davg(col("c_acctbal")).alias("__avg_bal"))
      coded.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .join(t(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).alias("numcust"),
          round(dsum(col("c_acctbal")), 6).alias("totacctbal"))
        .orderBy("cntrycode")
    },
      """WITH coded AS (
        |  SELECT c_custkey, c_acctbal, substr(c_name, 16, 1) AS cntrycode
        |  FROM customer
        |  WHERE substr(c_name, 16, 1) IN ('1', '2', '4', '6', '8')),
        |avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) /
        |         COUNT(*) AS a
        |  FROM coded WHERE c_acctbal > 0.0)
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |       round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS totacctbal
        |FROM coded, avg_bal
        |WHERE c_acctbal > avg_bal.a
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = coded.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin),

    // ---- A6: custom typed Aggregator UDAF ------------------------------
    Query("q_udaf_sum", (s, dir) => {
      val sumUdaf = udaf(Aggregators.SumDouble, Encoders.scalaDouble)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").alias("flag"))
        .agg(sumUdaf(col("l_quantity")).alias("sum_qty"))
        .orderBy("flag")
    },
      """SELECT l_returnflag AS flag, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin),

    // Bounded top-k per group (functions/Aggregators.scala TopKByScore):
    // top-3 orders by price per priority through a k-bounded HASH
    // aggregate — partial buffers combine map-side and only k·partitions
    // tiny rows cross the shuffle, vs the window formulation's full sort
    // of every row by group. Deterministic (score DESC, id ASC); the
    // oracle replays it as the row_number window it replaces.
    Query("q_topk_per_group", (s, dir) => {
      val topk = udaf(new Aggregators.TopKByScore(3),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").alias("priority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).alias("tk"))
        .select(col("priority"), posexplode(col("tk")).as(Seq("rk0", "p")))
        .select(col("priority"), (col("rk0") + 1).cast("long").alias("rnk"),
          round(col("p._1"), 2).alias("price"),
          col("p._2").alias("o_orderkey"))
        .orderBy("priority", "rnk")
    },
      """SELECT priority, rnk, price, o_orderkey FROM (
        |  SELECT o_orderpriority AS priority,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk,
        |         ROUND(o_totalprice, 2) AS price, o_orderkey
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY priority, rnk""".stripMargin),

    // ---- J1: left-anti (insert-ignore shape) ---------------------------
    Query("q_join_anti", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),

    Query("q_insert_ignore", (s, dir) => {
      val customer = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val existing = customer.filter(col("c_custkey") <= 700)
      val incoming = customer.filter(col("c_custkey").between(500, 900))
      // no broadcast hint: incoming is the LEFT (stream) side of
      // insertIgnore's anti join, where a broadcast hint is unsupported
      // (build-left left-anti) — it was dead and only logged a warning;
      // the planner already broadcasts the key probe on the right
      Merge.insertIgnore(existing, incoming, Seq("c_custkey"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey <= 700 OR c_custkey BETWEEN 500 AND 900
        |ORDER BY c_custkey""".stripMargin, lifecycle = true),

    // ---- J2: last-writer-wins merge (upsert shape) ---------------------
    Query("q_upsert_merge", (s, dir) => {
      val orders   = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val existing = orders.filter(col("o_orderkey") % 2 === 0)
      val incoming = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      Merge.upsert(existing, incoming, Seq("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """WITH existing AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |       ROUND(COALESCE(i.o_totalprice, e.o_totalprice), 2) AS price
        |FROM existing e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // The same upsert semantics at FILE level: a manifest-versioned,
    // hash-bucketed lake table (sinks/LakeTable.scala) — init on the even
    // half, copy-on-write MERGE of the price-bumped third-keys, keyed
    // DELETE, then read back through the published manifest. The oracle
    // recomputes with a full-outer coalesce + anti filter, so hash
    // equality proves the storage layer (touched-bucket rewrite, shared
    // cold files, manifest pin) changes nothing about the row semantics.
    Query("q_lake_merge", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_merge"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.LakeTable.read(s, root)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """WITH existing AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (
        |  SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |         COALESCE(i.o_totalprice, e.o_totalprice) AS o_totalprice
        |  FROM existing e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey)
        |SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM merged
        |WHERE o_orderkey % 10 <> 4
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Additive schema evolution (sinks/LakeTable.scala merge + widen): the
    // delta carries a NEW column; the published schema widens and files
    // from before the widening are NEVER rewritten — they read back with
    // NULL by parquet name-matching. The oracle models exactly that: only
    // rows the evolved delta touched have the new column.
    Query("q_lake_schema_evolution", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_evolve"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
      graft.sinks.LakeTable.init(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice")),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 1000.0).alias("o_totalprice"),
            col("o_orderpriority")))
      graft.sinks.LakeTable.read(s, root)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).alias("price"),
          coalesce(col("o_orderpriority"), lit("<pre-widening>"))
            .alias("priority"))
        .orderBy("o_orderkey")
    },
      """WITH existing AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |         o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |       ROUND(COALESCE(i.o_totalprice, e.o_totalprice), 2) AS price,
        |       COALESCE(i.o_orderpriority, '<pre-widening>') AS priority
        |FROM existing e FULL OUTER JOIN incoming i
        |  ON e.o_orderkey = i.o_orderkey
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Merge-on-read delete (sinks/LakeTable.scala deleteMor): the delete
    // publishes O(|keys|) deletion-vector files without reading or
    // rewriting ANY data file; the read applies the subtraction. The CoW
    // alternative (q_lake_merge's delete leg) pays the bucket rewrite up
    // front — this is the other side of that trade, and the oracle (a
    // plain filter) proves the subtraction is exact.
    Query("q_lake_delete_mor", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_mor"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 16)
      graft.sinks.LakeTable.deleteMor(s, root,
        orders.filter(col("o_orderkey") % 7 === 3).select(col("o_orderkey")))
      graft.sinks.LakeTable.read(s, root)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderkey % 7 <> 3
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Version restore (sinks/LakeTable.scala restore): a bad delivery is
    // rolled back by PUBLISHING version 0's manifest as the new head —
    // zero data copied (files are immutable and shared), the bad version
    // stays readable for audit. A follow-up delivery then lands on the
    // restored head. Oracle: evens with the follow-up applied — as if the
    // bad delivery never happened.
    Query("q_lake_restore", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_restore"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.LakeTable.merge(s, root, // the bad delivery: zeroed prices
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", lit(0.0)))
      graft.sinks.LakeTable.restore(s, root, 0L)
      graft.sinks.LakeTable.merge(s, root, // the corrected delivery
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.read(s, root)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """WITH existing AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |       ROUND(COALESCE(i.o_totalprice, e.o_totalprice), 2) AS price
        |FROM existing e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Change data feed over the same init→merge→delete chain
    // (sinks/LakeTable.scala changes): row-level insert / delete /
    // update_preimage / update_postimage between manifest v0 and v2,
    // computed ONLY over buckets whose file sets differ — the oracle
    // replays the classification as a full-outer join of the two snapshot
    // CTEs, so every image and every change label is value-checked.
    Query("q_lake_cdf", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_cdf"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.LakeTable.changes(s, root, 0L, 2L)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).alias("price"),
          col("_change_type").alias("change_type"))
        .orderBy(col("o_orderkey"), col("change_type"))
    },
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (
        |  SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |         COALESCE(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |         COALESCE(i.o_totalprice, e.o_totalprice) AS o_totalprice
        |  FROM v0 e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |  WHERE COALESCE(e.o_orderkey, i.o_orderkey) % 10 <> 4),
        |j AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
        |         a.o_orderkey AS ak, b.o_orderkey AS bk,
        |         a.o_orderpriority AS a_pri, b.o_orderpriority AS b_pri,
        |         a.o_totalprice AS a_price, b.o_totalprice AS b_price
        |  FROM v0 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey),
        |feed AS (
        |  SELECT k AS o_orderkey, b_pri AS o_orderpriority,
        |         ROUND(b_price, 2) AS price, 'insert' AS change_type
        |  FROM j WHERE ak IS NULL
        |  UNION ALL
        |  SELECT k, a_pri, ROUND(a_price, 2), 'delete' FROM j WHERE bk IS NULL
        |  UNION ALL
        |  SELECT k, a_pri, ROUND(a_price, 2), 'update_preimage' FROM j
        |  WHERE ak IS NOT NULL AND bk IS NOT NULL
        |    AND (a_price IS DISTINCT FROM b_price
        |         OR a_pri IS DISTINCT FROM b_pri)
        |  UNION ALL
        |  SELECT k, b_pri, ROUND(b_price, 2), 'update_postimage' FROM j
        |  WHERE ak IS NOT NULL AND bk IS NOT NULL
        |    AND (a_price IS DISTINCT FROM b_price
        |         OR a_pri IS DISTINCT FROM b_pri))
        |SELECT * FROM feed ORDER BY o_orderkey, change_type""".stripMargin, lifecycle = true),

    // Commit-time RECORDED change feed (Manifest.cdfRecord — the Delta
    // _change_data design point): the same lifecycle as q_lake_cdf but
    // every commit writes its delivery-sized diff under _cdf/ and the
    // multi-step span is served by NETTING the recorded feeds (min_by/
    // max_by endpoints per key) instead of diffing two snapshots — the
    // consumer reads O(delta) bytes even though these deliveries
    // hash-scatter into every bucket. A REBUCKET sits inside the span:
    // recorded feeds are layout-independent, so the span stays recorded
    // where the snapshot diff would pay a full value diff. The oracle
    // re-derives the identical net feed from the base parquet, so the
    // check proves recorded netting == snapshot semantics, hash for
    // hash (CdfRecordedSpec pins path selection; the driver pins values)
    Query("q_lake_cdf_recorded", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_cdfrec"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      // deliveries are DELIVERY-SIZED (~1% of keys): the cost gate then
      // provably picks the recorded path (feed bytes ≪ snapshot bytes) —
      // table-scale scattered deliveries would correctly flip it back to
      // the snapshot diff (see changes() cost gate)
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16, cdfRecord = true)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.rebucket(s, root, 8)
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 131 === 0).select(col("o_orderkey")))
      val v = graft.sinks.LakeTable.manifest(s, root).version
      val feed = graft.sinks.LakeTable.changes(s, root, 0L, v)
      require(graft.sinks.LakeTable.lastChangesRecorded.contains(true),
        "q_lake_cdf_recorded must serve from recorded feeds")
      feed.select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).alias("price"),
          col("_change_type").alias("change_type"))
        .orderBy(col("o_orderkey"), col("change_type"))
    },
    // identical net-feed semantics by contract: the recorded path must
    // hash-match the exact SQL that defines the snapshot diff (the
    // rebucket inside the span nets to zero rows)
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |v2 AS (
        |  SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |         COALESCE(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |         COALESCE(i.o_totalprice, e.o_totalprice) AS o_totalprice
        |  FROM v0 e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |  WHERE COALESCE(e.o_orderkey, i.o_orderkey) % 131 <> 0),
        |j AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
        |         a.o_orderkey AS ak, b.o_orderkey AS bk,
        |         a.o_orderpriority AS a_pri, b.o_orderpriority AS b_pri,
        |         a.o_totalprice AS a_price, b.o_totalprice AS b_price
        |  FROM v0 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey),
        |feed AS (
        |  SELECT k AS o_orderkey, b_pri AS o_orderpriority,
        |         ROUND(b_price, 2) AS price, 'insert' AS change_type
        |  FROM j WHERE ak IS NULL
        |  UNION ALL
        |  SELECT k, a_pri, ROUND(a_price, 2), 'delete' FROM j WHERE bk IS NULL
        |  UNION ALL
        |  SELECT k, a_pri, ROUND(a_price, 2), 'update_preimage' FROM j
        |  WHERE ak IS NOT NULL AND bk IS NOT NULL
        |    AND (a_price IS DISTINCT FROM b_price
        |         OR a_pri IS DISTINCT FROM b_pri)
        |  UNION ALL
        |  SELECT k, b_pri, ROUND(b_price, 2), 'update_postimage' FROM j
        |  WHERE ak IS NOT NULL AND bk IS NOT NULL
        |    AND (a_price IS DISTINCT FROM b_price
        |         OR a_pri IS DISTINCT FROM b_pri))
        |SELECT * FROM feed ORDER BY o_orderkey, change_type""".stripMargin, lifecycle = true),

    // Incremental materialized-view maintenance
    // (sinks/MaterializedView.scala): the gold per-priority aggregate is
    // initialized at table v0, the base table then takes an upsert wave and
    // a delete wave, and ONE refresh applies the change feed — count
    // deltas and DECIMAL(38,6) sum retractions. The oracle recomputes the
    // aggregate from the final table content from scratch, so the check
    // proves incremental == full recompute, bit for bit.
    //
    // Measured floor ~5 s warm at sf0.1: the query REBUILDS the whole
    // story per run — table init + two full-table deliveries (modulo keys
    // hash into every bucket, the CDF's worst case) + view init + a
    // refresh whose feed reads both snapshots = 5 table publishes and
    // ~25 sequential jobs of fixed overhead, not data volume. A real
    // pipeline pays only the REFRESH leg per delivery (the last ~1.5 s
    // here); the delta/merged frames are checkpointed once so the feed
    // never re-runs per consumer.
    // Incremental JOIN materialized view (sinks/JoinMaterializedView
    // .scala): fact ⋈ dim GROUP BY dim-attribute maintained from BOTH
    // tables' change feeds by the signed two-leg delta rule
    // (ΔF⋈D_new + F_old⋈ΔD — the cross term folds in exactly once). The
    // lifecycle exercises every maintenance shape in two refreshes: a
    // fact insert wave TOGETHER with a dim attribute MOVE (both legs +
    // the cross term in one pass; the dim leg re-attributes old fact
    // rows between groups through dynamicPrunedScan — the fact is
    // clustered on the join key), then a combined fact update + delete
    // delivery folded through one refresh spanning two base versions.
    // The oracle recomputes the final join aggregate from scratch, so
    // the check proves incremental == full recompute across the whole
    // history.
    //
    // Measured floor (the r11 mv_join_legs split at sf0.1): the LAKE
    // DELIVERIES are the named inherent leg — clustered fact init ~4 s +
    // three copy-on-write rewrites ~7 s (the oracle's deliveries
    // hash-scatter across every bucket BY DESIGN; a real pipeline's
    // bucket-confined delivery rewrites one). The two view refreshes are
    // ~5.4 s cold after the r11 one-pass foldGroupedDelta commit
    // (refresh_1 5.76→3.76 s, refresh_2 2.81→1.68 s; isolated warm
    // q_mv_join 16.0→13.7 s same-session A/B) — each refresh is now
    // delta-derive + ONE copy-on-write fold, so its remaining cost is
    // the CDF derivation plus ~4 fixed-overhead jobs. Isolated 10×
    // scale ratio 2.55 (sublinear — fixed publish overhead amortizes).
    Query("q_mv_join", (s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir")
      val factRoot = tmp + "/graft_mvjoin_fact"
      val dimRoot  = tmp + "/graft_mvjoin_dim"
      val mvRoot   = tmp + "/graft_mvjoin_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(factRoot, dimRoot, mvRoot).foreach(p =>
        new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
          .delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 3 =!= 0),
        factRoot, Seq("o_orderkey"), numBuckets = 8,
        sortCols = Seq("o_custkey"), statsCols = Seq("o_custkey"),
        maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.init(cust, dimRoot, Seq("c_custkey"),
        numBuckets = 4)
      graft.sinks.JoinMaterializedView.init(s, factRoot, dimRoot, mvRoot,
        "o_custkey", Seq("c_mktsegment"), Seq("o_totalprice"),
        numBuckets = 4)
      // delivery 1: fact insert wave AND dim attribute move (every 7th
      // customer changes segment) folded through ONE refresh — both legs
      // plus the ΔF⋈ΔD cross term in the same pass (the spec pins the
      // cross term separately; here it keeps the lifecycle at two
      // refreshes instead of three)
      graft.sinks.LakeTable.merge(s, factRoot,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.merge(s, dimRoot,
        cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_mktsegment", lit("MOVED")))
      graft.sinks.JoinMaterializedView.refresh(s, factRoot, dimRoot, mvRoot)
      // combined fact update + delete, one refresh over two versions
      graft.sinks.LakeTable.merge(s, factRoot,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0))
      graft.sinks.LakeTable.delete(s, factRoot,
        orders.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey")))
      graft.sinks.JoinMaterializedView.refresh(s, factRoot, dimRoot, mvRoot)
      graft.sinks.JoinMaterializedView.read(s, mvRoot)
        .select(col("c_mktsegment"), col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).alias("sum_price"))
        .orderBy("c_mktsegment")
    },
      """WITH fact AS (
        |  SELECT o_custkey,
        |    o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 100.0
        |                        ELSE 0.0 END AS price
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |dim AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM fact JOIN dim ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin, lifecycle = true),

    Query("q_mv_incremental", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.MaterializedView.refresh(s, root, mv)
      graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).alias("sum_price"))
        .orderBy("o_orderpriority")
    },
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (
        |  SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |         COALESCE(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |         COALESCE(i.o_totalprice, e.o_totalprice) AS o_totalprice
        |  FROM v0 e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |  WHERE COALESCE(e.o_orderkey, i.o_orderkey) % 10 <> 4)
        |SELECT o_orderpriority, COUNT(*) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2)
        |         AS sum_price
        |FROM v2 GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Min/max materialized-view maintenance (sinks/MaterializedView.scala
    // minMaxCols): the NON-self-maintainable aggregates — the upsert wave
    // raises extrema (grow-only fold), the delete wave REMOVES group
    // extrema (o_orderkey % 10 = 4 takes whole price ranges out). As of
    // r9 the view carries a k-deep extrema RESERVE per group/direction,
    // so every retraction here is absorbed in O(delta) (the deleted
    // values are subtracted from the reserve; successors are read off the
    // reserve head) and NO base-table recompute job runs — the r8-verdict
    // unpruned-scan weak spot is gone. Reserve exhaustion (a delivery
    // deleting a group's k extrema) falls back to a recompute restricted
    // to those groups and pruned via the base's sidecars
    // (an InSet over LakeTable.scan); LakeCdfSpec pins both the no-job and the
    // pruned-file-count contracts. The oracle recomputes count / sum /
    // min / max from the final table content from scratch, so the check
    // proves incremental == full recompute across both paths.
    //
    // Measured floor: same lifecycle class as q_mv_incremental (whose
    // comment details the 5-publish ~25-job rebuild) plus the reserve
    // algebra's overhead (~0.5-0.6 s at sf0.1: the salted two-phase
    // delta arrays over the worst-case table-sized feed, the exhaustion
    // check, the reserve columns in the view write) — so this query's
    // warm floor sits just ABOVE q_mv_incremental's by that margin, by
    // construction: it is the same rebuild doing strictly more. In this
    // workload the reserve absorbs every retraction (lastExhausted = 0;
    // verified against a DuckDB order-statistics ground truth), so the
    // refresh runs ZERO base-table jobs. (r9 found and fixed a nested-
    // lambda HOF mis-evaluation that made the old exhaustion predicate
    // fire spuriously for every group — multiset subtraction is now a
    // native lambda-free expression, functions/ArrayFunctions.scala.)
    // A real pipeline pays only the refresh leg per delivery, and that
    // leg is delivery-sized even under deletes.
    Query("q_mv_minmax", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_mm_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_mm_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        minMaxCols = Seq("o_totalprice"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.MaterializedView.refresh(s, root, mv)
      graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).alias("sum_price"),
          round(col("min_o_totalprice"), 2).alias("min_price"),
          round(col("max_o_totalprice"), 2).alias("max_price"))
        .orderBy("o_orderpriority")
    },
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (
        |  SELECT COALESCE(e.o_orderkey, i.o_orderkey) AS o_orderkey,
        |         COALESCE(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |         COALESCE(i.o_totalprice, e.o_totalprice) AS o_totalprice
        |  FROM v0 e FULL OUTER JOIN incoming i ON e.o_orderkey = i.o_orderkey
        |  WHERE COALESCE(e.o_orderkey, i.o_orderkey) % 10 <> 4)
        |SELECT o_orderpriority, COUNT(*) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2)
        |         AS sum_price,
        |       ROUND(MIN(o_totalprice), 2) AS min_price,
        |       ROUND(MAX(o_totalprice), 2) AS max_price
        |FROM v2 GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Min/max MV under FORCED reserve exhaustion: reserveDepth=1 and the
    // delete wave takes exactly each group's minimum-price row, so every
    // group's low reserve is wiped and the refresh MUST run the
    // recompute leg — which routes through the base's zone-map sidecars
    // (the base is clustered on the group column, the class-doc layout).
    // The oracle recomputes count/sum/min/max from the surviving rows
    // from scratch, putting the rare recompute path itself under the
    // value gate, not just the common absorb path q_mv_minmax exercises.
    Query("q_mv_minmax_exhaust", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_mmx_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_mmx_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 2 === 0)
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 16, sortCols = Seq("o_orderpriority"),
        statsCols = Seq("o_orderpriority"), maxRecordsPerFile = 4096L)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        minMaxCols = Seq("o_totalprice"), reserveDepth = 1)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val victims = orders.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col("o_orderkey"))
      graft.sinks.LakeTable.delete(s, root, victims)
      graft.sinks.MaterializedView.refresh(s, root, mv, reserveDepth = 1)
      graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).alias("sum_price"),
          round(col("min_o_totalprice"), 2).alias("min_price"),
          round(col("max_o_totalprice"), 2).alias("max_price"))
        .orderBy("o_orderpriority")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |  FROM base),
        |survivors AS (SELECT * FROM ranked WHERE rn <> 1)
        |SELECT o_orderpriority, COUNT(*) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2)
        |         AS sum_price,
        |       ROUND(MIN(o_totalprice), 2) AS min_price,
        |       ROUND(MAX(o_totalprice), 2) AS max_price
        |FROM survivors GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Incremental top-k/bottom-k per group, served off the MV's extrema
    // reserves (sinks/MaterializedView read: lowk_/topk_): the k-deep
    // reserve that makes min/max retraction O(delta) IS a maintained
    // bottom-k/top-k — this query puts the deeper ranks under the
    // oracle. Lifecycle: insert delivery (prefix-safe merge), then a
    // delivery deleting every group's 5 smallest — past the 4-deep
    // reserve, so every group EXHAUSTS low and the recompute refills
    // every reserve to full depth: the served arrays are
    // deterministically the TRUE 4 smallest/largest survivors (DuckDB
    // recomputes them with window rank + ordered list aggregation;
    // arrays compare as fixed-decimal strings — the one cross-engine
    // array encoding both sides render identically).
    Query("q_mv_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_tk_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_tk_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16,
        sortCols = Seq("o_orderpriority"), statsCols = Seq("o_orderpriority"))
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        minMaxCols = Seq("o_totalprice"), reserveDepth = 4)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0))
      // refresh between deliveries: the reserve must HOLD the post-merge
      // 4 smallest when the delete lands, so wiping the 5 smallest
      // deterministically exhausts every group (one combined refresh
      // would net the inserted-then-deleted rows out of the feed and
      // leave shorter — still prefix-true — reserves)
      graft.sinks.MaterializedView.refresh(s, root, mv, reserveDepth = 4)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val victims = graft.sinks.LakeTable.read(s, root)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5).select(col("o_orderkey"))
      graft.sinks.LakeTable.delete(s, root, victims)
      graft.sinks.MaterializedView.refresh(s, root, mv, reserveDepth = 4)
      val asStr = (a: org.apache.spark.sql.Column) => array_join(
        transform(a, v => v.cast("decimal(18,2)").cast("string")), ",")
      graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          round(col("min_o_totalprice"), 2).alias("min_price"),
          round(col("max_o_totalprice"), 2).alias("max_price"),
          asStr(col("lowk_o_totalprice")).alias("low4"),
          asStr(col("topk_o_totalprice")).alias("top4"))
        .orderBy("o_orderpriority")
    },
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS rn FROM v1),
        |survivors AS (SELECT * FROM ranked WHERE rn > 5)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ROUND(MIN(o_totalprice), 2) AS min_price,
        |       ROUND(MAX(o_totalprice), 2) AS max_price,
        |       array_to_string(list_slice(
        |         list(CAST(o_totalprice AS DECIMAL(18,2))
        |           ORDER BY o_totalprice ASC), 1, 4), ',') AS low4,
        |       array_to_string(list_slice(
        |         list(CAST(o_totalprice AS DECIMAL(18,2))
        |           ORDER BY o_totalprice DESC), 1, 4), ',') AS top4
        |FROM survivors GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Approx-count-distinct materialized view (sinks/MaterializedView
    // approxNdCols): per-group DataSketches HLL sketches maintained
    // incrementally — the insert delivery UNIONS into each group's sketch
    // (register-max merge, O(delta)); the delete delivery flags its groups
    // and rides the exhausted-group recompute, since a sketch cannot
    // retract. The serving query checks the estimate against the base's
    // EXACT per-group distinct count (lgK=12 ⇒ ~0.8% rse; 5% bound is
    // >5σ), so the oracle's literal TRUE is an honest assertion, not a
    // tautology — the exact count itself is value-compared too.
    Query("q_mv_approx_distinct", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_nd_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_nd_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        approxNdCols = Seq("o_custkey"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.MaterializedView.refresh(s, root, mv)
      val view = graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          col("appx_nd_o_custkey"))
      val exact = graft.sinks.LakeTable.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).alias("nd_exact"))
      view.join(exact, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("cnt"), col("nd_exact"),
          (abs(col("appx_nd_o_custkey") - col("nd_exact")) /
            col("nd_exact") < 0.05).alias("within_bound"))
        .orderBy("o_orderpriority")
    },
      """WITH survivors AS (
        |  SELECT o_orderkey, o_orderpriority, o_custkey FROM orders
        |  WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |    AND o_orderkey % 10 <> 4)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_exact,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM survivors GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Approx-quantile materialized view (sinks/MaterializedView
    // approxQuantileCols): per-group DDSketch bucket histograms
    // maintained incrementally — and unlike the HLL column, deletes
    // RETRACT exactly (bucket counts subtract via a signed map merge),
    // so the delete delivery here costs O(delta) with no recompute leg.
    // Serving walks the histogram in-plan (nearest rank over geometric
    // buckets, relative error ≤ α = 1%) and the query checks both
    // estimates against the base's EXACT interpolated percentiles at a
    // 2.5% relative bound (α plus nearest-rank-vs-interpolation
    // discretization); the exact percentiles are value-compared too.
    Query("q_mv_quantile", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_q_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_q_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        approxQuantileCols = Seq("o_totalprice"), quantileAlpha = 0.01)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.MaterializedView.refresh(s, root, mv)
      val view = graft.sinks.MaterializedView.read(s, mv, Seq(0.5, 0.95))
        .select(col("o_orderpriority"), col("cnt"),
          col("appx_p500_o_totalprice"), col("appx_p950_o_totalprice"))
      val exact = graft.sinks.LakeTable.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).alias("p50x"),
          percentile(col("o_totalprice"), lit(0.95)).alias("p95x"))
      view.join(exact, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("cnt"),
          round(col("p50x"), 2).alias("p50_exact"),
          round(col("p95x"), 2).alias("p95_exact"),
          (abs(col("appx_p500_o_totalprice") - col("p50x")) / col("p50x")
            < 0.025 &&
           abs(col("appx_p950_o_totalprice") - col("p95x")) / col("p95x")
            < 0.025).alias("within_bound"))
        .orderBy("o_orderpriority")
    },
      """WITH survivors AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |    AND o_orderkey % 10 <> 4)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
        |       ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95_exact,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM survivors GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Variance materialized view (sinks/MaterializedView varCols): the
    // view carries the signed sum of squares (DECIMAL(38,6) — per-row
    // squaring rounds deterministically, so a delete cancels its insert
    // exactly) plus the non-null count, making sample variance FULLY
    // self-maintainable: like sum and the quantile histograms, the
    // delete delivery retracts exactly with no recompute leg. Hashable
    // output: cnt and the exact decimal sum, plus the base's own
    // stddev_samp (Spark ↔ DuckDB agree to ~1e-8 relative — safe at
    // ROUND 2); the MV-SERVED stddev is validated against that exact
    // recompute at 1e-9 relative in the within_bound flag (float
    // summation order differs, value equality doesn't hash).
    Query("q_mv_variance", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_mv_v_base"
      val mv = System.getProperty("java.io.tmpdir") + "/graft_mv_v_view"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(root, mv).foreach(p => new org.apache.hadoop.fs.Path(p)
        .getFileSystem(conf).delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 16)
      graft.sinks.MaterializedView.init(s, root, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"), numBuckets = 4,
        varCols = Seq("o_totalprice"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.MaterializedView.refresh(s, root, mv)
      val view = graft.sinks.MaterializedView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_o_totalprice"), col("stddev_o_totalprice"))
      val exact = graft.sinks.LakeTable.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(stddev_samp(col("o_totalprice")).alias("sdx"))
      view.join(exact, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).alias("sum_price"),
          round(col("sdx"), 2).alias("sd_exact"),
          (abs(col("stddev_o_totalprice") - col("sdx")) <=
            col("sdx") * 1e-9 + lit(1e-9)).alias("within_bound"))
        .orderBy("o_orderpriority")
    },
      """WITH survivors AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |    AND o_orderkey % 10 <> 4)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        |         AS DOUBLE), 2) AS sum_price,
        |       ROUND(stddev_samp(o_totalprice), 2) AS sd_exact,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM survivors GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Metadata-only COUNT(*) (sinks/LakeTable.scala fastCount): after an
    // init and a merge (carried files keep their sidecar rows, fresh files
    // are measured), the row count comes from the zone-map sidecar alone —
    // ZERO data files opened, the aggregate-pushdown answer a table format
    // owes its planner at 100 TB. The oracle recomputes the count from the
    // logical content.
    Query("q_lake_fastcount", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_fastcount"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, statsCols = Seq("o_totalprice"))
      // delivery: fresh keys only, so the expected count is pure arithmetic
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      val n = graft.sinks.LakeTable.fastCount(s, root)
        .getOrElse(sys.error("fastCount declined — sidecar incomplete"))
      import s.implicits._
      Seq(n).toDF("n_rows")
    },
      """SELECT CAST(COUNT(*) +
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 0)
        |  AS BIGINT) AS n_rows
        |FROM orders""".stripMargin, lifecycle = true),

    // Bucket-count evolution (sinks/LakeTable.scala rebucket): a table
    // initialized at 4 buckets is rewritten to 16 mid-lifecycle — the
    // operational move when per-bucket volume outgrows executor-sized
    // units at scale — and the delete delivered AFTER the rebucket
    // exercises the merge machinery against the new layout. Content is
    // the invariant: the oracle recomputes the final aggregate from the
    // logical row set, blind to the physical reshuffle.
    Query("q_lake_rebucket", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_rebucket"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 4)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.rebucket(s, root, 16)
      graft.sinks.LakeTable.delete(s, root,
        orders.filter(col("o_orderkey") % 10 === 4).select(col("o_orderkey")))
      graft.sinks.LakeTable.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("cnt"),
          round(sum(col("o_totalprice").cast("decimal(38,6)")).cast("double"), 2)
            .alias("sum_price"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2)
        |         AS sum_price
        |FROM orders
        |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |  AND o_orderkey % 10 <> 4
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Zero-copy shallow clone (sinks/LakeTable.scala cloneShallow): the
    // Delta CLONE / Iceberg snapshot-ref branching move — the clone's
    // manifest references the source's files ABSOLUTELY (no data bytes
    // copied however large the table; LakeCloneSpec pins zero parquet
    // files under the clone root at clone time), then the branches
    // diverge: the clone's merge lands clone-local files only, the
    // source's delete rewrites source buckets the clone never sees.
    // Both branches serve different logical contents off one shared
    // base; the oracle recomputes each branch from its predicates.
    Query("q_lake_clone", (s, dir) => {
      val base = System.getProperty("java.io.tmpdir") + "/graft_lake_clone"
      val src = base + "/src"
      val dst = base + "/dst"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        src, Seq("o_orderkey"), numBuckets = 4,
        statsCols = Seq("o_totalprice"))
      graft.sinks.LakeTable.cloneShallow(s, src, dst)
      // divergence: the clone gains the %3 keys, the source drops the
      // %5 keys (its rewrite leaves the clone's pinned files in place —
      // the retention contract cloneShallow documents)
      graft.sinks.LakeTable.merge(s, dst,
        orders.filter(col("o_orderkey") % 3 === 0))
      graft.sinks.LakeTable.delete(s, src,
        orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")))
      // incremental detach: copy-on-write of ONLY the source-referenced
      // files (the clone's own delta carries untouched) — content is the
      // invariant the oracle checks
      graft.sinks.LakeTable.detachClone(s, dst)
      val cloneAgg = graft.sinks.LakeTable.read(s, dst)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("clone_cnt"))
      val srcAgg = graft.sinks.LakeTable.read(s, src)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("src_cnt"))
      cloneAgg.join(srcAgg, Seq("o_orderpriority"), "full_outer")
        .orderBy("o_orderpriority")
    },
      """WITH clone AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS clone_cnt
        |  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
        |  GROUP BY 1),
        |src AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS src_cnt
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 <> 0
        |  GROUP BY 1)
        |SELECT o_orderpriority, clone_cnt, src_cnt
        |FROM clone FULL OUTER JOIN src USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // Z-order layout evolution (sinks/LakeTable.scala optimizeZOrder):
    // the lineitem slice is first laid out sorted on l_partkey ALONE,
    // then rewritten in Morton-interleaved (l_partkey, l_suppkey) order —
    // the Delta OPTIMIZE ZORDER maintenance pass — and a two-predicate
    // box filter over scan() reads through the zone-map intersection. The
    // oracle is the plain conjunctive filter on the logical content;
    // LakeTableSpec pins the physical contract (the box opens fewer
    // files than the single-sort layout needed, on BOTH columns). Eight
    // buckets is the realistic layout (the engine's posture is
    // executor-sized buckets — the write parallelizes per bucket; a
    // 1-bucket table would serialize both full-table sorted writes into
    // one task, the r10 zorder_legs split attributes ~24 s of the old floor
    // to exactly that). File rolls are 16k rows, not 4k: the OPTIMIZE
    // pays to RE-READ its own init's output, and the 10× scale step
    // showed the tiny-file read tax directly (4k rolls → 1470 files at
    // 10×, the zorder leg 4× slower than init reading the same rows
    // from 10 source files). The box intersection still opens a
    // handful of the ~40 files.
    Query("q_lake_zorder", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_zorder"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      graft.sinks.LakeTable.init(li, root,
        Seq("l_orderkey", "l_linenumber"), numBuckets = 8,
        sortCols = Seq("l_partkey"), statsCols = Seq("l_partkey", "l_suppkey"),
        maxRecordsPerFile = 16384L)
      graft.sinks.LakeTable.optimizeZOrder(s, root,
        Seq("l_partkey", "l_suppkey"))
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(1, 10))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity").cast("double").alias("qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300
        |  AND l_suppkey BETWEEN 1 AND 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin, lifecycle = true),

    // Incremental OPTIMIZE (sinks/LakeTable.scala
    // optimizeZOrderIncremental): the O(delta) twin of q_lake_zorder's
    // O(table) rewrite. 7/8 of the slice is laid out and z-ordered up
    // front; the last 1/8 arrives as a copy-on-write merge and a MoR
    // delete retires every 97th order — the incremental pass re-lays
    // ONLY what the deliveries made z-stale (the marker's file set names
    // the z-tight files; replacement files of merge-touched buckets drop
    // out by path) under the FROZEN axes, folding the deletion vectors.
    // In this lifecycle the hash-scattered delivery touches every bucket,
    // so the pass degenerates to a full re-lay by design — the oracle
    // checks the surviving logical content through the box read;
    // LakeTableSpec pins the O(delta) carry with bucket-confined
    // deliveries (untouched buckets' z files carry by path, sidecar
    // entries included) and the no-op fast path.
    Query("q_lake_zorder_incr", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_zincr"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      // the synthetic lineitem repeats (l_orderkey, l_linenumber); the
      // 4-column key is the unique one, so the upsert collapses nothing
      graft.sinks.LakeTable.init(li.filter(col("l_orderkey") % 8 =!= 0),
        root, Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        numBuckets = 8, sortCols = Seq("l_partkey"),
        statsCols = Seq("l_partkey", "l_suppkey"),
        maxRecordsPerFile = 16384L)
      graft.sinks.LakeTable.optimizeZOrder(s, root,
        Seq("l_partkey", "l_suppkey"))
      graft.sinks.LakeTable.merge(s, root,
        li.filter(col("l_orderkey") % 8 === 0))
      graft.sinks.LakeTable.deleteMor(s, root,
        li.filter(col("l_orderkey") % 97 === 0)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
      graft.sinks.LakeTable.optimizeZOrderIncremental(s, root)
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(1, 10))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity").cast("double").alias("qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       CAST(l_quantity AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300
        |  AND l_suppkey BETWEEN 1 AND 10
        |  AND l_orderkey % 97 <> 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin, lifecycle = true),

    // Indexing evolution (sinks/LakeTable.scala alterIndexing): a table
    // initialized WITHOUT zone maps gains statsCols after the fact — one
    // metadata publish plus a stats pass, zero data rewritten — and a
    // range filter over scan() immediately prunes through the fresh
    // sidecar. The
    // oracle is the plain range filter; the spec pins files-kept <
    // files-live and the stale-sidecar-never-carried rule.
    Query("q_lake_alter_index", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_alterix"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_orderdate"),
        maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.alterIndexing(s, root,
        statsCols = Seq("o_orderdate"))
      val d = orders.schema("o_orderdate").dataType
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("o_orderdate").between(
          lit("1996-01-01 00:00:00").cast(d), lit("1996-12-31 23:59:59").cast(d)))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").alias("d"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |       ROUND(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Metadata-only MIN/MAX (sinks/LakeTable.scala fastMinMax): the
    // global extrema of the stats columns answered from the zone-map
    // sidecar alone — per-file extrema are exact and files immutable, so
    // the table min is the least per-file min; zero data files open. The
    // delivery SHIFTS prices up, so the true max lives in a fresh file
    // and the answer proves the sidecar's O(delta) carry-forward merged
    // fresh-file stats correctly. Oracle recomputes both extrema from
    // the raw rows plus the same arithmetic delivery.
    Query("q_lake_faststats", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_faststats"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, statsCols = Seq("o_totalprice", "o_orderdate"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_totalprice", col("o_totalprice") + 1000000.0))
      def mm(c: String) = graft.sinks.LakeTable.fastMinMax(s, root, c)
        .getOrElse(sys.error(s"fastMinMax declined for $c"))
      val (mnP, mxP) = mm("o_totalprice")
      val (mnD, mxD) = mm("o_orderdate")
      import s.implicits._
      Seq(1).toDF("one").select(
        round(lit(mnP.orNull).cast("double"), 2).alias("min_price"),
        round(lit(mxP.orNull).cast("double"), 2).alias("max_price"),
        date_format(lit(mnD.orNull).cast("timestamp"), "yyyy-MM-dd")
          .alias("min_date"),
        date_format(lit(mxD.orNull).cast("timestamp"), "yyyy-MM-dd")
          .alias("max_date"))
    },
      """WITH all_rows AS (
        |  SELECT o_totalprice, o_orderdate FROM orders
        |  UNION ALL
        |  SELECT o_totalprice + 1000000.0, o_orderdate FROM orders
        |  WHERE o_orderkey % 13 = 0
        |)
        |SELECT ROUND(MIN(o_totalprice), 2) AS min_price,
        |       ROUND(MAX(o_totalprice), 2) AS max_price,
        |       strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
        |       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
        |FROM all_rows""".stripMargin, lifecycle = true),

    // ANALYZE-style table statistics (sinks/LakeTable.scala fastNdv):
    // per-column NDV answered by register-max union of the per-file HLL
    // sketches in the `_ndv` sidecar — zero data files opened at ask
    // time, and half this table's sketch mass arrives via the O(delta)
    // carry-forward merge path. The low-cardinality column (5 priorities)
    // is exact (sketch still in sparse mode) and hash-checked directly;
    // the high-cardinality custkey estimate is value-checked against the
    // exact distinct at a 5% bound (lgK=12 ≈ 0.8% rse). Exact metadata
    // row count rides along. This is the statistic that decides
    // broadcast-vs-shuffle joins at 100 TB without scanning the table.
    Query("q_lake_analyze", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_analyze"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, statsCols = Seq("o_custkey"),
        ndvCols = Seq("o_custkey", "o_orderpriority"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_custkey", col("o_custkey") + 10000000L))
      def ndv(c: String) = graft.sinks.LakeTable.fastNdv(s, root, c)
        .getOrElse(sys.error(s"fastNdv declined for $c"))
      val nRows = graft.sinks.LakeTable.fastCount(s, root)
        .getOrElse(sys.error("fastCount declined — sidecar incomplete"))
      val exactCust = graft.sinks.LakeTable.read(s, root)
        .agg(countDistinct(col("o_custkey"))).head().getLong(0)
      import s.implicits._
      Seq((nRows, exactCust, ndv("o_orderpriority"), ndv("o_custkey")))
        .toDF("n_rows", "nd_cust", "nd_prio", "__est")
        .select(col("n_rows"), col("nd_cust"), col("nd_prio"),
          (abs(col("__est") - col("nd_cust")).cast("double") <=
            col("nd_cust") * 0.05).alias("cust_est_ok"))
    },
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey + 10000000, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
        |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
        |  TRUE AS cust_est_ok
        |FROM live""".stripMargin, lifecycle = true),

    // Dynamic file pruning (sinks/LakeTable.scala dynamicPrunedScan):
    // the dim ⋈ fact join where the dim FILTER decides which fact files
    // open — the build side's surviving keys are collected driver-side
    // (bounded) and pruned through the fact's zone map + bloom sidecars
    // before any data file is read; the broadcast join then applies the
    // exact predicate. The fact table is clustered on the join column
    // (sortCols + rolled files), so each customer's orders live in few
    // files — the 100 TB shape: a dim filtered to thousands of keys
    // opens a sliver of the fact. Oracle is the plain join.
    Query("q_lake_dfp", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_dfp"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_custkey"),
        statsCols = Seq("o_custkey"), bloomCols = Seq("o_custkey"),
        maxRecordsPerFile = 4096L)
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey") % 50 === 0)
        .select(col("c_custkey"))
      val fact = graft.sinks.LakeTable.dynamicPrunedScan(s, root,
        "o_custkey", dim)
      fact.join(broadcast(dim), fact("o_custkey") === dim("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).alias("n_orders"),
          round(sum(col("o_totalprice")), 2).alias("sum_price"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey % 50 = 0
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin, lifecycle = true),

    // Metadata aggregate pushdown (plans/LakeMetadataAggs.scala): the
    // first branch's global COUNT/MIN/MAX is answered from the manifest +
    // zone-map sidecar (the optimizer rule replaces the whole aggregate
    // with a precomputed LocalRelation — zero data files opened); the
    // second branch's WHERE keeps the real scan (file-pruned through the
    // SidecarFileIndex). The oracle checks both against the raw table —
    // a wrong metadata answer or a wrong prune breaks the hash.
    Query("q_lake_agg_pushdown", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_aggpd"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate").cast("date").alias("o_odate"),
        col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_odate"),
        statsCols = Seq("o_odate", "o_totalprice"),
        maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.scan(s, root).createOrReplaceTempView("aggpd")
      s.sql("""SELECT 'all' AS scope, COUNT(*) AS n,
        |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM aggpd
        |UNION ALL
        |SELECT '1996y' AS scope, COUNT(*) AS n,
        |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM aggpd
        |WHERE o_odate BETWEEN DATE'1996-01-01' AND DATE'1996-12-31'
        |ORDER BY scope""".stripMargin)
    },
      """WITH src AS (SELECT CAST(o_orderdate AS DATE) AS o_odate,
        |                    o_totalprice FROM orders)
        |SELECT 'all' AS scope, COUNT(*) AS n,
        |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM src
        |UNION ALL
        |SELECT '1996y' AS scope, COUNT(*) AS n,
        |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM src
        |WHERE o_odate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |ORDER BY scope""".stripMargin, lifecycle = true),

    // Cross-table atomic transaction (sinks/LakeTxn.scala): a fact and a
    // dim receive their deliveries in ONE transaction — visibility flips
    // for both tables with a single outcome-file create, so no reader
    // ever joins new fact rows against the old dim. Lifecycle: init both
    // → txn1 commits (fact price bump + dim segment move) → txn2 stages
    // POISON rows into both tables and fails before commit (presumed
    // abort — nothing visible) → a crashed transaction's orphan staging
    // is left in-flight on the fact (readers skip it without blocking).
    // The oracle recomputes the join from init + txn1 alone; any leaked
    // poison row breaks the hash.
    Query("q_lake_txn", (s, dir) => {
      val base = System.getProperty("java.io.tmpdir")
      val fRoot = base + "/graft_lake_txn_f"
      val dRoot = base + "/graft_lake_txn_d"
      val fs = new org.apache.hadoop.fs.Path(fRoot)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(fRoot, dRoot).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val customer = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        fRoot, Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(customer, dRoot, Seq("c_custkey"),
        numBuckets = 4)
      graft.sinks.LakeTxn.atomically(s, fRoot) { txn =>
        txn.merge(fRoot, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        txn.merge(dRoot, customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("TXN")))
      }
      try graft.sinks.LakeTxn.atomically(s, fRoot) { txn =>
        txn.merge(fRoot, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(-1e9)))
        txn.merge(dRoot, customer.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_mktsegment", lit("POISON")))
        sys.error("injected failure before commit")
      } catch { case _: RuntimeException => () }
      // a CRASHED transaction: staged, outcome never written — in-flight
      graft.sinks.LakeTable.mergeTagged(s, fRoot,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", lit(-1e9)), None,
        Some(fRoot + "/_txn/ghost-never-committed.json"))
      val f = graft.sinks.LakeTable.read(s, fRoot)
      val d = graft.sinks.LakeTable.read(s, dRoot)
      f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
        .groupBy(col("c_mktsegment").alias("seg"))
        .agg(count(lit(1)).alias("n"),
          round(dsum(col("o_totalprice")), 2).alias("sum_price"))
        .orderBy("seg")
    },
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
        |d AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'TXN'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT seg, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |             AS DOUBLE), 2) AS sum_price
        |FROM f JOIN d ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin, lifecycle = true),

    // DESCRIBE HISTORY surface (sinks/LakeTable.scala history()):
    // metadata-only operational history covering every SLOT, not just the
    // live chain. Lifecycle on a 2-bucket table: init → merge → MoR delete
    // (leaves 2 deletion vectors) → a transaction that stages a merge and
    // aborts (its slot folds the DVs but never becomes visible) → a
    // crashed transaction left in-flight. Every delta spans hundreds of
    // keys, so both buckets are touched deterministically: file/DV counts,
    // states, txn tagging and newest-first publish-clock ordering are all
    // arithmetic facts the oracle replays as a VALUES table.
    Query("q_lake_history", (s, dir) => {
      import s.implicits._
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_hist"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 2)
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
      graft.sinks.LakeTable.deleteMor(s, root,
        orders.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey")))
      try graft.sinks.LakeTxn.atomically(s, root) { txn =>
        txn.merge(root, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(-1e9)))
        sys.error("injected failure before commit")
      } catch { case _: RuntimeException => () }
      graft.sinks.LakeTable.mergeTagged(s, root,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", lit(-1e9)), None,
        Some(root + "/_txn/ghost-never-committed.json"))
      val h = graft.sinks.LakeTable.history(s, root)
      val rows = h.zipWithIndex.map { case (vi, i) =>
        val tsOk = i == h.length - 1 || vi.tsMillis >= h(i + 1).tsMillis
        (vi.version, vi.state, vi.files, vi.dvFiles, vi.numBuckets,
          vi.txn.isDefined, tsOk)
      }
      rows.toDF("version", "state", "files", "dv", "buckets", "has_txn",
        "ts_ok").orderBy(org.apache.spark.sql.functions.desc("version"))
    },
      """SELECT * FROM (VALUES
        |  (CAST(4 AS BIGINT), 'in-flight', 2, 0, 2, TRUE,  TRUE),
        |  (CAST(3 AS BIGINT), 'aborted',   2, 0, 2, TRUE,  TRUE),
        |  (CAST(2 AS BIGINT), 'committed', 2, 2, 2, FALSE, TRUE),
        |  (CAST(1 AS BIGINT), 'committed', 2, 0, 2, FALSE, TRUE),
        |  (CAST(0 AS BIGINT), 'committed', 2, 0, 2, FALSE, TRUE))
        |AS t(version, state, files, dv, buckets, has_txn, ts_ok)
        |ORDER BY version DESC""".stripMargin, lifecycle = true),

    // Age-based retention (sinks/LakeTable.scala vacuumOlderThan — the
    // "keep 7 days of time travel" operator surface) under multi-host
    // clock skew. Lifecycle: init + three merges, then the publish
    // stamps are FORGED onto different writer clocks — v0 ancient
    // (beyond the skew margin), v1 inside the window, v2 stamped
    // slightly out-of-window by a slow clock while sitting ABOVE v1,
    // v3 fresh — and a 60 s window is vacuumed. The contract pinned:
    // the skewed stamp neither ends the newest-first walk (v1, a
    // version INSIDE maxAgeMillis, must survive and still time-travel)
    // nor evicts by stamp (v2 is kept by position); only the genuinely
    // ancient v0 goes. The oracle recomputes the head (sequential
    // upserts, later merge wins) and the v1 snapshot from raw orders.
    Query("q_lake_retention", (s, dir) => {
      import s.implicits._
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_retn"
      val hp = new org.apache.hadoop.fs.Path(root)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 2)                      // v0
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))   // v1
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 500))    // v2
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 700))    // v3
      def stamp(v: Long, ts: Long): Unit = {
        val p = new org.apache.hadoop.fs.Path(root, s"_versions/$v.json")
        val in = fs.open(p)
        val raw = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        fs.delete(p, false)
        val out = fs.create(p, false)
        try out.write(raw.replaceAll("\"ts\":\\d+", s""""ts":$ts""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      val now = System.currentTimeMillis
      stamp(0L, now - 400000L) // ancient: past the 5 min skew margin
      stamp(1L, now)           // in window, BELOW the skew-stamped slot
      stamp(2L, now - 70000L)  // out-of-window stamp from a slow clock
      stamp(3L, now)
      graft.sinks.LakeTable.vacuumOlderThan(s, root, 60000L)
      val kept = graft.sinks.LakeTable.versions(fs, root)
      val head = graft.sinks.LakeTable.read(s, root)
      val v1Rows = graft.sinks.LakeTable.read(s, root, Some(1L)).count()
      head.agg(
        count(lit(1)).alias("n_rows"),
        round(sum(col("o_totalprice")), 2).alias("sum_price"))
        .select(lit(kept.size).alias("versions_kept"),
          lit(kept.min).cast("bigint").alias("oldest_kept"),
          lit(kept.contains(2L)).alias("skew_slot_kept"),
          lit(!kept.contains(0L)).alias("ancient_dropped"),
          col("n_rows"), col("sum_price"),
          lit(v1Rows).cast("bigint").alias("v1_rows"))
    },
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 700
        |         WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500
        |         WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS price
        |  FROM orders
        |  WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
        |     OR o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
        |)
        |SELECT 3 AS versions_kept, CAST(1 AS BIGINT) AS oldest_kept,
        |  TRUE AS skew_slot_kept, TRUE AS ancient_dropped,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 2)
        |    AS sum_price,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) AS v1_rows
        |FROM t""".stripMargin, lifecycle = true),

    // Streaming CDC mirror (streaming/LakeCdfSource.scala with one root +
    // LakeStreaming.mirror): the source table's versions are the stream's
    // offsets; a subscriber bootstraps from the snapshot-as-inserts batch
    // and then rides O(delta) change-feed batches, applying them through
    // the one mirror batch applier (idempotent merge/deleteMor) —
    // exactly-once replication with no offset ledger beyond the
    // checkpoint. Lifecycle: init (evens) → mirror → merge
    // (multiples of 3, price bumped) + MoR-delete (multiples of 10) →
    // mirror again; the oracle recomputes the replicated end state from
    // the raw table.
    Query("q_lake_cdf_mirror", (s, dir) => {
      val base = System.getProperty("java.io.tmpdir")
      val srcRoot = base + "/graft_lake_cdfmir_src"
      val tgtRoot = base + "/graft_lake_cdfmir_tgt"
      val cp = base + "/graft_lake_cdfmir_cp"
      val fs = new org.apache.hadoop.fs.Path(srcRoot)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(srcRoot, tgtRoot, cp).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        srcRoot, Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(orders.filter(lit(false)),
        tgtRoot, Seq("o_orderkey"), numBuckets = 8)
      def run(): Unit = {
        val q = graft.streaming.LakeStreaming.mirror(s, srcRoot, tgtRoot)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run() // bootstrap from the snapshot
      graft.sinks.LakeTable.merge(s, srcRoot,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
      graft.sinks.LakeTable.deleteMor(s, srcRoot,
        orders.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey")))
      run() // ride the delta span
      graft.sinks.LakeTable.read(s, tgtRoot)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).alias("price"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |       ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000
        |                  ELSE o_totalprice END, 2) AS price,
        |       o_orderpriority
        |FROM orders
        |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |  AND o_orderkey % 10 <> 0
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Metadata compaction (sinks/LakeTable.scala compactMetadata — the
    // Iceberg rewrite_manifests design point): narrow deliveries accrete
    // manifest refs; the compaction copies every live file's metadata
    // verbatim into ONE segment with zero data I/O. Lifecycle: init →
    // two narrow merges (each touches ≤2 of 8 buckets, so the init
    // segment survives partially and the ref list grows) → MoR delete
    // (vectors must survive the compaction) → compactMetadata. The
    // oracle recomputes the end state and pins one-segment-after; any
    // lost or doubled row from the metadata rewrite breaks the hash.
    Query("q_lake_compact_meta", (s, dir) => {
      import s.implicits._
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_cmpmeta"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        root, Seq("o_orderkey"), numBuckets = 8, statsCols = Seq("o_totalprice"))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey").isin(2L, 4L))
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
      graft.sinks.LakeTable.merge(s, root,
        orders.filter(col("o_orderkey").isin(6L, 8L))
          .withColumn("o_totalprice", col("o_totalprice") + 2000))
      graft.sinks.LakeTable.deleteMor(s, root,
        orders.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey")))
      val before = graft.sinks.LakeTable.manifest(s, root).segments.size
      graft.sinks.LakeTable.compactMetadata(s, root)
      val after = graft.sinks.LakeTable.manifest(s, root).segments.size
      graft.sinks.LakeTable.read(s, root)
        .agg(count(lit(1)).alias("n_rows"),
          round(dsum(col("o_totalprice")), 2).alias("sum_price"))
        .withColumn("before_multi", lit(before >= 2))
        .withColumn("after_segs", lit(after))
        .select(col("before_multi"), col("after_segs"), col("n_rows"),
          col("sum_price"))
    },
      """SELECT TRUE AS before_multi, 1 AS after_segs,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(CAST(
        |    CASE WHEN o_orderkey IN (2, 4) THEN o_totalprice + 1000
        |         WHEN o_orderkey IN (6, 8) THEN o_totalprice + 2000
        |         ELSE o_totalprice END AS DECIMAL(18,6)))
        |    AS DOUBLE), 2) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0""".stripMargin, lifecycle = true),

    // Transaction-consistent CDC mirroring of a table PAIR (streaming/
    // LakeCdfSource with two roots + LakeStreaming.mirrorTxnGroup): two
    // tables that commit together via LakeTxn flip visibility with one
    // outcome-file create, and the group stream's vector offset is a
    // CONSISTENT CUT — no batch ever carries one half of a transaction
    // without the other, so the replica pair is never torn. Lifecycle: init fact+dim
    // sources and empty targets → bootstrap mirror → txn1 commits a fact
    // price bump + dim segment move together → txn2 stages POISON into
    // both and aborts → a crashed in-flight txn is left on the fact →
    // mirror again. The oracle recomputes the fact⋈dim join from init +
    // txn1 alone, READ FROM THE MIRRORS: a leaked poison row, a missing
    // half of txn1, or a torn batch all break the hash.
    Query("q_lake_txn_mirror", (s, dir) => {
      val base = System.getProperty("java.io.tmpdir")
      val fSrc = base + "/graft_lake_txnmir_fsrc"
      val dSrc = base + "/graft_lake_txnmir_dsrc"
      val fTgt = base + "/graft_lake_txnmir_ftgt"
      val dTgt = base + "/graft_lake_txnmir_dtgt"
      val cp = base + "/graft_lake_txnmir_cp"
      val fs = new org.apache.hadoop.fs.Path(fSrc)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(fSrc, dSrc, fTgt, dTgt, cp).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val customer = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        fSrc, Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(customer, dSrc, Seq("c_custkey"),
        numBuckets = 4)
      graft.sinks.LakeTable.init(orders.filter(lit(false)), fTgt,
        Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(customer.filter(lit(false)), dTgt,
        Seq("c_custkey"), numBuckets = 4)
      def run(): Unit = {
        val q = graft.streaming.LakeStreaming.mirrorTxnGroup(s,
          Seq((fSrc, fTgt), (dSrc, dTgt)))
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run() // bootstrap both snapshots at one consistent cut
      graft.sinks.LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("TXN")))
      }
      try graft.sinks.LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(-1e9)))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_mktsegment", lit("POISON")))
        sys.error("injected failure before commit")
      } catch { case _: RuntimeException => () }
      graft.sinks.LakeTable.mergeTagged(s, fSrc,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", lit(-1e9)), None,
        Some(fSrc + "/_txn/ghost-never-committed.json"))
      run() // ride the delta spans through the consistent cut
      val f = graft.sinks.LakeTable.read(s, fTgt)
      val d = graft.sinks.LakeTable.read(s, dTgt)
      f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
        .groupBy(col("c_mktsegment").alias("seg"))
        .agg(count(lit(1)).alias("n"),
          round(dsum(col("o_totalprice")), 2).alias("sum_price"))
        .orderBy("seg")
    },
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
        |d AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'TXN'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT seg, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |             AS DOUBLE), 2) AS sum_price
        |FROM f JOIN d ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin, lifecycle = true),

    // N-table transaction-consistent mirroring (streaming/LakeCdfSource
    // with three roots + LakeStreaming.mirrorTxnGroup): a LakeTxn
    // spanning fact + dim + bridge (three tables) commits atomically, and
    // the group stream's vector offset is a consistent cut across all
    // three, so no mirror ever serves a partial transaction. Lifecycle
    // mirrors the pair query's with a THIRD member: txn1 commits a fact
    // price bump + dim segment move + nation rename together; txn2
    // stages POISON into all three and aborts; a crashed in-flight txn is
    // left on the DIM. The oracle recomputes the 3-way join from init +
    // txn1 alone, READ FROM THE MIRRORS: a leaked poison row, a missing
    // third of txn1, or a torn batch on any member all break the hash.
    Query("q_lake_txn_mirror3", (s, dir) => {
      val base = System.getProperty("java.io.tmpdir")
      val fSrc = base + "/graft_lake_txnmir3_fsrc"
      val dSrc = base + "/graft_lake_txnmir3_dsrc"
      val nSrc = base + "/graft_lake_txnmir3_nsrc"
      val fTgt = base + "/graft_lake_txnmir3_ftgt"
      val dTgt = base + "/graft_lake_txnmir3_dtgt"
      val nTgt = base + "/graft_lake_txnmir3_ntgt"
      val cp = base + "/graft_lake_txnmir3_cp"
      val fs = new org.apache.hadoop.fs.Path(fSrc)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(fSrc, dSrc, nSrc, fTgt, dTgt, nTgt, cp).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val customer = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      graft.sinks.LakeTable.init(orders.filter(col("o_orderkey") % 2 === 0),
        fSrc, Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(customer, dSrc, Seq("c_custkey"),
        numBuckets = 4)
      graft.sinks.LakeTable.init(nation, nSrc, Seq("n_nationkey"),
        numBuckets = 2)
      graft.sinks.LakeTable.init(orders.filter(lit(false)), fTgt,
        Seq("o_orderkey"), numBuckets = 8)
      graft.sinks.LakeTable.init(customer.filter(lit(false)), dTgt,
        Seq("c_custkey"), numBuckets = 4)
      graft.sinks.LakeTable.init(nation.filter(lit(false)), nTgt,
        Seq("n_nationkey"), numBuckets = 2)
      def run(): Unit = {
        val q = graft.streaming.LakeStreaming.mirrorTxnGroup(s,
          Seq((fSrc, fTgt), (dSrc, dTgt), (nSrc, nTgt)))
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run() // bootstrap all three snapshots at one consistent cut
      graft.sinks.LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("TXN")))
        txn.merge(nSrc, nation.filter(col("n_nationkey") % 2 === 0)
          .withColumn("n_name", lit("TXN")))
      }
      try graft.sinks.LakeTxn.atomically(s, fSrc) { txn =>
        txn.merge(fSrc, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(-1e9)))
        txn.merge(dSrc, customer.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_mktsegment", lit("POISON")))
        txn.merge(nSrc, nation.filter(col("n_nationkey") % 3 === 0)
          .withColumn("n_name", lit("POISON")))
        sys.error("injected failure before commit")
      } catch { case _: RuntimeException => () }
      graft.sinks.LakeTable.mergeTagged(s, dSrc,
        customer.filter(col("c_custkey") % 13 === 0)
          .withColumn("c_mktsegment", lit("POISON")), None,
        Some(dSrc + "/_txn/ghost-never-committed.json"))
      run() // ride the delta spans through the consistent cut
      val f = graft.sinks.LakeTable.read(s, fTgt)
      val d = graft.sinks.LakeTable.read(s, dTgt)
      val n = graft.sinks.LakeTable.read(s, nTgt)
      f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
        .join(broadcast(n), d("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_mktsegment").alias("seg"),
          col("n_name").alias("nname"))
        .agg(count(lit(1)).alias("cnt"),
          round(dsum(col("o_totalprice")), 2).alias("sum_price"))
        .orderBy("seg", "nname")
    },
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0),
        |d AS (
        |  SELECT c_custkey, c_nationkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'TXN'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer),
        |nat AS (
        |  SELECT n_nationkey,
        |         CASE WHEN n_nationkey % 2 = 0 THEN 'TXN'
        |              ELSE n_name END AS nname
        |  FROM nation)
        |SELECT seg, nname, COUNT(*) AS cnt,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |             AS DOUBLE), 2) AS sum_price
        |FROM f JOIN d ON o_custkey = c_custkey
        |       JOIN nat ON c_nationkey = n_nationkey
        |GROUP BY seg, nname ORDER BY seg, nname""".stripMargin, lifecycle = true),

    // Plan-time sidecar pruning (sinks/LakeTable.scala SidecarFileIndex /
    // scan): the zone maps answer the PLANNER's pushed dataFilters instead
    // of a bespoke entry point — scan() returns a FileIndex-backed
    // relation, so this query's ordinary DataFrame date-range filter
    // prunes files inside Catalyst, with the oracle checking no row was
    // lost to a wrong prune.
    Query("q_lake_scan_pushdown", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_scanpd"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderdate").cast("date").alias("o_odate"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_odate"),
        statsCols = Seq("o_odate"), bloomCols = Seq("o_custkey"),
        maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("o_odate").between(lit("1996-01-01").cast("date"),
          lit("1996-12-31").cast("date")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"),
          round(sum(col("o_totalprice")), 2).alias("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin, lifecycle = true),

    // The SQL front door over the same index: a temp view of scan() makes
    // the lake table a first-class SQL table — the WHERE's IN list reaches
    // SidecarFileIndex.listFiles as a Catalyst dataFilter and probes the
    // per-file BLOOMS on o_custkey (non-key, non-clustered, hash-scattered
    // — zones can't help), with zero graft-specific syntax in the query.
    Query("q_lake_scan_sql", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_scansql"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderdate").cast("date").alias("o_odate"),
        col("o_totalprice"), col("o_orderpriority"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_odate"),
        statsCols = Seq("o_odate"), bloomCols = Seq("o_custkey"),
        maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.scan(s, root)
        .createOrReplaceTempView("lake_orders")
      s.sql("""SELECT o_orderkey, date_format(o_odate, 'yyyy-MM-dd') AS d,
        |  ROUND(o_totalprice, 2) AS price
        |FROM lake_orders
        |WHERE o_custkey IN (37, 74, 113)
        |ORDER BY o_orderkey""".stripMargin)
    },
      """SELECT o_orderkey,
        |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
        |       ROUND(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey IN (37, 74, 113)
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Bucket-pruned point lookup (sinks/LakeTable.scala lookup): the probe
    // keys' hash buckets are the ONLY files opened — a point query against
    // a 100 TB table reads ≤ |probes| buckets. Value check: the lookup
    // returns exactly the probed rows.
    Query("q_lake_pointlookup", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_lookup"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 32)
      graft.sinks.LakeTable.lookup(s, root,
        orders.filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey")))
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Zone-map range scan (sinks/LakeTable.scala scan/SidecarFileIndex):
    // the table is written clustered on o_orderdate (sortCols +
    // maxRecordsPerFile roll each bucket into date-ranged files; statsCols
    // records per-file min/max in the segment sidecar), so the one-year
    // 1996 range filter prunes most files at plan time, before any read.
    // The filter itself is exact; the oracle is the plain range filter.
    Query("q_lake_zonemap", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_zonemap"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_orderdate"),
        statsCols = Seq("o_orderdate"), maxRecordsPerFile = 4096L)
      val d = orders.schema("o_orderdate").dataType
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("o_orderdate").between(
          lit("1996-01-01 00:00:00").cast(d), lit("1996-12-31 23:59:59").cast(d)))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").alias("d"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |       ROUND(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Bloom-pruned equality scan (sinks/LakeTable.scala bloomCols/scan):
    // the table is keyed on o_orderkey but probed on o_custkey — a non-key,
    // non-clustered column no zone map helps with (custkeys scatter across
    // every file). Each rolled file carries an 8 KB-scale bloom in its
    // segment sidecar; the scan's equality filter tests blooms DRIVER-side
    // and opens only the files that might contain the value — at 100 TB,
    // a handful of files instead of the table. The filter itself is exact
    // (bloom = superset filter), so the oracle is the plain equality scan.
    Query("q_lake_bloom", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_bloom"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, maxRecordsPerFile = 4096L,
        bloomCols = Seq("o_custkey"))
      graft.sinks.LakeTable.scan(s, root).filter(col("o_custkey") === 37)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 37
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Multi-value pruned equality scan (sinks/LakeTable.scala scan): an
    // IN filter keeps the union of files that might hold ANY of the probe
    // values, decided driver-side from the sidecars (zone maps on the
    // clustered o_orderpriority here; a bloom column would veto too). The
    // min/max materialized view's retraction recompute reads its base the
    // same way, so this is that read path as its own oracle-checked
    // contract.
    Query("q_lake_eq_any", (s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_eqany"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sinks.LakeTable.init(orders, root, Seq("o_orderkey"),
        numBuckets = 8, sortCols = Seq("o_orderpriority"),
        statsCols = Seq("o_orderpriority"), maxRecordsPerFile = 4096L)
      graft.sinks.LakeTable.scan(s, root)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |ORDER BY o_orderkey""".stripMargin, lifecycle = true),

    // Type-2 SCD history (sinks/Merge.scala scd2): each order's return-flag
    // timeline (observations = lineitems ordered by shipdate, linenumber)
    // becomes versioned history rows with butt-joined validity windows —
    // change points open versions, re-observed values collapse. The oracle
    // replays the same chain with lag/lead windows, so the value check
    // covers the window ordering, the change-point filter, and the
    // valid_to = next-valid_from invariant row for row.
    Query("q_scd2", (s, dir) => {
      // (orderkey, shipdate, linenumber) is NOT unique in the testdata (84
      // collisions at sf0.1, 53 with differing flags) — fold the flag into
      // the tiebreak so the chain is a total order in both engines
      val obs = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_returnflag").alias("flag"), col("l_shipdate").alias("ts"),
        (col("l_linenumber") * 8 +
          when(col("l_returnflag") === "A", 0)
            .when(col("l_returnflag") === "N", 1).otherwise(2)).alias("tie"))
      val emptyHist = obs.limit(0).select(col("l_orderkey"), col("flag"),
        col("ts").alias("valid_from"), col("ts").alias("valid_to"),
        lit(true).alias("is_current"))
      graft.sinks.Merge.scd2(emptyHist, obs, Seq("l_orderkey"), Seq("flag"),
          "ts", tieCol = Some("tie"))
        .select(col("l_orderkey"), col("flag"),
          date_format(col("valid_from"), "yyyy-MM-dd").alias("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").alias("valid_to"),
          col("is_current"))
        // is_current then valid_to in the sort: same-instant same-flag
        // closed twins are identical rows, so this order is total
        .orderBy(col("l_orderkey"), col("valid_from"), col("flag"),
          col("is_current"), col("valid_to"))
    },
      """WITH obs AS (
        |  SELECT l_orderkey, l_returnflag AS flag, l_shipdate AS ts,
        |         l_linenumber * 8 + CASE l_returnflag WHEN 'A' THEN 0
        |           WHEN 'N' THEN 1 ELSE 2 END AS tie
        |  FROM lineitem),
        |cp AS (
        |  SELECT l_orderkey, flag, ts, tie,
        |         lag(flag) OVER (PARTITION BY l_orderkey
        |                         ORDER BY ts, tie) AS prev
        |  FROM obs QUALIFY prev IS NULL OR prev <> flag),
        |v AS (
        |  SELECT l_orderkey, flag, ts AS vf,
        |         lead(ts) OVER (PARTITION BY l_orderkey
        |                        ORDER BY ts, tie) AS vt
        |  FROM cp)
        |SELECT l_orderkey, flag,
        |       strftime(vf, '%Y-%m-%d') AS valid_from,
        |       strftime(vt, '%Y-%m-%d') AS valid_to,
        |       vt IS NULL AS is_current
        |FROM v
        |ORDER BY l_orderkey, valid_from, flag, is_current, valid_to""".stripMargin),

    // ---- J3: broadcast star join (dim ⋈ fact) --------------------------
    Query("q_join_star", (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).alias("n_orders"), dsum(col("o_totalprice")).alias("revenue"))
        .orderBy("r_name"),
      """SELECT r_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // ---- J4: join planning surface -------------------------------------
    Query("q_join_inner_agg", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("n_lines"), sum(col("l_quantity")).alias("sum_qty"),
          dsum(col("l_extendedprice")).alias("sum_price"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, COUNT(*) AS n_lines, SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    Query("q_join_semi", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_orderpriority FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin),

    Query("q_join_theta", (s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("s_acctbal") > col("n_nationkey") * 100.0)
        .select(col("s_suppkey"), col("n_name"))
        .orderBy("s_suppkey"),
      """SELECT s_suppkey, n_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND s_acctbal > n_nationkey * 100.0
        |ORDER BY s_suppkey""".stripMargin),

    Query("q_join_full_outer", (s, dir) => {
      // customers with no orders and order-years with no BUILDING customers
      val bld = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val agg = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).alias("n_orders"))
      bld.join(agg, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).alias("custkey"),
          coalesce(col("c_name"), lit("(no-building-cust)")).alias("name"),
          coalesce(col("n_orders"), lit(0L)).alias("n_orders"))
        .orderBy("custkey")
    },
      """SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        |       COALESCE(c_name, '(no-building-cust)') AS name,
        |       COALESCE(n_orders, 0) AS n_orders
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin),

    Query("q_window_lead_ntile", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          col("next_bal"), col("quartile"))
        .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))
    },
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |       LEAD(c_acctbal, 1) OVER w AS next_bal,
        |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin),

    Query("q_join_range", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey"),
          (col("s_acctbal") - 50.0).alias("lo"), (col("s_acctbal") + 50.0).alias("hi"))
      RangeJoin.pointInInterval(cust, supp, "c_acctbal", "lo", "hi", binWidth = 100.0)
        .select(col("c_custkey"), col("s_suppkey"))
        .orderBy("c_custkey", "s_suppkey")
    },
      """SELECT c_custkey, s_suppkey
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal >= s.s_acctbal - 50 AND c.c_acctbal <= s.s_acctbal + 50
        |ORDER BY c_custkey, s_suppkey""".stripMargin),

    // Interval-overlap join (operators/RangeJoin.scala overlapJoin): two
    // sparse order-key interval sets ([k, k+50] on 97-multiples vs
    // [k, k+70] on 89-multiples) paired where they intersect — binned
    // equi-join, one emission per pair via the first-shared-bin equality
    // (no distinct), exact predicate inside bins. Oracle is the plain
    // theta join, so the pair set is value-checked.
    Query("q_join_overlap", (s, dir) => {
      val orders = t(s, dir, "orders")
      val l = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").alias("l_id"),
          col("o_orderkey").cast("double").alias("l_lo"),
          (col("o_orderkey") + 50).cast("double").alias("l_hi"))
      val r = orders.filter(col("o_orderkey") % 89 === 0)
        .select(col("o_orderkey").alias("r_id"),
          col("o_orderkey").cast("double").alias("r_lo"),
          (col("o_orderkey") + 70).cast("double").alias("r_hi"))
      graft.operators.RangeJoin.overlapJoin(l, r,
          "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64.0)
        .select(col("l_id"), col("r_id"))
        .orderBy("l_id", "r_id")
    },
      """SELECT l.o_orderkey AS l_id, r.o_orderkey AS r_id
        |FROM orders l JOIN orders r
        |  ON l.o_orderkey % 97 = 0 AND r.o_orderkey % 89 = 0
        | AND l.o_orderkey <= r.o_orderkey + 70
        | AND r.o_orderkey <= l.o_orderkey + 50
        |ORDER BY l_id, r_id""".stripMargin),

    Query("q_join_asof", (s, dir) => {
      // As-of join WITHOUT a join: union clicks+purchases into one event
      // stream and carry the running last click per user. The former
      // purchases⋈clicks-on-user_id plan materialized O(P_u·C_u) pairs per
      // user before its rn=1 filter — quadratic on power users. This plan
      // is one window sort per user partition: clicks order before
      // purchases at equal ts (so c_ts <= p_ts includes equality) and
      // ascending event_id makes `last` resolve ties to the max click_id,
      // matching the old (c_ts DESC, click_id DESC) tie-break exactly.
      val ev = events(s, dir)
      val stream = ev.filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0)).alias("kind"),
          col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("kind").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      stream
        .withColumn("last_click",
          last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("last_click").isNotNull)
        .select(col("event_id").alias("purchase_id"),
          col("last_click").alias("click_id"))
        .orderBy("purchase_id")
    },
      """WITH pc AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |         ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, click_id FROM pc WHERE rn = 1 ORDER BY purchase_id""".stripMargin),

    // ---- O1/O2: top-k (TakeOrderedAndProject) --------------------------
    Query("q_topk", (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // ---- U1: set ops ---------------------------------------------------
    Query("q_union", (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"), lit("big").alias("bucket"))
        .unionByName(
          o.filter(col("o_totalprice") < 2000.0)
            .select(col("o_orderkey"), lit("small").alias("bucket")))
        .orderBy("o_orderkey", "bucket")
    },
      """SELECT o_orderkey, 'big' AS bucket FROM orders WHERE o_totalprice > 450000.0
        |UNION ALL
        |SELECT o_orderkey, 'small' AS bucket FROM orders WHERE o_totalprice < 2000.0
        |ORDER BY o_orderkey, bucket""".stripMargin),

    Query("q_intersect", (s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").alias("custkey"))
        .intersect(t(s, dir, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").alias("custkey")))
        .orderBy("custkey"),
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin),

    Query("q_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").alias("custkey"))
        .except(t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").alias("custkey")))
        .orderBy("custkey"),
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
        |ORDER BY custkey""".stripMargin),

    // ---- W1: window functions ------------------------------------------
    Query("q_window_rank", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("c_mktsegment"), col("rn"), col("rnk"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rn")
    },
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         CAST(RANK() OVER w AS BIGINT) AS rnk,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC))
        |SELECT c_mktsegment, rn, rnk, c_custkey, c_acctbal FROM ranked
        |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin),

    Query("q_window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val frame = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      events(s, dir)
        .filter(col("user_id") < 5)
        .withColumn("running_sum",
          sum(col("value").cast("decimal(18,6)")).over(frame).cast("double"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("value"), col("running_sum"),
          col("prev_value"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, value,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |       LAG(value, 1) OVER (
        |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value
        |FROM events WHERE user_id < 5 ORDER BY user_id, event_id""".stripMargin),

    Query("q_window_movavg", (s, dir) => {
      val frame = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, 0)
      events(s, dir)
        .filter(col("user_id") < 5)
        .withColumn("mov_avg",
          sum(col("value").cast("decimal(18,6)")).over(frame).cast("double") /
            count(lit(1)).over(frame))
        .select(col("user_id"), col("event_id"), round(col("mov_avg"), 6).alias("mov_avg"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |             / COUNT(*) OVER w, 6) AS mov_avg
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    // ---- streaming twin: tumbling-window agg (batch parity query) ------
    Query("q_events_hourly", (s, dir) =>
      events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .alias("window_start"), col("event_type"))
        .agg(count(lit(1)).alias("n_events"), dsum(col("value")).alias("sum_value"))
        .orderBy("window_start", "event_type"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Time-series gap fill + forward fill: a sparse event stream (1/97 of
    // users) densified to a regular hourly grid per event type. The dense
    // axis is sequence(min_hour, max_hour) × distinct types — metadata-
    // sized however large the fact side grows (hours × |types|), so the
    // only table-scale work is the hourly groupBy and one window per
    // type. Missing hours fill n=0; the last observed hourly max carries
    // forward via last(ignoreNulls) over an unbounded-preceding row
    // frame (hours before a type's first observation stay NULL — both
    // engines agree). Metric is MAX (order-independent), so the fill
    // values hash exactly cross-engine.
    Query("q_gapfill", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val src = events(s, dir)
        .filter(col("value") > 18 && col("user_id") % 97 === 0)
      val hours = src
        .agg(date_trunc("hour", min(col("ts"))).alias("lo"),
          date_trunc("hour", max(col("ts"))).alias("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).alias("h"))
      val types = src.select(col("event_type")).distinct()
      val agg = src
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).alias("h"))
        .agg(count(lit(1)).alias("n"), round(max(col("value")), 2).alias("mx"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hours.crossJoin(broadcast(types))
        .join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm").alias("hh"),
          coalesce(col("n"), lit(0L)).alias("n"),
          last(col("mx"), ignoreNulls = true).over(w).alias("ffill_max"))
        .orderBy("event_type", "hh")
    },
      """WITH src AS (SELECT * FROM events
        |             WHERE value > 18 AND user_id % 97 = 0),
        |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM src),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |          FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM src),
        |agg AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |               COUNT(*) AS n, ROUND(MAX(value), 2) AS mx
        |        FROM src GROUP BY 1, 2)
        |SELECT t.event_type, strftime(hr.h, '%Y-%m-%d %H:%M') AS hh,
        |       CAST(COALESCE(a.n, 0) AS BIGINT) AS n,
        |       last_value(a.mx IGNORE NULLS) OVER (
        |         PARTITION BY t.event_type ORDER BY hr.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_max
        |FROM hours hr CROSS JOIN types t
        |LEFT JOIN agg a ON a.event_type = t.event_type AND a.h = hr.h
        |ORDER BY t.event_type, hh""".stripMargin),

    // OHLC/VWAP candle bars (operators/Resample.scala): the market-data
    // rollup as ONE hash aggregation — open/close via min_by/max_by over
    // a (ts, id) struct (timestamp ties break on the id, deterministic
    // under replay), decimal-summed Σp·v for the vwap. The oracle picks
    // open/close through ROW_NUMBER windows — same rows, different plan —
    // so the hash match proves the aggregation-buffer formulation
    // equals the sort-based one.
    Query("q_ohlc_bars", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("ts"),
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").alias("vol"))
      graft.operators.Resample.ohlcBars(ev, "event_type", "ts", "event_id",
          "value", "vol", "1 hour")
        .select(col("event_type"),
          date_format(col("bar_start"), "yyyy-MM-dd HH:mm:ss").alias("bar"),
          col("open"), col("high"), col("low"), col("close"),
          col("n_trades"), col("volume"), col("vwap"))
        .orderBy("event_type", "bar")
    },
      """WITH e AS (
        |  SELECT event_type, ts, event_id, value AS p,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
        |  FROM events
        |  -- the operator's contract filters on the parsed VOLUME, not on
        |  -- props presence: a row whose props lacks a numeric $.k cannot
        |  -- contribute to a candle coherently and is excluded everywhere
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
        |w AS (SELECT *, date_trunc('hour', ts) AS b,
        |        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |          ORDER BY ts, event_id) AS rn_a,
        |        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |          ORDER BY ts DESC, event_id DESC) AS rn_d
        |      FROM e)
        |SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bar,
        |  MAX(CASE WHEN rn_a = 1 THEN p END) AS open,
        |  MAX(p) AS high, MIN(p) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN p END) AS close,
        |  COUNT(*) AS n_trades, CAST(SUM(v) AS BIGINT) AS volume,
        |  -- no ROUND: num and den are exact decimals cast to double, so
        |  -- the IEEE division is bit-identical across engines (a ROUND
        |  -- would reintroduce engine-specific decimal-tie behavior)
        |  CASE WHEN SUM(v) = 0 THEN NULL
        |       ELSE CAST(SUM(CAST(p * v AS DECIMAL(28,8))) AS DOUBLE) /
        |            CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)
        |  END AS vwap
        |FROM w GROUP BY 1, 2 ORDER BY event_type, bar""".stripMargin),

    // Rolling 3-hour distinct users from MERGED hourly HLL sketches — the
    // events are scanned ONCE (hourly sketch pass); every window estimate
    // comes from merging persisted buffers. Contract: exact rolling count
    // (value-checked) + estimate-within-bound boolean.
    Query("q_rolling_distinct", (s, dir) => {
      val sk = udaf(new Aggregators.HyperLogLogSketch(12))
      val un = udaf(new Aggregators.HllUnion(12))
      val ev = events(s, dir)
        .select(date_trunc("hour", col("ts")).alias("h"),
          col("user_id").cast("string").alias("u"))
      val hourly = ev.groupBy(col("h")).agg(sk(col("u")).alias("sketch"))
      val est = hourly
        .select(col("h"), explode(sequence(lit(0), lit(2))).alias("k"), col("sketch"))
        .select((col("h") + expr("make_interval(0, 0, 0, 0, k)")).alias("th"),
          col("sketch"))
        .groupBy(col("th")).agg(un(col("sketch")).alias("__est"))
      val exact = ev.distinct()
        .select(col("h"), explode(sequence(lit(0), lit(2))).alias("k"), col("u"))
        .select((col("h") + expr("make_interval(0, 0, 0, 0, k)")).alias("th"), col("u"))
        .groupBy(col("th")).agg(countDistinct(col("u")).alias("n_exact"))
      hourly.select(col("h").alias("th")) // only hours that exist in the data
        .join(est, Seq("th")).join(exact, Seq("th"))
        .select(date_format(col("th"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
          col("n_exact"),
          (abs(col("__est") - col("n_exact")) / col("n_exact") < 0.05)
            .alias("within_bound"))
        .orderBy("hour")
    },
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, user_id AS u FROM events),
        |hours AS (SELECT DISTINCT h FROM e)
        |SELECT strftime(hours.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(count(DISTINCT e.u) AS BIGINT) AS n_exact,
        |  CAST(1 AS BOOLEAN) AS within_bound
        |FROM hours JOIN e ON e.h BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
        |GROUP BY hours.h ORDER BY hour""".stripMargin),

    // Rolling 3-hour value quantiles from MERGED hourly DDSketch buffers
    // (quantile counterpart of q_rolling_distinct): exact window
    // percentiles value-checked; sketch estimates bounded by ~alpha.
    Query("q_rolling_quantiles", (s, dir) => {
      val sk = udaf(new Aggregators.DdSketchBuffer(0.01))
      val un = org.apache.spark.sql.functions.udaf(
        new Aggregators.DdUnion(0.01, Seq(0.5, 0.95)),
        org.apache.spark.sql.Encoders.product[Aggregators.DdBuffer])
      val ev = events(s, dir)
        .select(date_trunc("hour", col("ts")).alias("h"), col("value"))
      val hourly = ev.groupBy(col("h")).agg(sk(col("value")).alias("sketch"))
      val est = hourly
        .select(col("h"), explode(sequence(lit(0), lit(2))).alias("k"), col("sketch"))
        .select((col("h") + expr("make_interval(0, 0, 0, 0, k)")).alias("th"),
          col("sketch"))
        // the product input encoder flattens DdBuffer to its five fields
        .groupBy(col("th")).agg(un(col("sketch.minIdx"), col("sketch.counts"),
          col("sketch.negMinIdx"), col("sketch.negCounts"), col("sketch.zeros"))
          .alias("__q"))
      // the exact arm uses DISCRETE (nearest-rank) quantiles — the value
      // DDSketch's alpha-guarantee is stated against; interpolated
      // percentiles diverge arbitrarily from ANY data value on small
      // heavy-tailed windows. collect_list here is per-window and
      // verification-only (the sketches are the product).
      val exact = ev
        .select(col("h"), explode(sequence(lit(0), lit(2))).alias("k"), col("value"))
        .select((col("h") + expr("make_interval(0, 0, 0, 0, k)")).alias("th"), col("value"))
        .groupBy(col("th")).agg(
          sort_array(collect_list(col("value"))).alias("__sorted"),
          count(lit(1)).alias("__n"))
        .select(col("th"),
          round(element_at(col("__sorted"),
            ceil(lit(0.5) * col("__n")).cast("int")), 6).alias("p50_exact"),
          round(element_at(col("__sorted"),
            ceil(lit(0.95) * col("__n")).cast("int")), 6).alias("p95_exact"))
      hourly.select(col("h").alias("th"))
        .join(est, Seq("th")).join(exact, Seq("th"))
        .select(date_format(col("th"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
          col("p50_exact"), col("p95_exact"),
          (abs(element_at(col("__q"), 1) / col("p50_exact") - 1) < 0.011 &&
            abs(element_at(col("__q"), 2) / col("p95_exact") - 1) < 0.011)
            .alias("within_bound"))
        .orderBy("hour")
    },
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, value FROM events),
        |hours AS (SELECT DISTINCT h FROM e),
        |w AS (SELECT hours.h, list_sort(list(e.value)) AS l, count(*) AS n
        |  FROM hours JOIN e ON e.h BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
        |  GROUP BY hours.h)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  round(l[CAST(ceil(0.5 * n) AS INT)], 6) AS p50_exact,
        |  round(l[CAST(ceil(0.95 * n) AS INT)], 6) AS p95_exact,
        |  CAST(1 AS BOOLEAN) AS within_bound
        |FROM w ORDER BY hour""".stripMargin),

    // Per-user inter-arrival quantiles (micros both sides; tie-safe: the
    // gap MULTISET is invariant under tied-timestamp orderings).
    Query("q_interarrival", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).alias("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        // Exact-comparable quantiles: interpolated percentiles of integer
        // micros are exact multiples of 1/20 µs (linear interp at fraction
        // m/20), so ×20 lands on an INTEGER up to ~1e-2 of double noise —
        // round() there is engine-exact, never at a tie boundary, and /20.0
        // reproduces bit-identical doubles on both engines. (Rounding the
        // seconds value directly flipped a 4th decimal between Spark's
        // decimal HALF_UP and DuckDB's pure-double round at sf0.1.)
        .agg(count(lit(1)).alias("n_gaps"),
          (round(percentile(col("gap"), lit(0.5)) * 20) / 20.0).alias("p50_us"),
          (round(percentile(col("gap"), lit(0.95)) * 20) / 20.0).alias("p95_us"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) * 20) / 20.0 AS p50_us,
        |  round(quantile_cont(gap, 0.95) * 20) / 20.0 AS p95_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Hour-over-hour retention: users active in hour h who return in h+1.
    Query("q_retention", (s, dir) => {
      val uh = events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).alias("h"))
        .distinct()
      uh.alias("a")
        .join(uh.alias("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.h") === col("a.h") + expr("interval 1 hour"), "left")
        .groupBy(date_format(col("a.h"), "yyyy-MM-dd HH:mm:ss").alias("hour"))
        .agg(count(lit(1)).alias("n_active"),
          sum(when(col("b.user_id").isNotNull, 1L).otherwise(0L)).alias("n_retained"))
        .orderBy("hour")
    },
      """WITH uh AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events)
        |SELECT strftime(a.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_retained
        |FROM uh a LEFT JOIN uh b
        |  ON a.user_id = b.user_id AND b.h = a.h + INTERVAL 1 HOUR
        |GROUP BY a.h ORDER BY hour""".stripMargin),

    // ---- V1: schema-contract violation counting ------------------------
    Query("q_contract_check", (s, dir) =>
      t(s, dir, "documents").agg(
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).alias("null_doc_id"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).alias("null_text"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).alias("null_lang"),
        sum(when(col("n_chars").isNull || col("n_chars") < 0, 1L).otherwise(0L))
          .alias("bad_n_chars")),
      """SELECT CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_doc_id,
        |       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
        |       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
        |       CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_n_chars
        |FROM documents""".stripMargin),

    // ---- V2: expectations suite as one-pass aggregation ----------------
    Query("q_expectations", (s, dir) =>
      Suite("orders_suite", Seq(
        NotNull("o_orderkey"),
        NotNull("o_custkey"),
        GreaterThan("o_totalprice", 0d),
        Between("o_totalprice", 0d, 1e9)
      )).violationsDf(t(s, dir, "orders")),
      """SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |       CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |       CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice >= 0 AND o_totalprice <= 1e9, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |FROM orders""".stripMargin),

    // ---- V3: cross-store row-count reconciliation ----------------------
    Query("q_reconcile_counts", (s, dir) => {
      val orderCount = t(s, dir, "orders").agg(count(lit(1)).alias("orders_total"))
      val lineOrders = t(s, dir, "lineitem")
        .agg(countDistinct(col("l_orderkey")).alias("orders_with_lines"))
      orderCount.crossJoin(lineOrders)
        .withColumn("reconciled", col("orders_total") >= col("orders_with_lines"))
    },
      """SELECT (SELECT COUNT(*) FROM orders) AS orders_total,
        |       (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS orders_with_lines,
        |       (SELECT COUNT(*) FROM orders) >=
        |         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS reconciled""".stripMargin),

    // ---- V4: sanity gates over a computed gold table -------------------
    Query("q_sanity_gates", (s, dir) => {
      val gold = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(davg(col("o_totalprice")).alias("avg_p"),
          min(col("o_totalprice")).alias("min_p"),
          max(col("o_totalprice")).alias("max_p"))
      gold.agg(count(lit(1)).alias("n_groups"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).alias("null_ids"),
        sum(when(col("avg_p") <= 0 || col("min_p") < 0 || col("max_p") < col("min_p"), 1L)
          .otherwise(0L)).alias("bad_metrics"))
    },
      """WITH gold AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_p,
        |         MIN(o_totalprice) AS min_p, MAX(o_totalprice) AS max_p
        |  FROM orders GROUP BY o_custkey)
        |SELECT COUNT(*) AS n_groups,
        |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ids,
        |       CAST(SUM(CASE WHEN avg_p <= 0 OR min_p < 0 OR max_p < min_p THEN 1 ELSE 0 END) AS BIGINT) AS bad_metrics
        |FROM gold""".stripMargin),

    // ---- V5: freshest-day quality check --------------------------------
    Query("q_quality_latest", (s, dir) => {
      val ev     = events(s, dir)
      val maxDay = ev.agg(max(date_trunc("day", col("ts"))).alias("max_day"))
      ev.crossJoin(broadcast(maxDay))
        .filter(date_trunc("day", col("ts")) === col("max_day"))
        .agg(count(lit(1)).alias("n_rows"),
          sum(when(col("value").isNull || col("value") <= 0, 1L).otherwise(0L))
            .alias("bad_values"))
    },
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_values
        |FROM events
        |WHERE date_trunc('day', ts) = (SELECT MAX(date_trunc('day', ts)) FROM events)""".stripMargin),

    // ---- V6: freshness gate (gold partition present on the lake) -------
    // Plants a real partition via the atomic LakeSink publish, then probes
    // the gate against the planted path, a missing sibling, and the sidecar
    // — reference `check_for_key` semantics as oracle-checkable booleans.
    Query("q_freshness_gate", (s, dir) => {
      import s.implicits._
      val root = System.getProperty("java.io.tmpdir") + "/graft_freshness_gate"
      val dt   = "2024-01-15"
      val gold = t(s, dir, "region").limit(3)
      graft.sinks.LakeSink.publishPartition(s, gold, root, "gold_daily", dt,
        schemaVersion = "v1", sourcePath = "verify")
      def fresh(p: String): Boolean =
        try { graft.ops.CoinOps.assertFreshness(s, p); true }
        catch { case _: graft.expectations.QualityGateFailure => false }
      Seq((
        fresh(s"$root/gold_daily/dt=$dt"),
        !fresh(s"$root/gold_daily/dt=2099-01-01"),
        graft.sinks.LakeSink.readSidecar(s, s"$root/gold_daily/dt=$dt").isDefined
      )).toDF("fresh_present_ok", "missing_detected", "sidecar_present")
    },
      """SELECT CAST(1 AS BOOLEAN) AS fresh_present_ok,
        |       CAST(1 AS BOOLEAN) AS missing_detected,
        |       CAST(1 AS BOOLEAN) AS sidecar_present""".stripMargin, lifecycle = true),

    // ---- V7: SLA gate (scheduled runs must land before the deadline) ----
    // sla_ok is computed by Spark timestamp arithmetic over literal run
    // times (manual runs skip the gate); gate_agrees asserts the CoinOps
    // gate throws exactly when sla_ok is false.
    Query("q_sla_gate", (s, dir) => {
      import s.implicits._
      val ds       = java.time.LocalDate.of(2024, 1, 15)
      val deadline = "2024-01-16 09:00:00"
      val runs = Seq(
        ("2024-01-16 06:30:00", true),
        ("2024-01-16 08:59:59", true),
        ("2024-01-16 09:00:01", true),
        ("2024-01-16 11:00:00", false)
      ).toDF("finished_at", "scheduled")
      val gateAgrees = runs.collect().forall { r =>
        val now = java.time.LocalDateTime
          .parse(r.getString(0).replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
        val passed =
          try { graft.ops.CoinOps.assertSla(ds, now, r.getBoolean(1)); true }
          catch { case _: graft.expectations.QualityGateFailure => false }
        passed == (!r.getBoolean(1) || !now.isAfter(java.time.Instant.parse(
          deadline.replace(' ', 'T') + "Z")))
      }
      runs.select(col("finished_at"), col("scheduled"),
          (!col("scheduled") ||
            to_timestamp(col("finished_at")) <= to_timestamp(lit(deadline)))
            .alias("sla_ok"),
          lit(gateAgrees).alias("gate_agrees"))
        .orderBy("finished_at")
    },
      """SELECT finished_at, scheduled,
        |       (NOT scheduled OR
        |        strptime(finished_at, '%Y-%m-%d %H:%M:%S') <=
        |        TIMESTAMP '2024-01-16 09:00:00') AS sla_ok,
        |       CAST(1 AS BOOLEAN) AS gate_agrees
        |FROM (VALUES ('2024-01-16 06:30:00', TRUE),
        |             ('2024-01-16 08:59:59', TRUE),
        |             ('2024-01-16 09:00:01', TRUE),
        |             ('2024-01-16 11:00:00', FALSE)) AS t(finished_at, scheduled)
        |ORDER BY finished_at""".stripMargin),

    // ================= north-star: dedup ===============================
    Query("q_dedup_exact", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(countDistinct(col("text")).alias("n_unique"), count(lit(1)).alias("n_docs"))
        .orderBy("source"),
      """SELECT source, COUNT(DISTINCT text) AS n_unique, COUNT(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    Query("q_dedup_fingerprint", (s, dir) =>
      Dedup.exactByContent(t(s, dir, "documents"))
        .agg(count(lit(1)).alias("n_after_dedup")),
      """SELECT COUNT(DISTINCT md5(lower(trim(text)))) AS n_after_dedup FROM documents""".stripMargin),

    // The MinHash kernel itself isn't SQL-expressible, but planted-duplicate
    // RECALL is: every doc_id < 50 gets an exact copy at id+1_000_000, and
    // the pair (d, d+1e6) must be found with jaccard 1 — recall == 1.0 as
    // an oracle-checked row (identical docs share every band bucket).
    Query("q_dedup_minhash", (s, dir) => {
      val docs    = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val pairs = Dedup.minhashLshPairs(docs.unionByName(planted), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, minJaccard = 0.8)
      pairs
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + 1000000L)
        .agg(countDistinct(col("id_a")).alias("n_found"))
        .crossJoin(broadcast(planted.agg(count(lit(1)).alias("n_planted"))))
        .select(col("n_planted"), col("n_found"),
          (col("n_found") === col("n_planted")).alias("recall_ok"))
    },
    // Sketch/LSH kernels (murmur3/FNV/hyperplane/k-means) are not
    // SQL-expressible, but their CONTRACTS are: planted-duplicate recall,
    // determinism, and rank-1 recovery of planted identical vectors.
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM documents WHERE doc_id < 50""".stripMargin),

    // simhash is a deterministic function of content: every distinct text
    // maps to exactly one simhash. n_texts is fully oracle-checked; the
    // determinism invariant is the boolean.
    Query("q_dedup_simhash", (s, dir) =>
      Dedup.withSimhash(t(s, dir, "documents"))
        .groupBy(col("text"))
        .agg(countDistinct(col("simhash")).alias("__n_hashes"))
        .agg(count(lit(1)).alias("n_texts"),
          (max(col("__n_hashes")) === 1).alias("simhash_deterministic")),
      """SELECT COUNT(DISTINCT text) AS n_texts,
        |       CAST(1 AS BOOLEAN) AS simhash_deterministic
        |FROM documents""".stripMargin),

    Query("q_dedup_ngram", (s, dir) => {
      val docs    = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val pairs = Dedup.ngramJaccardPairs(docs.unionByName(planted), "doc_id", "text",
        n = 3, minJaccard = 0.9)
      pairs
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + 1000000L &&
          col("jaccard") === 1.0)
        .agg(countDistinct(col("id_a")).alias("n_found"))
        .crossJoin(broadcast(planted.agg(count(lit(1)).alias("n_planted"))))
        .select(col("n_planted"), col("n_found"),
          (col("n_found") === col("n_planted")).alias("recall_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM documents WHERE doc_id < 50""".stripMargin),

    // Exact-substring dedup (ExactSubstr, Lee et al. 2021): plant one
    // distinctive 16-token passage into docs 0-4; dedup must keep exactly
    // the surviving occurrence (min (doc, pos) → doc 0) and sweep the
    // passage out of docs 1-4, regardless of any natural duplicate grams
    // elsewhere in the corpus.
    Query("q_substring_dedup", (s, dir) => {
      val passage = (0 until 16).map(i => s"zqdup$i").mkString(" ")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") < 5, concat(col("text"), lit(" " + passage)))
          .otherwise(col("text")).alias("text"))
      SubstringDedup.removeDuplicateSpans(planted, "doc_id", "text", gramLen = 8)
        .agg(
          count(lit(1)).alias("n_docs"),
          coalesce(sum(when(col("doc_id") < 5, 1L)), lit(0L)).alias("n_planted"),
          coalesce(min(when(col("doc_id") === 0,
            col("text_deduped").contains(passage))), lit(false))
            .alias("survivor_intact"),
          coalesce(min(when(col("doc_id").between(1, 4),
            !col("text_deduped").contains("zqdup"))), lit(false))
            .alias("nonsurvivors_cleaned"))
    },
      """SELECT COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN doc_id < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        |       CAST(1 AS BOOLEAN) AS survivor_intact,
        |       CAST(1 AS BOOLEAN) AS nonsurvivors_cleaned
        |FROM documents""".stripMargin),

    Query("q_dedup_embedding", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val pairs = Dedup.embeddingNearDupPairs(emb.unionByName(planted), "vec_id",
        "embedding", dim = 64, planeBits = 12, minCosine = 0.999)
      pairs
        .filter(col("id_a") < 20 && col("id_b") === col("id_a") + 1000000L)
        .agg(countDistinct(col("id_a")).alias("n_found"))
        .crossJoin(broadcast(planted.agg(count(lit(1)).alias("n_planted"))))
        .select(col("n_planted"), col("n_found"),
          (col("n_found") === col("n_planted")).alias("recall_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin),

    // SemDeDup contract: an identical planted copy lands in the same k-means
    // cluster as its source (nearest-centroid assignment is deterministic),
    // so the within-cluster cosine pass must recover every planted pair.
    Query("q_dedup_semantic", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val pairs = Dedup.semanticNearDupPairs(emb.unionByName(planted), "vec_id",
        "embedding", dim = 64, numClusters = 16, minCosine = 0.999)
      pairs
        .filter(col("id_a") < 20 && col("id_b") === col("id_a") + 1000000L)
        .agg(countDistinct(col("id_a")).alias("n_found"))
        .crossJoin(broadcast(planted.agg(count(lit(1)).alias("n_planted"))))
        .select(col("n_planted"), col("n_found"),
          (col("n_found") === col("n_planted")).alias("recall_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin),

    // ================= north-star: similarity search ====================
    Query("q_ann_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast("long").alias("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY ROUND(CAST(list_cosine_similarity(q.embedding, e.embedding)
        |                     AS DOUBLE), 6) DESC,
        |                    e.vec_id ASC) AS rank
        |  FROM q CROSS JOIN (SELECT vec_id, embedding FROM embeddings) e
        |  WHERE e.vec_id <> q.vec_id)
        |SELECT query_id, rank, neighbor_id FROM scored
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The testdata embeddings are near-isotropic (same-label and cross-label
    // cosines both ≈0), so TRUE top-5 recall of any sublinear method equals
    // its scan fraction — not a checkable property. The checkable locality
    // claim: plant an exact copy of each query vector (id+1_000_000) in the
    // corpus; a correct bucketed ANN must co-locate it with its query and
    // return it at rank 1 (cosine 1 beats the ≈0.5 background ceiling).
    Query("q_ann_lsh", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      Similarity.lshTopK(emb.unionByName(planted), queries, "vec_id", "embedding",
          k = 5, dim = 64, bits = 10, probeBits = 6)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),

    Query("q_ann_ivf", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      Similarity.ivfTopK(emb.unionByName(planted), queries, "vec_id", "embedding",
          k = 5, dim = 64, numCells = 16, nprobe = 4)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),

    // IVF-PQ: same planted-copy recall contract as q_ann_ivf, but candidates
    // are ranked by the asymmetric-distance dot over 8-byte PQ codes before
    // the exact rescore — a planted identical vector must survive the ADC
    // shortlist and land at rank 1 after rescoring (cosine 1 beats the ≈0
    // isotropic background).
    Query("q_ann_ivfpq", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      val corpus  = emb.unionByName(planted)
      // train-once path: both models built up front, reused by the query
      val cents = Similarity.trainIvfCentroids(corpus, "embedding", dim = 64, numCells = 16)
      val books = Similarity.trainPqCodebooks(corpus, "embedding", dim = 64, m = 8, ksub = 16)
      Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
          k = 5, dim = 64, numCells = 16, nprobe = 4, m = 8, ksub = 16,
          centroids = Some(cents), codebooks = Some(books))
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),

    // Persisted-index IVF-PQ: build the index to disk (params + coded
    // corpus — the one full-vector pass), read it back, search. Same
    // planted-twin contract as q_ann_ivfpq: each query's shifted copy must
    // come back at rank 1, proving the round-tripped models and coded
    // layout reproduce the in-memory path.
    Query("q_ann_ivfpq_indexed", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      val corpus  = emb.unionByName(planted)
      val path = System.getProperty("java.io.tmpdir") + "/graft_ivfpq_index"
      Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", path,
        dim = 64, numCells = 16, m = 8, ksub = 16)
      val idx = Similarity.readIvfPqIndex(s, path)
      Similarity.searchIvfPqIndex(idx, corpus, queries, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin, lifecycle = true),

    // Incremental ANN: delivery 1 builds the index (models train here and
    // FREEZE), delivery 2 appends the planted twins plus a REDELIVERED
    // slice of the base through appendToIvfPqIndex — encode-delta-only,
    // dedup-on-write, stage-and-swap publish. The planted copies must come
    // back at rank 1 through codes produced by the frozen codebooks, and
    // the index row count must equal base + 10 exactly (the redelivered
    // 100 rows add nothing).
    Query("q_ann_ivfpq_append", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      val path = System.getProperty("java.io.tmpdir") + "/graft_ivfpq_append"
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        dim = 64, numCells = 16, m = 8, ksub = 16)
      Similarity.appendToIvfPqIndex(s, path,
        planted.unionByName(emb.filter(col("vec_id") < 100)),
        "vec_id", "embedding")
      val idx = Similarity.readIvfPqIndex(s, path)
      val corpus = emb.unionByName(planted)
      Similarity.searchIvfPqIndex(idx, corpus, queries, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"))
        .withColumn("index_rows", lit(idx.coded.count()))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank,
        |  CAST((SELECT COUNT(*) + 10 FROM embeddings) AS BIGINT) AS index_rows
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin, lifecycle = true),

    // Frozen-index DRIFT ALARM (operators/Similarity.scala
    // ivfPqDriftReports / binaryDriftReport): the IVF centroids, PQ
    // codebooks and binary thresholds freeze at build so codes stay
    // mutually comparable — which means a shifted embedding distribution
    // degrades recall SILENTLY. Every append now measures its delta under
    // the frozen models (one bounded aggregate over rows already being
    // encoded) against train-time references stored in the index params:
    // self-ADC + coarse-cell share for IVF-PQ, bit balance for binary.
    // Lifecycle: train on even ids → an IN-DISTRIBUTION delivery (odd
    // ids, same distribution) must NOT fire → a PLANTED shifted delivery
    // (collapsed toward a constant direction) MUST fire. The alarm is a
    // report, never a silent retrain. The oracle pins the per-delivery
    // verdicts and how many metrics were armed.
    Query("q_ann_drift_alarm", (s, dir) => {
      import s.implicits._
      val base = System.getProperty("java.io.tmpdir")
      val pqPath = base + "/graft_drift_ivfpq"
      val binPath = base + "/graft_drift_bin"
      val fs = new org.apache.hadoop.fs.Path(pqPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(pqPath, binPath).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val train = emb.filter(col("vec_id") % 2 === 0)
      val inDist = emb.filter(col("vec_id") % 2 === 1)
      val shifted = inDist
        .withColumn("vec_id", col("vec_id") + 10000000L)
        .withColumn("embedding", transform(col("embedding"),
          x => (x * lit(0.05) + lit(3.0)).cast("float")))
      Similarity.buildIvfPqIndex(train, "vec_id", "embedding", pqPath,
        dim = 64, numCells = 16, m = 8, ksub = 16)
      Similarity.buildBinaryIndex(train, "vec_id", "embedding", binPath,
        dim = 64)
      val rows = Seq(
        ("ivfpq", "in_dist",
          Similarity.appendToIvfPqIndex(s, pqPath, inDist, "vec_id",
            "embedding")),
        ("ivfpq", "shifted",
          Similarity.ivfPqDriftReports(s, pqPath, shifted, "embedding")),
        ("binary", "in_dist",
          Similarity.appendToBinaryIndex(s, binPath, inDist, "vec_id",
            "embedding").toSeq),
        ("binary", "shifted",
          Similarity.binaryDriftReport(s, binPath, shifted, "embedding")
            .toSeq)
      ).map { case (family, delivery, reports) =>
        (family, delivery, reports.size, reports.exists(_.drifted))
      }
      rows.toDF("family", "delivery", "metrics", "drifted")
        .orderBy("family", "delivery")
    },
      """SELECT * FROM (VALUES
        |  ('binary', 'in_dist', 1, FALSE),
        |  ('binary', 'shifted', 1, TRUE),
        |  ('ivfpq',  'in_dist', 2, FALSE),
        |  ('ivfpq',  'shifted', 2, TRUE))
        |AS t(family, delivery, metrics, drifted)
        |ORDER BY family, delivery""".stripMargin),

    // Persisted + incrementally-appended BINARY index: delivery 1 builds
    // (thresholds train here and FREEZE), delivery 2 appends the planted
    // twins plus a REDELIVERED slice through appendToBinaryIndex —
    // encode-delta-only with the frozen cut, dedup-on-write,
    // stage-and-swap publish. The planted copies must come back at rank 1
    // with Hamming 0 through codes produced by the frozen thresholds, and
    // the index row count must equal base + 10 exactly.
    Query("q_ann_binary_indexed", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      val path = System.getProperty("java.io.tmpdir") + "/graft_binary_index"
      Similarity.buildBinaryIndex(emb, "vec_id", "embedding", path, dim = 64)
      Similarity.appendToBinaryIndex(s, path,
        planted.unionByName(emb.filter(col("vec_id") < 100)),
        "vec_id", "embedding")
      val idx = Similarity.readBinaryIndex(s, path)
      val corpus = emb.unionByName(planted)
      Similarity.searchBinaryIndex(idx, corpus, queries, "vec_id", "embedding",
          k = 5, shortlist = 50)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"),
          col("hamming"))
        .withColumn("index_rows", lit(idx.coded.count()))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank,
        |  CAST(0 AS BIGINT) AS hamming,
        |  CAST((SELECT COUNT(*) + 10 FROM embeddings) AS BIGINT) AS index_rows
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),

    // WARC ingestion (ISO 28500 — the Common Crawl interchange format):
    // deterministic synthetic archives (one plain, one .warc.gz with the
    // same records) parse to identical response rows; URI, length, and the
    // HTTP-stripped body md5 are all rebuilt arithmetically by the oracle.
    Query("q_warc_ingest", (s, dir) => {
      import graft.sources.WarcSource
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_warc")
      java.nio.file.Files.createDirectories(tmp)
      java.nio.file.Files.write(tmp.resolve("sample.warc"),
        WarcSource.syntheticWarc(40))
      java.nio.file.Files.write(tmp.resolve("sample.warc.gz"),
        WarcSource.syntheticWarc(40, gzip = true))
      val recs = WarcSource.read(s, tmp.toString)
      val pstr = col("payload").cast("string")
      val bodyAt = instr(pstr, "\r\n\r\n")
      recs.filter(col("warc_type") === "response")
        .select(
          when(col("file").endsWith(".gz"), "gz").otherwise("plain").alias("kind"),
          col("seq").cast("long").alias("seq"),
          col("target_uri"),
          col("content_length"),
          md5(pstr.substr(bodyAt + lit(4), length(pstr))).alias("body_md5"))
        .orderBy("kind", "seq")
    },
      """WITH g AS (SELECT UNNEST(generate_series(1, 40)) AS i),
        |b AS (SELECT i, '<html><body>doc ' || i || ' ' ||
        |    repeat('x', CAST(i * 3 AS INTEGER)) || '</body></html>' AS body
        |  FROM g),
        |one AS (SELECT CAST(i AS BIGINT) AS seq,
        |    'https://example.com/page' || i AS target_uri,
        |    CAST(44 + length(body) AS BIGINT) AS content_length,
        |    md5(body) AS body_md5 FROM b)
        |SELECT k.kind, o.seq, o.target_uri, o.content_length, o.body_md5
        |FROM one o CROSS JOIN (VALUES ('gz'), ('plain')) k(kind)
        |ORDER BY kind, seq""".stripMargin),

    // Composed web ingest: WARC archive → HTTP body → HTML clean → tokens —
    // the raw-crawl-to-corpus head of a pretraining pipeline, end to end
    // through the engine's own kernels; every cleaned text and token count
    // replayed arithmetically by the oracle.
    Query("q_warc_corpus", (s, dir) => {
      import graft.sources.WarcSource
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_warc_corpus")
      java.nio.file.Files.createDirectories(tmp)
      java.nio.file.Files.write(tmp.resolve("crawl.warc.gz"),
        WarcSource.syntheticWarc(40, gzip = true))
      val recs = WarcSource.read(s, tmp.toString)
      val pstr = col("payload").cast("string")
      val body = pstr.substr(instr(pstr, "\r\n\r\n") + lit(4), length(pstr))
      val docs = recs.filter(col("warc_type") === "response")
        .select(col("seq").cast("long").alias("doc_id"), body.alias("text"))
      graft.operators.TextCleaning.clean(docs)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text_clean")).cast("long").alias("n_tokens"),
          md5(col("text_clean")).alias("clean_md5"))
        .orderBy("doc_id")
    },
      """WITH g AS (SELECT UNNEST(generate_series(1, 40)) AS i),
        |b AS (SELECT i, '<html><body>doc ' || i || ' ' ||
        |    repeat('x', CAST(i * 3 AS INTEGER)) || '</body></html>' AS text
        |  FROM g),
        |c AS (SELECT i, trim(regexp_replace(
        |    regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      'https?://[^\s\x0b<>"'']+', ' ', 'g'),
        |    '[ \t]+', ' ', 'g')) AS cleaned FROM b)
        |SELECT CAST(i AS BIGINT) AS doc_id,
        |  CAST(LEN(string_split_regex(LOWER(TRIM(cleaned)), '[\s\x0b]+')) AS BIGINT)
        |    AS n_tokens,
        |  md5(cleaned) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    // Bounded WARC read: record i of a handcrafted archive carries a
    // 44-byte HTTP envelope + 100·i filler bytes (content_length =
    // 44 + 100·i); with maxRecordBytes = 2044 every record past i = 20
    // must surface as an __oversize marker carrying the DECLARED length
    // with an empty payload — skipped in the stream, never allocated —
    // while the walk continues to the end of the archive. The oracle
    // rebuilds the whole expectation arithmetically.
    Query("q_warc_bounded", (s, dir) => {
      import graft.sources.WarcSource
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_warc_bounded")
      java.nio.file.Files.createDirectories(tmp)
      val out = new java.io.ByteArrayOutputStream()
      (1 to 30).foreach { i =>
        val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + "x" * (100 * i)
        out.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: https://example.com/page$i\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes(ascii))
        out.write(body.getBytes(ascii))
        out.write("\r\n\r\n".getBytes(ascii))
      }
      java.nio.file.Files.write(tmp.resolve("mixed.warc"), out.toByteArray)
      WarcSource.read(s, tmp.toString, maxRecordBytes = 2044L)
        .select(col("seq").cast("long").alias("seq"), col("warc_type"),
          col("content_length"),
          length(col("payload")).cast("long").alias("payload_len"))
        .orderBy("seq")
    },
      """SELECT CAST(i - 1 AS BIGINT) AS seq,
        |  CASE WHEN 44 + 100 * i <= 2044 THEN 'response'
        |       ELSE '__oversize' END AS warc_type,
        |  CAST(44 + 100 * i AS BIGINT) AS content_length,
        |  CAST(CASE WHEN 44 + 100 * i <= 2044 THEN 44 + 100 * i ELSE 0 END
        |    AS BIGINT) AS payload_len
        |FROM (SELECT UNNEST(generate_series(1, 30)) AS i)
        |ORDER BY seq""".stripMargin),

    // Incremental MULTIMODAL dedup over the persisted banded-hash index —
    // the image/audio/video twin of q_dedup_incremental_neardup: delivery
    // 1's image hashes are indexed on disk; delivery 2's re-encoded twins
    // must be rejected BY THE INDEX ALONE (the probe equi-joins precomputed
    // band rows — delivery 1's payloads are never re-read), fresh items
    // survive and append, and a redelivery probe then rejects everything.
    Query("q_media_dedup_incremental", (s, dir) => {
      import graft.operators.{HashIndex, Multimodal}
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      val d1 = (0L until 20L).map(i =>
        Multimodal.MediaRow(i, "image", s"img/$i", Multimodal.syntheticPng(i)))
      val path = System.getProperty("java.io.tmpdir") + "/graft_media_hash_index"
      HashIndex.persist(
        Multimodal.imageHashes(s.createDataset(d1)).withColumnRenamed("media_id", "id"),
        path)
      val d2 = (0L until 10L).map(i => Multimodal.MediaRow(100L + i, "image",
          s"img/t$i", Multimodal.syntheticPng(i, flipped = true))) ++
        (0L until 10L).map(i => Multimodal.MediaRow(110L + i, "image",
          s"img/f$i", Multimodal.syntheticPng(500L + i)))
      val h2 = Multimodal.imageHashes(s.createDataset(d2)).withColumnRenamed("media_id", "id")
      // localCheckpoint: materialize the first-pass verdict BEFORE append
      // republishes the index — a lazy plan pins the pre-swap file listing
      // and cannot be re-executed afterwards (see HashIndexSpec).
      val first = HashIndex.probe(HashIndex.read(s, path), h2)
        .select(col("id")).distinct().localCheckpoint()
      HashIndex.append(s, path, h2.join(first, Seq("id"), "left_anti"))
      val second = HashIndex.probe(HashIndex.read(s, path), h2).select(col("id")).distinct()
      h2.select(col("id"))
        .join(first.withColumn("dup_first_pass", lit(true)), Seq("id"), "left")
        .join(second.withColumn("dup_after_append", lit(true)), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("dup_first_pass"), lit(false)).alias("dup_first_pass"),
          coalesce(col("dup_after_append"), lit(false)).alias("dup_after_append"))
        .orderBy("id")
    },
      """SELECT CAST(100 + i AS BIGINT) AS id,
        |  i < 10 AS dup_first_pass,
        |  TRUE AS dup_after_append
        |FROM (SELECT UNNEST(generate_series(0, 19)) AS i)
        |ORDER BY id""".stripMargin, lifecycle = true),

    // ORC sink/scan round trip — the second columnar lake format beside
    // parquet: a lineitem projection written to ORC and read back must
    // aggregate identically to the parquet source, proving schema and
    // values survive the format end to end (the oracle aggregates the
    // parquet original).
    Query("q_orc_roundtrip", (s, dir) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_orc_lineitem"
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).alias("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
          count_distinct(col("l_orderkey")).alias("n_orders"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin, lifecycle = true),

    // Z-order (Morton) clustered layout: a 256×256 grid written through
    // zorderWrite must land each row in its exact space-filling-curve tile
    // — per-tile row counts, both min/max envelopes AND the value checksum
    // are closed-form arithmetic the oracle rebuilds. This is the layout
    // that lets a 100 TB lake prune multi-dimensional box queries by file
    // min/max instead of scanning the full sort order.
    Query("q_zorder_layout", (s, dir) => {
      import graft.operators.Layout
      val grid = s.range(65536).select(
        (col("id") % 256).alias("x"),
        shiftright(col("id"), 8).alias("y"),
        col("id").alias("v"))
      val path = System.getProperty("java.io.tmpdir") + "/graft_zorder"
      Layout.zorderWrite(grid, Seq("x", "y"), path, bits = 8, tileBits = 4)
      s.read.parquet(path)
        .groupBy(col("__tile").cast("long").alias("__tile"))
        .agg(count(lit(1)).alias("n_rows"),
          min("x").alias("min_x"), max("x").alias("max_x"),
          min("y").alias("min_y"), max("y").alias("max_y"),
          sum("v").alias("sum_v"))
        .orderBy("__tile")
    },
      """WITH t AS (SELECT UNNEST(generate_series(0, 15)) AS tile),
        |q AS (SELECT tile,
        |    ((tile >> 2) & 1) * 2 + (tile & 1) AS xq,
        |    ((tile >> 3) & 1) * 2 + ((tile >> 1) & 1) AS yq
        |  FROM t)
        |SELECT tile AS __tile, CAST(4096 AS BIGINT) AS n_rows,
        |  CAST(64 * xq AS BIGINT) AS min_x,
        |  CAST(64 * xq + 63 AS BIGINT) AS max_x,
        |  CAST(64 * yq AS BIGINT) AS min_y,
        |  CAST(64 * yq + 63 AS BIGINT) AS max_y,
        |  CAST(16384 * (4096 * yq + 2016) + 64 * (4096 * xq + 2016) AS BIGINT) AS sum_v
        |FROM q ORDER BY __tile""".stripMargin, lifecycle = true),

    // ================= north-star: text analysis ========================
    Query("q_text_tokens", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").alias("n_tokens"),
          length(col("text")).cast("long").alias("n_chars_m"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       CAST(LEN(string_split_regex(LOWER(TRIM(text)), '[\s\x0b]+')) AS BIGINT) AS n_tokens,
        |       CAST(LENGTH(text) AS BIGINT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_text_termfreq", (s, dir) =>
      TextAnalysis.termFrequencies(t(s, dir, "documents"))
        .orderBy(col("freq").desc, col("term").asc)
        .limit(20),
      """SELECT term, COUNT(*) AS freq FROM (
        |  SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '[\s\x0b]+')) AS term
        |  FROM documents)
        |WHERE LENGTH(term) > 0
        |GROUP BY term ORDER BY freq DESC, term ASC LIMIT 20""".stripMargin),

    // ---- sequence-length bucketing for padded-batch assembly -----------
    // operators/TextAnalysis.scala lengthBucketBatches: docs land in a
    // length bucket, are sharded within it (explicit doc_id % 4 here so
    // the oracle can reproduce the shard — production uses the default
    // hash shard), and batched 8-at-a-time in (len, id) order. The
    // contract row is per-batch: docs, the padded length every member
    // pays, and the padding efficiency Σlen / (padded·n) that the
    // bucketing exists to maximize.
    Query("q_length_buckets", (s, dir) => {
      val batches = TextAnalysis.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", bounds = Seq(150L, 300L, 450L), batchSize = 8,
        numShards = 4, shard = Some(pmod(col("doc_id"), lit(4))))
      batches.groupBy(col("bucket"), col("shard"), col("batch_id"))
        .agg(count(lit(1)).alias("n_docs"),
          max(col("padded_len")).alias("padded_len"),
          sum(col("n_chars")).alias("sum_len"))
        .select(col("bucket").cast("long").alias("bucket"), col("shard"),
          col("batch_id"), col("n_docs"), col("padded_len"), col("sum_len"),
          round(col("sum_len") / (col("padded_len") * col("n_docs")), 6)
            .alias("efficiency"))
        .orderBy("bucket", "shard", "batch_id")
    },
      """WITH d AS (
        |  SELECT doc_id, n_chars, doc_id % 4 AS shard,
        |    (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars > 300 THEN 1 ELSE 0 END +
        |     CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) AS bucket
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY bucket, shard ORDER BY n_chars, doc_id) AS rn
        |      FROM d),
        |b AS (SELECT *, CAST((rn - 1) // 8 AS BIGINT) AS batch_id FROM r)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(shard AS BIGINT) AS shard,
        |  batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(n_chars) AS BIGINT) AS padded_len,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_len,
        |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / (MAX(n_chars) * COUNT(*)), 6)
        |    AS efficiency
        |FROM b GROUP BY bucket, shard, batch_id
        |ORDER BY bucket, shard, batch_id""".stripMargin),

    Query("q_text_quality", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.stopwordRatio(TextFunctions.tokens(col("text")),
            Seq("the", "a")), 6).alias("stop_ratio"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       ROUND(CASE WHEN LEN(toks) = 0 THEN 0.0
        |             ELSE CAST(LEN(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE)
        |                  / CAST(LEN(toks) AS DOUBLE) END, 6) AS stop_ratio
        |FROM (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '[\s\x0b]+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // Overlapping token-window chunking (embedding/RAG splitter): every
    // chunk value-checked — the oracle replays the same strided slicing.
    Query("q_chunk_documents", (s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id",
          chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '[\s\x0b]+') AS t
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks
        |)
        |SELECT doc_id, CAST(s / 48 AS BIGINT) AS chunk_id,
        |       array_to_string(t[s+1 : least(s+64, len(t))], ' ') AS chunk_text,
        |       CAST(least(64, len(t) - s) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin),

    // Model-based quality filter (GPT-3-recipe logistic regression over the
    // engine's own signals): train on weak labels (natural docs = 1, their
    // spam-mutated twins = 0), score a held-out split; the model must
    // separate held-out spam from held-out clean text. L-BFGS on fixed data
    // is deterministic, so the booleans are stable run to run.
    Query("q_quality_classifier", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def spamTwin(df: org.apache.spark.sql.DataFrame) = df.select(
        (col("doc_id") + 1000000L).alias("doc_id"),
        concat_ws(" ", array_repeat(element_at(split(col("text"), "\\s+"), 1), 60))
          .alias("text"))
      val trainClean = docs.filter(col("doc_id") % 2 === 0)
      val heldClean  = docs.filter(col("doc_id") % 2 === 1)
      val labeled = trainClean.withColumn("label", lit(1.0))
        .unionByName(spamTwin(trainClean).withColumn("label", lit(0.0)))
      // 8 L-BFGS iterations separate the (linearly separable) weak labels by
      // a wide margin; each extra iteration is another full Spark job round
      val model  = graft.operators.QualityClassifier.train(labeled, "text", "label",
        maxIter = 8)
      val scored = graft.operators.QualityClassifier.score(model,
        heldClean.unionByName(spamTwin(heldClean)), "text")
      scored.agg(
        count(lit(1)).alias("n_scored"),
        coalesce(avg(when(col("doc_id") < 1000000L, col("quality_prob"))), lit(0.0))
          .alias("__pc"),
        coalesce(avg(when(col("doc_id") >= 1000000L, col("quality_prob"))), lit(1.0))
          .alias("__ps"))
        .select(col("n_scored"),
          (col("__pc") > 0.7).alias("clean_scores_high"),
          (col("__ps") < 0.3).alias("spam_scores_low"),
          (col("__pc") > col("__ps")).alias("separates"))
    },
      """SELECT COUNT(*) * 2 AS n_scored,
        |       CAST(1 AS BOOLEAN) AS clean_scores_high,
        |       CAST(1 AS BOOLEAN) AS spam_scores_low,
        |       CAST(1 AS BOOLEAN) AS separates
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin),

    // Compressibility quality signal (deflate ratio): engine-specific bytes
    // aren't SQL-expressible, so the oracle checks the CONTRACT — ratios
    // positive for every doc, and a planted spam doc (one token repeated)
    // compresses far below a planted diverse doc.
    Query("q_compression_signal", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (9000001L, Seq.fill(200)("spam").mkString(" ")),
        (9000002L, (0 until 200).map(i => s"w${i}x${i * 7 % 13}").mkString(" "))
      ).toDF("doc_id", "text")
      val rated = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(planted)
        .select(col("doc_id"), TextFunctions.deflateRatio(col("text")).alias("r"))
      rated.agg(
        count(lit(1)).alias("n_docs"),
        coalesce(min(col("r") > 0.0), lit(false)).alias("ratios_positive"),
        (coalesce(min(when(col("doc_id") === 9000001L, col("r"))), lit(1.0)) <
          coalesce(min(when(col("doc_id") === 9000002L, col("r"))), lit(0.0)))
          .alias("repetitive_compresses_more"))
    },
      """SELECT COUNT(*) + 2 AS n_docs,
        |       CAST(1 AS BOOLEAN) AS ratios_positive,
        |       CAST(1 AS BOOLEAN) AS repetitive_compresses_more
        |FROM documents""".stripMargin),

    // CCNet-style LM quality signal: per-doc bigram perplexity, self-trained
    // on the corpus with add-one smoothing — fully oracle-replicated in SQL.
    Query("q_perplexity", (s, dir) =>
      TextAnalysis.bigramPerplexity(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("n_bigrams"), round(col("ppl"), 6).alias("ppl"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '[\s\x0b]+') AS t
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS tok
        |  FROM toks WHERE len(t) >= 2
        |), cb AS (
        |  SELECT prev, tok, COUNT(*) AS c_bt FROM bi GROUP BY 1, 2
        |), cp AS (
        |  SELECT prev, SUM(c_bt) AS c_p FROM cb GROUP BY 1
        |), v AS (
        |  SELECT COUNT(DISTINCT tok) AS vc FROM (SELECT unnest(t) AS tok FROM toks)
        |)
        |SELECT bi.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       ROUND(EXP(AVG(-LN((cb.c_bt + 1.0) / (cp.c_p + v.vc)))), 6) AS ppl
        |FROM bi JOIN cb USING (prev, tok) JOIN cp USING (prev) CROSS JOIN v
        |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin),

    Query("q_text_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).alias("fp_md5"))
        .orderBy("doc_id"),
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents ORDER BY doc_id"),

    Query("q_text_langid", (s, dir) =>
      TextAnalysis.withLanguage(t(s, dir, "documents"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).alias("n"))
        .orderBy("lang", "lang_pred"),
      """WITH toks AS (
        |  SELECT lang, text, string_split_regex(lower(trim(text)), '[\s\x0b]+') AS t
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> list_contains(
        |      ['der','die','das','und','ist','von','mit','den','ein','zu'], x))) AS DOUBLE) / len(t) END AS s_de,
        |    CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','it','for','that'], x))) AS DOUBLE) / len(t) END AS s_en,
        |    CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> list_contains(
        |      ['el','la','de','que','y','en','un','los','se','por'], x))) AS DOUBLE) / len(t) END AS s_es,
        |    CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> list_contains(
        |      ['le','la','de','et','les','des','un','une','du','que'], x))) AS DOUBLE) / len(t) END AS s_fr,
        |    CAST(len(list_filter(['的','是','了','在','和','有','我','不','这','人'],
        |      w -> contains(text, w))) AS DOUBLE) AS s_zh
        |  FROM toks
        |), p AS (
        |  SELECT lang,
        |    CASE WHEN s_zh = b AND b > 0 THEN 'zh'
        |         WHEN s_fr = b AND b > 0 THEN 'fr'
        |         WHEN s_es = b AND b > 0 THEN 'es'
        |         WHEN s_en = b AND b > 0 THEN 'en'
        |         WHEN s_de = b AND b > 0 THEN 'de'
        |         ELSE 'und' END AS lang_pred
        |  FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS b FROM s)
        |)
        |SELECT lang, lang_pred, COUNT(*) AS n FROM p
        |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),

    // Gopher-style repetition quality signals (duplicated lines / 2-grams).
    Query("q_text_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("dup_line_frac"), col("dup_2gram_frac"))
        .orderBy("doc_id"),
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines,
        |    string_split_regex(lower(trim(text)), '[\s\x0b]+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lines,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    END AS g2
        |  FROM base
        |)
        |SELECT doc_id,
        |  CASE WHEN len(lines) = 0 THEN 0.0
        |       ELSE ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6)
        |  END AS dup_line_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
        |  END AS dup_2gram_frac
        |FROM g ORDER BY doc_id""".stripMargin),

    // PII pass: plant a deterministic email/IP/phone per doc, count and
    // redact — regexes restricted to Java-and-RE2-common syntax so the
    // DuckDB twin runs the same pattern text.
    Query("q_pii_redact", (s, dir) => {
      val planted = t(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0.0."),
          pmod(col("doc_id"), lit(256)), lit(" call +1 (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      graft.operators.Redaction.redact(
          graft.operators.Redaction.detect(planted))
        .select(col("doc_id"),
          col("n_emails").cast("long").alias("n_emails"),
          col("n_ipv4").cast("long").alias("n_ipv4"),
          col("n_phones").cast("long").alias("n_phones"),
          md5(col("text_redacted")).alias("redacted_md5"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |    ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9 ().-]{7,}[0-9]')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |          '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |        '\+?[0-9][0-9 ().-]{7,}[0-9]', '[PHONE]', 'g')) AS redacted_md5
        |FROM planted ORDER BY doc_id""".stripMargin),

    // Trained BPE tokenizer: merges aren't SQL-expressible, but the
    // RECONSTRUCTION contract is — concatenated subwords must restore the
    // document's non-whitespace characters exactly (n_chars_nospace is
    // fully oracle-derived), and subwords can never outnumber characters
    // or undercut words.
    Query("q_bpe_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val merges = graft.operators.BpeTokenizer.train(docs, "text", numMerges = 200)
      graft.operators.BpeTokenizer.encode(docs, "text", merges)
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long")
            .alias("n_chars_nospace"),
          aggregate(col("bpe_tokens"), lit(0L), (acc, t) => acc + length(t))
            .alias("__sum_len"),
          concat_ws("", col("bpe_tokens")).alias("__joined"),
          regexp_replace(col("text"), "\\s+", "").alias("__squashed"),
          col("n_subwords"),
          // SQL trim strips only 0x20 and split keeps empty edge strings —
          // count only nonempty words, matching encode's own tokenization
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast("long").alias("__n_words"))
        .select(col("doc_id"), col("n_chars_nospace"),
          (col("__joined") === col("__squashed")).alias("roundtrip_ok"),
          (col("__sum_len") === col("n_chars_nospace")).alias("lengths_match"),
          (col("n_subwords") <= col("n_chars_nospace") &&
            col("n_subwords") >= col("__n_words")).alias("count_bounded"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(LENGTH(regexp_replace(text, '[\s\x0b]+', '', 'g')) AS BIGINT)
        |    AS n_chars_nospace,
        |  CAST(1 AS BOOLEAN) AS roundtrip_ok,
        |  CAST(1 AS BOOLEAN) AS lengths_match,
        |  CAST(1 AS BOOLEAN) AS count_bounded
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split: the partition CONTRACT is
    // checkable — splits are disjoint-and-complete (counts sum to the
    // oracle-known total) and proportions land within hash-noise tolerance.
    Query("q_train_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = graft.operators.Splits.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      // completeness is checked by the oracle ROW COUNT (exactly the three
      // split names present, each nonempty) — a sum-vs-recount comparison
      // of the same lineage would be tautological.
      val counts = split.groupBy(col("split")).agg(count(lit(1)).alias("__n"))
      counts
        .crossJoin(broadcast(counts.agg(sum(col("__n")).alias("__total"))))
        .select(col("split"),
          (abs(col("__n") / col("__total") -
            when(col("split") === "train", 0.8).otherwise(0.1)) < 0.05)
            .alias("ratio_ok"))
        .orderBy("split")
    },
      """SELECT s.split, CAST(1 AS BOOLEAN) AS ratio_ok
        |FROM (VALUES ('test'), ('train'), ('val')) AS s(split)
        |ORDER BY s.split""".stripMargin),

    // Quality-aware exact-dedup survivor: keep the best-scoring member of
    // each content-fingerprint group (ties to lowest id). The synthetic
    // score varies within the fixture's natural duplicate groups, so the
    // max_by choice is non-trivial; every surviving (doc_id, score) row is
    // value-checked against DuckDB's arg_max over the same groups.
    Query("q_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // plant exact twins with new ids: each %10 group-of-2 has DIFFERENT
      // scores (doc_id%97 vs (doc_id+500000)%97), so max_by must choose
      val planted = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + 500000L))
      val scored = planted.withColumn("score", pmod(col("doc_id"), lit(97)))
      graft.operators.Dedup.exactByContentKeepBest(scored, "doc_id", "score")
        .select(col("doc_id"), col("score"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 10 = 0),
        |s AS (SELECT doc_id, doc_id % 97 AS score,
        |    md5(lower(trim(text))) AS fp FROM planted),
        |w AS (SELECT fp, MAX(score * 10000000 - doc_id) AS ord
        |      FROM s GROUP BY fp)
        |SELECT s.doc_id, CAST(s.score AS BIGINT) AS score
        |FROM s JOIN w ON s.fp IS NOT DISTINCT FROM w.fp
        |  AND s.score * 10000000 - s.doc_id = w.ord
        |ORDER BY s.doc_id""".stripMargin),

    // Content-defined chunking over binary payloads: exact logical-byte
    // accounting (SQL-checkable), exact per-payload coverage, and the CDC
    // dedup guarantee — planted identical payloads share ALL their chunks,
    // so physical bytes save at least the planted volume.
    Query("q_cdc_chunks", (s, dir) => {
      import graft.operators.{CdcChunking, Multimodal}
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + 500000L))
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      val media = planted.select(col("doc_id").alias("media_id"),
          lit("blob").alias("kind"), col("doc_id").cast("string").alias("uri"),
          encode(col("text"), "UTF-8").alias("payload"))
        .as[Multimodal.MediaRow]
      val chunks = CdcChunking.chunks(media).persist()
      try {
        val st = CdcChunking.dedupStats(chunks).head()
        val (logical, physical, ratio) =
          (st.getLong(1), st.getLong(2), st.getDouble(3))
        val coverBad = chunks.groupBy(col("media_id"))
          .agg(sum(col("length")).alias("b"))
          .join(media.toDF().select(col("media_id"),
            length(col("payload")).cast("long").alias("pb")), Seq("media_id"))
          .filter(col("b") =!= col("pb")).count()
        val plantedBytes = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .agg(coalesce(sum(length(encode(col("text"), "UTF-8")).cast("long")),
            lit(0L))).head().getLong(0)
        val nDocs = planted.count()
        import s.implicits._
        Seq((nDocs, logical, coverBad == 0L,
            physical <= logical - plantedBytes, ratio > 0.0 && ratio <= 1.0))
          .toDF("n_docs", "logical_bytes", "cover_exact", "twin_chunks_dedup",
            "ratio_bounded")
      } finally chunks.unpersist()
    },
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(OCTET_LENGTH(encode(text))), 0) AS BIGINT)
        |    AS logical_bytes,
        |  CAST(1 AS BOOLEAN) AS cover_exact,
        |  CAST(1 AS BOOLEAN) AS twin_chunks_dedup,
        |  CAST(1 AS BOOLEAN) AS ratio_bounded
        |FROM planted""".stripMargin),

    // Leakage-safe split: planted near-identical copies (same text, new id)
    // must land in the SAME split as their originals — the cluster-level
    // assignment invariant; plain hash-by-id splits would scatter ~20 % of
    // twins across the split boundary. Planted only on ≥ 12-token docs so
    // the LSH linkage is deterministic (empty shingle sets can't pair).
    Query("q_split_leakage_safe", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val longDocs = docs.filter(col("text").isNotNull &&
        size(split(trim(lower(col("text"))), "\\s+")) >= 12)
      val copies = longDocs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 700000L).alias("doc_id"), col("text"))
      val corpus = docs.unionByName(copies)
      val pairs = graft.operators.Dedup.minhashLshPairs(corpus, "doc_id",
        minJaccard = 0.9)
      val assigned = graft.operators.Splits.assignSplitLeakageSafe(
        corpus, "doc_id", pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      val orig = assigned.filter(col("doc_id") < 700000L)
        .withColumnRenamed("split", "s_orig")
      val cop = assigned.filter(col("doc_id") >= 700000L)
        .select((col("doc_id") - 700000L).alias("doc_id"),
          col("split").alias("s_copy"))
      orig.join(cop, Seq("doc_id"))
        .agg(count(lit(1)).alias("n_planted"),
          coalesce(sum(when(col("s_orig") === col("s_copy"), 1L)), lit(0L))
            .alias("n_same_split"))
        .crossJoin(broadcast(
          assigned.agg((countDistinct(col("split")) === 3).alias("splits_complete"))))
        .select(col("n_planted"), col("n_same_split"), col("splits_complete"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_same_split,
        |       CAST(1 AS BOOLEAN) AS splits_complete
        |FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL
        |  AND len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |        x -> length(x) > 0)) >= 12""".stripMargin),

    // One-pass corpus datasheet (with planted duplicates so dup_rate is
    // non-trivial): every headline number value-checked.
    Query("q_corpus_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + 500000L))
      graft.operators.Profiler.corpusCard(planted)
    },
      """WITH planted AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text, lang, source FROM documents
        |  WHERE doc_id % 10 = 0),
        |p AS (SELECT text, lang, source,
        |    CAST(len(list_filter(
        |      string_split_regex(lower(trim(COALESCE(text, ''))), '[\s\x0b]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS nt,
        |    md5(lower(trim(COALESCE(text, '')))) AS fp
        |  FROM planted)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  round(AVG(nt), 6) AS avg_tokens,
        |  round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM p""".stripMargin),

    // Fuzzy (MinHash cross-set) decontamination: benchmark items are
    // paraphrase-planted (2 appended tokens) copies of corpus docs; every
    // planted item must match its source (recall contract).
    Query("q_decontaminate_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // Plant only on docs ≥ 9 tokens so the perturbed copy's true Jaccard
      // (n−2)/n stays ≥ the 0.7 threshold with margin — the recall contract
      // survives a fixture regeneration with short docs.
      val bench = docs.filter(pmod(col("doc_id"), lit(29)) === 0 &&
          col("text").isNotNull &&
          size(split(trim(lower(col("text"))), "\\s+")) >= 9)
        .select(col("doc_id").alias("bench_id"),
          concat(col("text"), lit(" xq zv")).alias("text"))
      graft.operators.Decontaminate.fuzzyOverlap(docs, bench, "doc_id",
          minJaccard = 0.7)
        .filter(col("doc_id") === col("bench_id"))
        .agg(countDistinct(col("bench_id")).alias("n_found"))
        .crossJoin(broadcast(bench.agg(count(lit(1)).alias("n_planted"))))
        .select(col("n_planted"), col("n_found"),
          (col("n_found") === col("n_planted")).alias("recall_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM documents WHERE doc_id % 29 = 0 AND text IS NOT NULL
        |  AND len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |        x -> length(x) > 0)) >= 9""".stripMargin),

    // CDC-style snapshot diff with planted adds/removes/rewrites: every
    // change verdict and both content hashes are value-checked.
    Query("q_snapshot_diff", (s, dir) => {
      val old = t(s, dir, "documents")
      val neu = old
        .filter(pmod(col("doc_id"), lit(13)) =!= 0) // removed
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" [edited]"))).otherwise(col("text"))) // changed
        .unionByName(old.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)) // added
      graft.operators.Diff.snapshotDiff(old, neu, Seq("doc_id"))
        .orderBy("doc_id")
    },
      """WITH oldt AS (SELECT doc_id,
        |    md5(concat_ws('|', COALESCE(lang, '␀'),
        |      COALESCE(CAST(n_chars AS VARCHAR), '␀'),
        |      COALESCE(source, '␀'), COALESCE(text, '␀'))) AS h
        |  FROM documents),
        |newbase AS (
        |  SELECT doc_id, lang, n_chars, source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, lang, n_chars, source, text
        |  FROM documents WHERE doc_id % 11 = 0),
        |newt AS (SELECT doc_id,
        |    md5(concat_ws('|', COALESCE(lang, '␀'),
        |      COALESCE(CAST(n_chars AS VARCHAR), '␀'),
        |      COALESCE(source, '␀'), COALESCE(text, '␀'))) AS h
        |  FROM newbase),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS change,
        |    o.h AS old_hash, n.h AS new_hash
        |  FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change, old_hash, new_hash FROM d
        |WHERE change <> 'unchanged' ORDER BY doc_id""".stripMargin),

    // C4-style token-blocklist screening ("spark" is planted-frequent in
    // the synthetic vocab, so both block branches fire): value-checked.
    Query("q_badwords_filter", (s, dir) =>
      graft.operators.TextAnalysis.blocklistTokenStats(t(s, dir, "documents"),
          "doc_id", Seq("spark", "casino", "lotto"), minHits = 3L, maxFrac = 0.02)
        .select(col("doc_id"), col("n_tokens"), col("n_flagged"),
          round(col("flagged_frac"), 6).alias("flagged_frac"), col("blocked"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, x -> x IN ('spark', 'casino', 'lotto'))) AS BIGINT)
        |      AS n_flagged
        |  FROM toks)
        |SELECT doc_id, n_tokens, n_flagged,
        |  round(CASE WHEN n_tokens > 0
        |    THEN n_flagged / CAST(n_tokens AS DOUBLE) ELSE 0 END, 6) AS flagged_frac,
        |  (n_flagged >= 3 OR
        |   (CASE WHEN n_tokens > 0
        |     THEN n_flagged / CAST(n_tokens AS DOUBLE) ELSE 0 END) > 0.02) AS blocked
        |FROM c ORDER BY doc_id""".stripMargin),

    // Per-source winsorization at exact [P10, P90] (percentile pairs with
    // DuckDB quantile_cont): every clamped value checked.
    Query("q_winsorize", (s, dir) =>
      graft.operators.Profiler.winsorizeByGroup(
          t(s, dir, "documents"), "source", "n_chars", 0.1, 0.9)
        .select(col("doc_id"), col("source"),
          round(col("n_chars_w"), 6).alias("n_chars_w"))
        .orderBy("doc_id"),
      """WITH b AS (SELECT source,
        |    quantile_cont(n_chars, 0.1) AS lo, quantile_cont(n_chars, 0.9) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source,
        |  round(GREATEST(LEAST(CAST(d.n_chars AS DOUBLE), b.hi), b.lo), 6) AS n_chars_w
        |FROM documents d JOIN b USING (source) ORDER BY d.doc_id""".stripMargin),

    // Cross-corpus overlap estimate from HLL sketch algebra (no join):
    // contract row = exact overlap + estimate-within-bound boolean.
    Query("q_sketch_overlap", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        md5(coalesce(lower(trim(col("text"))), lit(""))).alias("fp"))
      val a = docs.filter(pmod(col("doc_id"), lit(10)) < 6)
      val b = docs.filter(pmod(col("doc_id"), lit(10)) >= 2)
      val est = graft.operators.Dedup.sketchOverlap(a, b, "fp")
      val exact = a.select(col("fp")).intersect(b.select(col("fp")))
        .agg(count(lit(1)).alias("n_exact_overlap"))
      est.crossJoin(exact).select(col("n_exact_overlap"),
        (abs(col("est_overlap") - col("n_exact_overlap")) /
          greatest(col("n_exact_overlap"), lit(1L)) < 0.25).alias("within_bound"))
    },
      """WITH fp AS (SELECT doc_id, md5(lower(trim(COALESCE(text, '')))) AS fp
        |            FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact_overlap,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 < 6
        |      INTERSECT
        |      SELECT DISTINCT fp FROM fp WHERE doc_id % 10 >= 2)""".stripMargin),

    // Greedy token-budget selection (best-scoring docs until the budget
    // fills): rank and running token total are value-checked row by row.
    Query("q_token_budget", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("n_tokens",
        size(filter(split(lower(trim(col("text"))), "\\s+"), x => length(x) > 0))
          .cast("long"))
      graft.operators.Splits.selectByTokenBudget(
          docs, "doc_id", "n_tokens", "n_chars", budget = 15000L)
        .select(col("doc_id"), col("rank"), col("cum_tokens"))
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |ranked AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1 AS rank,
        |    SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, CAST(cum AS BIGINT) AS cum_tokens
        |FROM ranked WHERE cum <= 15000 ORDER BY doc_id""".stripMargin),

    // Weighted sampling without replacement (operators/Splits.scala
    // sampleWeighted): Efraimidis–Spirakis A-Res keys ln(u)/w with u built
    // EXACTLY from 13 md5 hex digits (52 bits — engine-exact double), so
    // the drawn top-50 by n_chars weight is value-checked row for row; ln
    // is the only cross-engine float and the rank rounds it to 6 decimals
    // with an id tiebreak (the BM25 device).
    Query("q_sample_weighted", (s, dir) => {
      graft.operators.Splits.sampleWeighted(
          t(s, dir, "documents"), "doc_id", "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"), col("sel_key"))
        .orderBy("doc_id")
    },
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    round(ln(list_sum(list_transform(range(13), i ->
        |        (instr('0123456789abcdef', h[i+1]) - 1) * power(16.0, -(i+1))))
        |      + power(16.0, -13)) / CAST(n_chars AS DOUBLE), 6) AS sel_key
        |  FROM (SELECT doc_id, n_chars,
        |          substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13) AS h
        |        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)),
        |sel AS (SELECT * FROM keyed ORDER BY sel_key DESC, doc_id ASC LIMIT 50)
        |SELECT doc_id, n_chars, sel_key FROM sel ORDER BY doc_id""".stripMargin),

    // PER-GROUP token budget (operators/Splits.scala
    // selectByTokenBudgetPerGroup): every source domain capped at 300
    // tokens, best-scoring (longest) docs first — the domain-cap step of
    // mixture curation. One window per group, no driver pass; the oracle
    // replays the grouped running sum with QUALIFY, so rank, cumulative
    // tokens, and the cut row of every group are value-checked.
    Query("q_token_budget_per_group", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .withColumn("n_tokens",
          size(filter(split(lower(trim(col("text"))), "\\s+"),
            x => length(x) > 0)).cast("long"))
      graft.operators.Splits.selectByTokenBudgetPerGroup(docs, "source",
          "doc_id", "n_tokens", "n_chars", budget = 300L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("grp_rank"), col("cum_tokens"))
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |ranked AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS grp_rank,
        |    SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks)
        |SELECT doc_id, source, n_tokens, grp_rank,
        |       CAST(cum AS BIGINT) AS cum_tokens
        |FROM ranked WHERE cum <= 300 ORDER BY doc_id""".stripMargin),

    // Concat-and-chunk packing (operators/TextAnalysis.scala
    // chunkConcatenated): the GPT-style epoch layout — 4 shard token
    // streams, documents concatenated in doc_id order and cut into 512-
    // token sequences, split documents carrying their (piece_start,
    // piece_len) boundary map. All integer arithmetic; the oracle replays
    // the shard cumsum and chunk algebra exactly, so every piece row is
    // value-checked.
    Query("q_chunk_concat", (s, dir) => {
      val withTokens = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long")
          .alias("n_tokens"))
      graft.operators.TextAnalysis.chunkConcatenated(withTokens, "doc_id",
          "n_tokens", seqLen = 512L, numShards = 4,
          shard = Some(pmod(col("doc_id"), lit(4L))))
        .select(col("shard"), col("doc_id"), col("seq_id"),
          col("piece_start"), col("piece_len"))
        .orderBy("doc_id", "seq_id")
    },
      """WITH tok AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |pos AS (
        |  SELECT doc_id, shard, n,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM tok WHERE n > 0),
        |pieces AS (
        |  SELECT doc_id, shard, n, off,
        |    UNNEST(generate_series(off // 512, (off + n - 1) // 512)) AS seq_id
        |  FROM pos)
        |SELECT shard, doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(GREATEST(off, seq_id * 512) - off AS BIGINT) AS piece_start,
        |  CAST(LEAST(off + n, (seq_id + 1) * 512) -
        |       GREATEST(off, seq_id * 512) AS BIGINT) AS piece_len
        |FROM pieces ORDER BY doc_id, seq_id""".stripMargin),

    // Winnowing (MOSS) fingerprints: the whole selected-set per document
    // is value-checked via a sorted-set digest (md5-hex hashes replay in
    // any engine; window-min over equal-length hex = integer min).
    Query("q_winnow_fingerprints", (s, dir) =>
      graft.operators.Winnowing.fingerprints(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), size(col("fps")).cast("long").alias("n_fps"),
          md5(concat_ws(",", col("fps"))).alias("fp_set_md5"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 5
        |      THEN list_transform(range(len(t) - 4),
        |             i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
        |      ELSE [] END AS grams
        |  FROM toks),
        |h AS (SELECT doc_id,
        |    list_transform(grams, x -> substr(md5(x), 1, 16)) AS hs FROM g),
        |wsel AS (SELECT doc_id,
        |    CASE WHEN len(hs) >= 4
        |      THEN list_transform(range(len(hs) - 3),
        |             i -> list_min(list_slice(hs, i + 1, i + 4)))
        |      WHEN len(hs) > 0 THEN [list_min(hs)]
        |      ELSE [] END AS wins
        |  FROM h),
        |fp AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM wsel)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
        |  md5(array_to_string(fps, ',')) AS fp_set_md5
        |FROM fp ORDER BY doc_id""".stripMargin),

    // Per-source percent-rank calibration of a raw quality score: tie
    // ranks are deterministic, so every calibrated value is value-checked.
    Query("q_score_calibration", (s, dir) =>
      graft.operators.TextAnalysis.calibrateByStratum(
          t(s, dir, "documents"), "source", "n_chars")
        .select(col("doc_id"), col("source"),
          round(col("calibrated"), 6).alias("calibrated"))
        .orderBy("doc_id"),
      """SELECT doc_id, source,
        |  round(percent_rank() OVER (
        |    PARTITION BY source ORDER BY n_chars ASC NULLS FIRST), 6) AS calibrated
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Unicode-script composition with planted Han/accented-Latin/Cyrillic
    // content: every fraction is value-checked (code-point counts both
    // sides; Java \p{IsX} pairs with RE2 \p{X}).
    Query("q_script_signals", (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("lang") === "zh", lit(" 中文测试样例"))
            .when(col("lang") === "fr", lit(" café déjà vu"))
            .when(col("lang") === "de", lit(" größe straße"))
            .otherwise(lit(" plain tail")),
          when(pmod(col("doc_id"), lit(11)) === 0, lit(" русский текст"))
            .otherwise(lit(""))))
      graft.operators.TextAnalysis.scriptSignals(planted, "doc_id")
        .select(col("doc_id"), col("n_chars"),
          round(col("latin_frac"), 6).alias("latin_frac"),
          round(col("han_frac"), 6).alias("han_frac"),
          round(col("cyrillic_frac"), 6).alias("cyrillic_frac"),
          round(col("digit_frac"), 6).alias("digit_frac"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE lang WHEN 'zh' THEN ' 中文测试样例'
        |              WHEN 'fr' THEN ' café déjà vu'
        |              WHEN 'de' THEN ' größe straße'
        |              ELSE ' plain tail' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' русский текст' ELSE '' END AS text
        |  FROM documents),
        |nw AS (SELECT doc_id, regexp_replace(text, '[\s\x0b]', '', 'g') AS s FROM planted),
        |c AS (SELECT doc_id,
        |    CAST(length(s) AS BIGINT) AS n_chars,
        |    length(regexp_replace(s, '[^\p{Latin}]', '', 'g')) AS latin,
        |    length(regexp_replace(s, '[^\p{Han}]', '', 'g')) AS han,
        |    length(regexp_replace(s, '[^\p{Cyrillic}]', '', 'g')) AS cyr,
        |    length(regexp_replace(s, '[^0-9]', '', 'g')) AS dig
        |  FROM nw)
        |SELECT doc_id, n_chars,
        |  round(CASE WHEN n_chars > 0 THEN latin / CAST(n_chars AS DOUBLE) ELSE 0 END, 6) AS latin_frac,
        |  round(CASE WHEN n_chars > 0 THEN han / CAST(n_chars AS DOUBLE) ELSE 0 END, 6) AS han_frac,
        |  round(CASE WHEN n_chars > 0 THEN cyr / CAST(n_chars AS DOUBLE) ELSE 0 END, 6) AS cyrillic_frac,
        |  round(CASE WHEN n_chars > 0 THEN dig / CAST(n_chars AS DOUBLE) ELSE 0 END, 6) AS digit_frac
        |FROM c ORDER BY doc_id""".stripMargin),

    // BM25 lexical retrieval against a fixed query-term bag: every score
    // is value-checked (Lucene idf variant, k1=1.2, b=0.75).
    Query("q_bm25", (s, dir) =>
      graft.operators.TextAnalysis.bm25Scores(t(s, dir, "documents"),
          "doc_id", Seq("shuffle", "hash", "partition"))
        .select(col("doc_id"), col("n_hits"),
          round(col("bm25"), 6).alias("bm25"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |len AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM len),
        |hits AS (SELECT doc_id, g AS tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM toks)
        |  WHERE g IN ('shuffle', 'hash', 'partition') GROUP BY doc_id, g),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok)
        |SELECT h.doc_id, CAST(SUM(h.tf) AS BIGINT) AS n_hits,
        |  round(SUM(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * (h.tf * 2.2) /
        |    (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS bm25
        |FROM hits h JOIN dfq d USING (tok) JOIN len l USING (doc_id), corpus c
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin),

    // BM25 served from the persisted inverted index (postings + termstats +
    // doclen + stats under tmpdir): build-once / probe-many — the probe
    // touches only the 3 queried terms' postings (term-range-clustered
    // files, predicate pushed to the scan), never re-tokenizes the corpus.
    // Oracle recomputes from the raw corpus; hash-match proves served ==
    // recomputed, score for score.
    Query("q_bm25_indexed", (s, dir) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_bm25_index"
      graft.operators.InvertedIndex.build(t(s, dir, "documents"), "doc_id", "text",
        path, numPartitions = 8)
      graft.operators.InvertedIndex.bm25(s, path, Seq("shuffle", "hash", "partition"))
        .select(col("doc_id"), col("n_hits"),
          round(col("bm25"), 6).alias("bm25"))
        .orderBy("doc_id")
    },
    // Identical recompute-from-corpus SQL as q_bm25: the Spark side serves
    // from the persisted postings index, so hash equality IS the
    // index-roundtrip proof.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |len AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM len),
        |hits AS (SELECT doc_id, g AS tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM toks)
        |  WHERE g IN ('shuffle', 'hash', 'partition') GROUP BY doc_id, g),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok)
        |SELECT h.doc_id, CAST(SUM(h.tf) AS BIGINT) AS n_hits,
        |  round(SUM(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * (h.tf * 2.2) /
        |    (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS bm25
        |FROM hits h JOIN dfq d USING (tok) JOIN len l USING (doc_id), corpus c
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin, lifecycle = true),

    // Incremental index maintenance: build on the even half, APPEND the odd
    // half as a delivery (delta-only tokenize, marker-committed), then
    // re-append the same delta (idempotent no-op — the anti-join on doclen
    // drops every already-indexed id). The oracle recomputes from the full
    // corpus, so hash equality proves the partial df / n / sum_dl merge is
    // exact across deliveries — the served avgdl and idf agree bit-for-bit
    // however the corpus arrived.
    //
    // Measured floor ~4 s warm at sf0.1: one build + two appends = 12
    // staged parquet publishes + marker commits per run — the cost is
    // job-scheduling fan (≈25 jobs), not data volume (the tokenized delta
    // is checkpointed once per delivery). Contract query: it exists to
    // prove the maintenance path end-to-end, and the per-delivery cost is
    // what a real pipeline pays once per delivery, not per probe.
    Query("q_bm25_index_append", (s, dir) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_bm25_index_inc"
      val docs = t(s, dir, "documents")
      graft.operators.InvertedIndex.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
        numPartitions = 8)
      graft.operators.InvertedIndex.append(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", path)
      graft.operators.InvertedIndex.append(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", path)
      graft.operators.InvertedIndex.bm25(s, path, Seq("shuffle", "hash", "partition"))
        .select(col("doc_id"), col("n_hits"),
          round(col("bm25"), 6).alias("bm25"))
        .orderBy("doc_id")
    },
    // Same recompute-from-corpus SQL again: the Spark side assembled the
    // index across build + two appends, so hash equality proves the
    // delivery-partial merge (df, n, sum_dl) is exact.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |len AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM len),
        |hits AS (SELECT doc_id, g AS tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM toks)
        |  WHERE g IN ('shuffle', 'hash', 'partition') GROUP BY doc_id, g),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok)
        |SELECT h.doc_id, CAST(SUM(h.tf) AS BIGINT) AS n_hits,
        |  round(SUM(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * (h.tf * 2.2) /
        |    (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS bm25
        |FROM hits h JOIN dfq d USING (tok) JOIN len l USING (doc_id), corpus c
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin, lifecycle = true),

    // Exact phrase search served from the POSITIONAL inverted index
    // (operators/InvertedIndex.scala phraseCount): "table hash" as
    // consecutive tokens — per-term position arrays, shift-and-intersect,
    // no text re-scan. The oracle recounts sliding-window matches from the
    // raw corpus, so every per-doc occurrence count is value-checked.
    // Shares ONE cached positional index with q_proximity_search
    // (phraseIndexPath: build-if-missing, cache key includes the data
    // dir + its mtime so a different SF or regenerated testdata never
    // serves a stale index).
    Query("q_phrase_search", (s, dir) => {
      val path = phraseIndexPath(s, dir)
      graft.operators.InvertedIndex.phraseCount(s, path, Seq("table", "hash"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, CAST(len(list_filter(range(len(w) - 1), i ->
        |    w[i+1] = 'table' AND w[i+2] = 'hash')) AS BIGINT) AS n_occurrences
        |  FROM t)
        |SELECT doc_id, n_occurrences FROM c
        |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin, lifecycle = true),

    // Proximity (NEAR/3) search from the same positional index: "table"
    // within 3 tokens of "value", either order — n_near counts table-
    // occurrences with a qualifying neighbor. Reuses q_phrase_search's
    // cached index via phraseIndexPath — one build serves both queries.
    // Oracle recounts from raw token positions.
    Query("q_proximity_search", (s, dir) => {
      val path = phraseIndexPath(s, dir)
      graft.operators.InvertedIndex.proximityCount(s, path, "table", "value", 3)
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id,
        |    list_filter(range(len(w)), i -> w[i+1] = 'table') AS pa,
        |    list_filter(range(len(w)), i -> w[i+1] = 'value') AS pb
        |  FROM t),
        |c AS (
        |  SELECT doc_id, CAST(len(list_filter(pa, p ->
        |    len(list_filter(pb, q -> abs(q - p) <= 3)) > 0)) AS BIGINT)
        |    AS n_near
        |  FROM p)
        |SELECT doc_id, n_near FROM c WHERE n_near > 0 ORDER BY doc_id""".stripMargin, lifecycle = true),

    // PageRank over the observed click-transition graph: per-user
    // consecutive props.k transitions (ordered by micros + event_id, the
    // sessionize convention) form the weighted edge list; 5 damped power
    // iterations (operators/LinkGraph.scala). The oracle unrolls the same
    // 5 iterations as chained CTEs — identical arithmetic shape, so ranks
    // are value-checked at 6 decimals, not just rows.
    //
    // Measured floor ~3.5-4.5 s warm at sf0.1: 5 iterations × (one
    // broadcast-join-and-sum job + one bounded dangling-mass collect +
    // one localCheckpoint materialization) on top of the one-time edge
    // fold — iteration-count × job-overhead, not data volume; the edge
    // fold itself runs once (persisted).
    Query("q_pagerank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).alias("us"),
          get_json_object(col("props"), "$.k").cast("long").alias("k"))
        .filter(col("k").isNotNull)
      val edges = ev.withColumn("dst", lead(col("k"), 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("k").alias("src"), col("dst"))
      graft.operators.LinkGraph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"), round(col("rank"), 6).alias("pagerank"))
        .orderBy("node")
    },
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |tr AS (
        |  SELECT k AS src,
        |         lead(k) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst
        |  FROM ev),
        |e AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM tr
        |      WHERE dst IS NOT NULL GROUP BY src, dst),
        |outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
        |trans AS (SELECT e.src, e.dst, e.w / o.ow AS p
        |          FROM e JOIN outw o ON e.src = o.src),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / n.n AS pr FROM nodes, nn n),
        |d1 AS (SELECT COALESCE(SUM(r.pr), 0) AS m FROM r0 r
        |       LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
        |r1 AS (SELECT nd.node,
        |         (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0) + d1.m / nn.n) AS pr
        |       FROM nodes nd CROSS JOIN nn CROSS JOIN d1
        |       LEFT JOIN (SELECT t.dst AS node, SUM(r.pr * t.p) AS c
        |                  FROM trans t JOIN r0 r ON t.src = r.node
        |                  GROUP BY t.dst) c ON nd.node = c.node),
        |d2 AS (SELECT COALESCE(SUM(r.pr), 0) AS m FROM r1 r
        |       LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
        |r2 AS (SELECT nd.node,
        |         (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0) + d2.m / nn.n) AS pr
        |       FROM nodes nd CROSS JOIN nn CROSS JOIN d2
        |       LEFT JOIN (SELECT t.dst AS node, SUM(r.pr * t.p) AS c
        |                  FROM trans t JOIN r1 r ON t.src = r.node
        |                  GROUP BY t.dst) c ON nd.node = c.node),
        |d3 AS (SELECT COALESCE(SUM(r.pr), 0) AS m FROM r2 r
        |       LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
        |r3 AS (SELECT nd.node,
        |         (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0) + d3.m / nn.n) AS pr
        |       FROM nodes nd CROSS JOIN nn CROSS JOIN d3
        |       LEFT JOIN (SELECT t.dst AS node, SUM(r.pr * t.p) AS c
        |                  FROM trans t JOIN r2 r ON t.src = r.node
        |                  GROUP BY t.dst) c ON nd.node = c.node),
        |d4 AS (SELECT COALESCE(SUM(r.pr), 0) AS m FROM r3 r
        |       LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
        |r4 AS (SELECT nd.node,
        |         (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0) + d4.m / nn.n) AS pr
        |       FROM nodes nd CROSS JOIN nn CROSS JOIN d4
        |       LEFT JOIN (SELECT t.dst AS node, SUM(r.pr * t.p) AS c
        |                  FROM trans t JOIN r3 r ON t.src = r.node
        |                  GROUP BY t.dst) c ON nd.node = c.node),
        |d5 AS (SELECT COALESCE(SUM(r.pr), 0) AS m FROM r4 r
        |       LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
        |r5 AS (SELECT nd.node,
        |         (1 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0) + d5.m / nn.n) AS pr
        |       FROM nodes nd CROSS JOIN nn CROSS JOIN d5
        |       LEFT JOIN (SELECT t.dst AS node, SUM(r.pr * t.p) AS c
        |                  FROM trans t JOIN r4 r ON t.src = r.node
        |                  GROUP BY t.dst) c ON nd.node = c.node)
        |SELECT node, round(pr, 6) AS pagerank FROM r5 ORDER BY node""".stripMargin),

    // Hybrid retrieval: BM25 lexical top-40 fused with exact-cosine
    // semantic top-40 (probe = the deterministic vec_id-0 embedding) by
    // reciprocal-rank fusion, k=60 (operators/Retrieval.scala). Both legs
    // rank on ROUNDED scores with an id tiebreak, so ranks — and therefore
    // the fused scores — are engine-exact; docs/embeddings share ids by
    // construction of the testdata.
    Query("q_hybrid_retrieval", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val emb  = t(s, dir, "embeddings")
      val lex = graft.operators.TextAnalysis.bm25Scores(docs, "doc_id",
          Seq("shuffle", "hash", "partition"))
        .orderBy(round(col("bm25"), 6).desc, col("doc_id").asc).limit(40)
        // rank over the already-top-40 frame: the single-partition window
        // sees 40 rows no matter the corpus size
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("bm25"), 6).desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val sem = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0L), "vec_id", "embedding", 40)
        .select(col("neighbor_id").alias("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", k = 60)
        .select(col("doc_id"), round(col("rrf_score"), 6).alias("rrf"),
          col("n_rankers"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |len AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM len),
        |hits AS (SELECT doc_id, g AS tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS g FROM toks)
        |  WHERE g IN ('shuffle', 'hash', 'partition') GROUP BY doc_id, g),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok),
        |bm AS (SELECT h.doc_id,
        |  round(SUM(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * (h.tf * 2.2) /
        |    (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS bm25
        |  FROM hits h JOIN dfq d USING (tok) JOIN len l USING (doc_id), corpus c
        |  GROUP BY h.doc_id),
        |lex AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
        |  FROM bm) WHERE rank <= 40),
        |sem AS (SELECT doc_id, rank FROM (
        |  SELECT e.vec_id AS doc_id,
        |    ROW_NUMBER() OVER (ORDER BY
        |      ROUND(CAST(list_cosine_similarity(q.embedding, e.embedding) AS DOUBLE), 6)
        |        DESC, e.vec_id ASC) AS rank
        |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  CROSS JOIN embeddings e WHERE e.vec_id <> 0) WHERE rank <= 40),
        |unioned AS (SELECT doc_id, rank FROM lex
        |            UNION ALL SELECT doc_id, rank FROM sem)
        |SELECT doc_id, round(SUM(CAST(1 AS DOUBLE) / (60 + rank)), 6) AS rrf,
        |       COUNT(*) AS n_rankers
        |FROM unioned GROUP BY doc_id ORDER BY rrf DESC, doc_id ASC""".stripMargin),

    // Distribution-matching rejection sampling (operators/Splits.scala
    // matchDistribution): reshape the corpus so its length histogram
    // (16 × 128-char bins) matches the short-document target slice
    // (< 192 chars — a target that spans bin 0 fully and bin 1 partially,
    // so the sampler exercises full, fractional, AND zero acceptance in
    // one run). Per-bin thresholds are data-dependent — computed in-plan
    // from exact counts — and the md5-hex acceptance is content-stable,
    // so the accepted id set is value-checked row for row.
    Query("q_match_distribution", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bin = expr("least(15, length(text) div 128)")
      graft.operators.Splits.matchDistribution(
          docs, docs.filter(length(col("text")) < 192), "doc_id", bin)
        .select(col("doc_id"), col("__bin").cast("long").alias("bin"))
        .orderBy("doc_id")
    },
      """WITH src AS (
        |  SELECT doc_id, least(15, length(text) // 128) AS bin FROM documents
        |  WHERE text IS NOT NULL),
        |tgt AS (
        |  SELECT least(15, length(text) // 128) AS bin FROM documents
        |  WHERE text IS NOT NULL AND length(text) < 192),
        |s AS (SELECT bin, count(*) AS sc FROM src GROUP BY bin),
        |t AS (SELECT bin, count(*) AS tc FROM tgt GROUP BY bin),
        |tot AS (SELECT (SELECT count(*) FROM src) AS st,
        |               (SELECT count(*) FROM tgt) AS tt),
        |hist AS (
        |  SELECT s.bin,
        |    CAST(COALESCE(t.tc, 0) AS DOUBLE) * CAST(tot.st AS DOUBLE) /
        |      (CAST(s.sc AS DOUBLE) * CAST(tot.tt AS DOUBLE)) AS r
        |  FROM s LEFT JOIN t USING (bin), tot),
        |mx AS (SELECT max(r) AS rmax FROM hist),
        |th AS (
        |  SELECT bin, CASE WHEN r / rmax >= 1 THEN 'g'
        |    ELSE printf('%08x', CAST(floor(r / rmax * 4294967296) AS BIGINT))
        |  END AS th FROM hist, mx)
        |SELECT d.doc_id, CAST(d.bin AS BIGINT) AS bin
        |FROM src d JOIN th USING (bin)
        |WHERE substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th.th
        |ORDER BY d.doc_id""".stripMargin),

    // Late-interaction (MaxSim) retrieval (operators/Retrieval.scala
    // maxSim): query vec_id-0 split into 4 contiguous sub-vectors, each
    // matching its best of the document's 4 sub-vectors — Σ max ⟨q_i,d_j⟩.
    // The oracle replays the identical slice/dot/max/sum in DuckDB list
    // comprehensions, so every top-20 score is value-checked at 6 decimals;
    // ranks tie-break on id, the suite's determinism convention.
    Query("q_maxsim", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Retrieval.maxSim(
          emb, emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
          numSubVecs = 4)
        .select(col("vec_id"), round(col("maxsim"), 6).alias("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc)
        .limit(20)
    },
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT d.vec_id,
        |    list_sum(list_transform(range(4), i ->
        |      list_max(list_transform(range(4), j ->
        |        list_inner_product(
        |          list_transform(q.qe[1+16*i : 16*(i+1)], x -> CAST(x AS DOUBLE)),
        |          list_transform(d.embedding[1+16*j : 16*(j+1)],
        |                         x -> CAST(x AS DOUBLE))))))) AS s
        |  FROM embeddings d, q
        |  WHERE d.embedding IS NOT NULL AND len(d.embedding) % 4 = 0)
        |SELECT vec_id, round(s, 6) AS maxsim FROM scored
        |ORDER BY maxsim DESC, vec_id LIMIT 20""".stripMargin),

    // DSIR importance log-weights toward a planted target domain
    // (doc_id % 10 < 3): every document's weight is value-checked — the
    // md5-hex bucketing makes the whole construction SQL-replayable.
    Query("q_dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.dsirLogWeights(
          docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3), "doc_id")
        .select(col("doc_id"), col("n_grams"),
          round(col("dsir_logweight"), 6).alias("dsir_logweight"))
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |      x -> length(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |bucketed AS (SELECT doc_id, substr(md5(g), 1, 2) AS b FROM grams),
        |allb AS (SELECT printf('%02x', CAST(i AS INT)) AS b FROM range(256) r(i)),
        |tcnt AS (SELECT b, count(*) AS c FROM bucketed WHERE doc_id % 10 < 3 GROUP BY b),
        |rcnt AS (SELECT b, count(*) AS c FROM bucketed GROUP BY b),
        |tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tcnt) AS tn,
        |               (SELECT COALESCE(SUM(c), 0) FROM rcnt) AS rn),
        |lam AS (
        |  SELECT allb.b,
        |    ln((COALESCE(tcnt.c, 0) + 1.0) / (tot.tn + 256)) -
        |    ln((COALESCE(rcnt.c, 0) + 1.0) / (tot.rn + 256)) AS lam
        |  FROM allb LEFT JOIN tcnt USING (b) LEFT JOIN rcnt USING (b), tot),
        |scored AS (
        |  SELECT bucketed.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    round(SUM(lam.lam), 6) AS dsir_logweight
        |  FROM bucketed JOIN lam USING (b) GROUP BY bucketed.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_grams, 0) AS n_grams,
        |  COALESCE(s.dsir_logweight, 0.0) AS dsir_logweight
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Corpus-wide line dedup with planted repeated lines (shared header +
    // a 7-way footer): every rebuilt document is hash-value-checked.
    Query("q_line_dedup", (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat_ws("\n",
          lit("shared header nav"),
          col("text"),
          concat(lit("footer block "), pmod(col("doc_id"), lit(7)).cast("string"))))
      graft.operators.PassageDedup.lineDedup(planted, "doc_id")
        .select(col("doc_id"), md5(col("text")).alias("text_md5"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    'shared header nav' || chr(10) || text || chr(10) ||
        |    'footer block ' || CAST(doc_id % 7 AS VARCHAR) AS text
        |  FROM documents),
        |split AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM planted),
        |idx AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos1, l FROM split),
        |ln AS (SELECT doc_id, pos1 - 1 AS pos, l[pos1] AS line FROM idx),
        |keyed AS (SELECT doc_id, pos, line,
        |    CASE WHEN length(trim(line)) > 0 THEN md5(trim(line)) END AS key FROM ln),
        |ranked AS (SELECT doc_id, pos, line, key,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rk FROM keyed),
        |rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM ranked WHERE key IS NULL OR rk = 1 GROUP BY doc_id)
        |SELECT p.doc_id, md5(COALESCE(r.text, '')) AS text_md5
        |FROM planted p LEFT JOIN rebuilt r ON p.doc_id = r.doc_id
        |ORDER BY p.doc_id""".stripMargin),

    // Paragraph-granularity dedup (same machinery, blank-line segments):
    // rebuilt documents value-checked via hash.
    Query("q_paragraph_dedup", (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat_ws("\n\n",
          lit("shared intro paragraph"),
          col("text"),
          concat(lit("outro block "), pmod(col("doc_id"), lit(5)).cast("string"))))
      graft.operators.PassageDedup.paragraphDedup(planted, "doc_id")
        .select(col("doc_id"), md5(col("text")).alias("text_md5"))
        .orderBy("doc_id")
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    'shared intro paragraph' || chr(10) || chr(10) || text ||
        |    chr(10) || chr(10) || 'outro block ' || CAST(doc_id % 5 AS VARCHAR) AS text
        |  FROM documents),
        |split AS (SELECT doc_id,
        |    string_split_regex(text, '\n{2,}') AS l FROM planted),
        |idx AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos1, l FROM split),
        |ln AS (SELECT doc_id, pos1 - 1 AS pos, l[pos1] AS line FROM idx),
        |keyed AS (SELECT doc_id, pos, line,
        |    CASE WHEN length(trim(line)) > 0 THEN md5(trim(line)) END AS key FROM ln),
        |ranked AS (SELECT doc_id, pos, line, key,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rk FROM keyed),
        |rebuilt AS (SELECT doc_id,
        |    string_agg(line, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM ranked WHERE key IS NULL OR rk = 1 GROUP BY doc_id)
        |SELECT p.doc_id, md5(COALESCE(r.text, '')) AS text_md5
        |FROM planted p LEFT JOIN rebuilt r ON p.doc_id = r.doc_id
        |ORDER BY p.doc_id""".stripMargin),

    // Two-pass exact heavy hitters: MG sketch nominates (merge-order-
    // dependent), exact recount decides — so the output is oracle-exact.
    Query("q_heavy_hitters", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).alias("tok"))
        .filter(length(col("tok")) > 0)
      graft.operators.HeavyHitters.heavyHitters(toks, "tok", phi = 0.003)
        .orderBy("tok")
    },
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '[\s\x0b]+')) AS tok
        |  FROM documents),
        |nz AS (SELECT tok FROM toks WHERE length(tok) > 0),
        |tot AS (SELECT count(*) AS n FROM nz)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM nz, tot GROUP BY tok, n HAVING count(*) > 0.003 * n
        |ORDER BY tok""".stripMargin),

    // Content-stable per-stratum subsampling: every kept/dropped row is
    // value-checked — the oracle replays the hex-threshold predicate.
    Query("q_sample_stratified", (s, dir) =>
      graft.operators.Splits.sampleStratified(t(s, dir, "documents"),
          "lang", "doc_id", Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25),
          default = 0.1)
        .select(col("doc_id"), col("lang")).orderBy("doc_id"),
    // Replays sampleStratified's hex-threshold predicate verbatim: bounds
    // are round(f * 65536) as 5 lowercase hex digits (en 0.5 -> 08000,
    // de 1.0 -> 10000, fr 0.25 -> 04000, default 0.1 -> 0199a).
      """SELECT doc_id, lang FROM documents
        |WHERE '0' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '08000' WHEN 'de' THEN '10000'
        |            WHEN 'fr' THEN '04000' ELSE '0199a' END
        |ORDER BY doc_id""".stripMargin),

    // Deterministic at-most-n-per-group cap (domain balancing): the md5
    // rank order is content-stable, so the survivor set is exact.
    Query("q_sample_per_group", (s, dir) =>
      graft.operators.Splits.samplePerGroup(t(s, dir, "documents"),
          "source", "doc_id", 7)
        .select(col("doc_id"), col("source")).orderBy("doc_id"),
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents) WHERE rk <= 7
        |ORDER BY doc_id""".stripMargin),

    // Markup/URL cleaning with planted HTML wrapping — tags stripped,
    // entities decoded, URLs counted and removed, whitespace collapsed.
    Query("q_html_clean", (s, dir) =>
      graft.operators.TextCleaning.clean(
          t(s, dir, "documents").withColumn("text",
            concat(lit("<p class=\"x\">"), col("text"),
              lit("</p> &amp; see https://example.com/doc/"), col("doc_id"))))
        .select(col("doc_id"), col("n_urls").cast("long").alias("n_urls"),
          md5(col("text_clean")).alias("clean_md5"))
        .orderBy("doc_id"),
      """WITH planted AS (
        |  SELECT doc_id,
        |    '<p class="x">' || text || '</p> &amp; see https://example.com/doc/' ||
        |    CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s\x0b<>"'']+')) AS BIGINT) AS n_urls,
        |  md5(trim(regexp_replace(
        |    regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      'https?://[^\s\x0b<>"'']+', ' ', 'g'),
        |    '[ \t]+', ' ', 'g'))) AS clean_md5
        |FROM planted ORDER BY doc_id""".stripMargin),

    // Homoglyph / confusable-skeleton dedup (operators/TextCleaning.scala
    // confusableSkeleton): spoof twins planted for doc_id % 9 = 0 — text
    // with Latin a/e/o/c swapped to Cyrillic lookalikes plus a trailing
    // zero-width space, the classic blocklist/dedup-dodging move — are
    // byte-distinct (exact fingerprints miss them) but skeleton-identical,
    // so each twin resolves to its original as the deterministic winner.
    // The oracle replays the SAME translate/strip/lower/collapse chain
    // (the confusable map is interpolated from the one Scala constant, so
    // the two engines cannot drift).
    Query("q_homoglyph_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spoof = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 4000000L).alias("doc_id"),
          concat(translate(col("text"), "aeoc", "аеос"),
            lit("\u200B")).alias("text"))
      graft.operators.TextCleaning.homoglyphDedup(
          docs.unionByName(spoof), "doc_id")
        .orderBy("doc_id")
    },
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000,
        |         translate(text, 'aeoc', 'аеос') || chr(8203)
        |  FROM documents WHERE doc_id % 9 = 0),
        |sk AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(
        |      lower(translate(
        |        regexp_replace(text,
        |          '${graft.operators.TextCleaning.zeroWidthPattern}', '', 'g'),
        |        '${graft.operators.TextCleaning.confusableFrom}',
        |        '${graft.operators.TextCleaning.confusableTo}')),
        |      '\\s+', ' ', 'g'))) AS s
        |  FROM all_docs),
        |w AS (SELECT doc_id, s, min(doc_id) OVER (PARTITION BY s) AS winner
        |      FROM sk)
        |SELECT doc_id, winner, doc_id <> winner AS is_dup
        |FROM w ORDER BY doc_id""".stripMargin),

    // Cross-source contamination matrix: exact-content overlap counts
    // between every source pair — the per-pair answer to "how much of
    // corpus A is already in corpus B" that drives dedup-priority and
    // licensing decisions. Twins planted deterministically (doc_id % 11
    // re-emitted under a shifted source), shared fingerprints counted via
    // a distinct (source, fp) self-join — 16-byte digests cross the
    // shuffle, never text, and the pair space is |sources|², not rows².
    Query("q_source_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
      val planted = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select(concat(lit("src"),
            ((pmod(col("doc_id"), lit(20)) + 7) % 20).cast("int")).alias("source"),
          (col("doc_id") + 5000000L).alias("doc_id"), col("text"))
      val fps = docs.unionByName(planted)
        .select(col("source"), md5(lower(trim(col("text")))).alias("fp"))
        .distinct()
      fps.alias("a").join(fps.alias("b"), Seq("fp"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").alias("src_a"), col("b.source").alias("src_b"))
        .agg(count(lit(1)).alias("n_shared"))
        .orderBy("src_a", "src_b")
    },
      """WITH all_docs AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((doc_id % 20 + 7) % 20 AS INTEGER), text
        |  FROM documents WHERE doc_id % 11 = 0),
        |fps AS (SELECT DISTINCT source, md5(lower(trim(text))) AS fp
        |        FROM all_docs)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Benchmark decontamination: docs with doc_id < 20 form the eval set;
    // every doc whose text exactly matches a benchmark text must be flagged
    // by the shingle-overlap detector (n_exact_matches is fully
    // oracle-derivable; the flag completeness is the boolean).
    Query("q_decontaminate", (s, dir) => {
      val docs  = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") < 20)
      val flagged = graft.operators.Decontaminate
        .overlap(docs, bench, "doc_id", "text", n = 3, minOverlapFrac = 0.9)
        .filter(col("contaminated")).select(col("doc_id"))
      val exact = docs
        .join(broadcast(bench.select(col("text")).distinct()), Seq("text"), "left_semi")
        .select(col("doc_id"))
      broadcast(bench.agg(count(lit(1)).alias("n_benchmark")))
        .crossJoin(exact.agg(countDistinct(col("doc_id")).alias("n_exact_matches")))
        .crossJoin(exact.join(flagged, Seq("doc_id"), "left_semi")
          .agg(countDistinct(col("doc_id")).alias("__nf")))
        .select(col("n_benchmark"), col("n_exact_matches"),
          (col("__nf") === col("n_exact_matches")).alias("all_exact_matches_flagged"))
    },
      """SELECT
        |  (SELECT COUNT(*) FROM documents WHERE doc_id < 20) AS n_benchmark,
        |  (SELECT COUNT(DISTINCT doc_id) FROM documents
        |   WHERE text IN (SELECT text FROM documents WHERE doc_id < 20)) AS n_exact_matches,
        |  CAST(1 AS BOOLEAN) AS all_exact_matches_flagged""".stripMargin),

    Query("q_pack_sequences", (s, dir) => {
      val withTokens = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long")
          .alias("n_tokens"))
      // Explicit mod shard (instead of the default murmur3 shard) so the
      // DuckDB oracle can reproduce the shard assignment exactly.
      TextAnalysis.packSequences(withTokens, "doc_id", "n_tokens", budget = 2048L,
          numShards = 8, shard = Some(pmod(col("doc_id"), lit(8L))))
        .groupBy(col("shard"), col("bin_id"))
        .agg(count(lit(1)).alias("n_docs"), sum(col("n_tokens")).alias("n_tokens"))
        .orderBy("shard", "bin_id")
    },
      """WITH tok AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(LEN(string_split_regex(LOWER(TRIM(text)), '[\s\x0b]+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), packed AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id
        |  FROM tok
        |)
        |SELECT shard, bin_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY shard, bin_id ORDER BY shard, bin_id""".stripMargin),

    // Bernoulli sampling isn't reproducible in DuckDB SQL, but the mixture
    // CONTRACT is checkable: exactly the requested sources survive, nothing
    // upsamples, and realized proportions land within a sampling-noise
    // tolerance of the target weights.
    Query("q_mix_sources", (s, dir) => {
      val docs    = t(s, dir, "documents")
      val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val avail   = docs.groupBy(col("source"))
        .agg(count(lit(1)).alias("n_avail"))
      val mixed = TextAnalysis.mixSources(docs, "source", weights)
        .groupBy(col("source")).agg(count(lit(1)).alias("__n"))
      val target = typedLit(weights)
      mixed.join(avail, Seq("source"))
        .crossJoin(broadcast(mixed.agg(sum(col("__n")).alias("__total"))))
        .select(col("source"),
          (col("__n") <= col("n_avail")).alias("no_upsample"),
          (abs(col("__n") / col("__total") - element_at(target, col("source")))
            < 0.12).alias("ratio_ok"))
        .orderBy("source")
    },
      """SELECT source, CAST(1 AS BOOLEAN) AS no_upsample,
        |       CAST(1 AS BOOLEAN) AS ratio_ok
        |FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |GROUP BY source ORDER BY source""".stripMargin),

    // Oracle-checked funnel prefix: the quality/language/exact-dedup stages
    // (the near-dup stage is MinHash-kernel-based and stays in
    // q_corpus_funnel below).
    Query("q_corpus_funnel_sql", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.withColumn("q",
        TextFunctions.qualityScore(col("text"), TextAnalysis.defaultStopwords))
      val quality = scored.filter(col("q") >= 0.3)
      val langed = quality
        .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
        .filter(col("lang_pred").isin("en", "und"))
      langed.agg(
        count(lit(1)).alias("after_language"),
        countDistinct(md5(lower(trim(col("text"))))).alias("after_exact"))
        .crossJoin(broadcast(quality.agg(count(lit(1)).alias("after_quality"))))
        .crossJoin(broadcast(docs.agg(count(lit(1)).alias("input"))))
        .select(col("input"), col("after_quality"), col("after_language"),
          col("after_exact"))
    },
      """WITH base AS (
        |  SELECT text, string_split_regex(lower(trim(text)), '[\s\x0b]+') AS toks
        |  FROM documents
        |), q AS (
        |  SELECT text, toks,
        |    ROUND(
        |      LEAST(CAST(LEN(toks) AS DOUBLE) / 50.0, 1.0) * 0.4 +
        |      LEAST((CASE WHEN LEN(toks) = 0 THEN 0.0
        |             ELSE CAST(LEN(list_filter(toks, t -> list_contains(
        |               ['the','a','an','and','or','of','to','in','is','it','for','on','with'], t)))
        |               AS DOUBLE) / CAST(LEN(toks) AS DOUBLE) END) * 5.0, 1.0) * 0.4 +
        |      (1.0 - LEAST((CASE WHEN LENGTH(text) = 0 THEN 0.0
        |             ELSE CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |               AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE) END) * 10.0, 1.0)) * 0.2
        |    , 6) AS qscore
        |  FROM base
        |), quality AS (SELECT text, toks FROM q WHERE qscore >= 0.3
        |), ls AS (
        |  SELECT text,
        |    CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE CAST(LEN(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','von','mit','den','ein','zu'], x))) AS DOUBLE) / LEN(toks) END AS s_de,
        |    CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE CAST(LEN(list_filter(toks, x -> list_contains(
        |      ['the','a','and','of','to','in','is','it','for','that'], x))) AS DOUBLE) / LEN(toks) END AS s_en,
        |    CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE CAST(LEN(list_filter(toks, x -> list_contains(
        |      ['el','la','de','que','y','en','un','los','se','por'], x))) AS DOUBLE) / LEN(toks) END AS s_es,
        |    CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE CAST(LEN(list_filter(toks, x -> list_contains(
        |      ['le','la','de','et','les','des','un','une','du','que'], x))) AS DOUBLE) / LEN(toks) END AS s_fr,
        |    CAST(LEN(list_filter(['的','是','了','在','和','有','我','不','这','人'],
        |      w -> contains(text, w))) AS DOUBLE) AS s_zh
        |  FROM quality
        |), langed AS (
        |  SELECT text FROM (
        |    SELECT text,
        |      CASE WHEN s_zh = b AND b > 0 THEN 'zh'
        |           WHEN s_fr = b AND b > 0 THEN 'fr'
        |           WHEN s_es = b AND b > 0 THEN 'es'
        |           WHEN s_en = b AND b > 0 THEN 'en'
        |           WHEN s_de = b AND b > 0 THEN 'de'
        |           ELSE 'und' END AS lang_pred
        |    FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS b FROM ls)
        |  ) WHERE lang_pred IN ('en', 'und')
        |)
        |SELECT (SELECT COUNT(*) FROM documents) AS input,
        |       (SELECT COUNT(*) FROM quality) AS after_quality,
        |       (SELECT COUNT(*) FROM langed) AS after_language,
        |       (SELECT COUNT(DISTINCT md5(lower(trim(text)))) FROM langed) AS after_exact""".stripMargin),

    // ---- composed corpus-curation funnel. With minQuality=0 and the full
    // language allow-list, the quality/language stages are tautologies and
    // the exact-dedup count is countDistinct(fingerprint) — all three
    // oracle-checkable. The MinHash near-dup stage contributes its monotone
    // contract (0 < after_neardup ≤ after_exact) as a boolean; its recall
    // is oracle-checked separately by q_dedup_minhash.
    // Per-document curation provenance (pipeline/CorpusPipeline.scala
    // provenance): every input doc labeled with the FIRST stage that
    // dropped it plus the responsible twin. Exact-provenance mode
    // (minQuality=0, full allow-list, nearDup=false) so every label and
    // twin id is SQL-decidable: exact_dup iff the doc is not its
    // fingerprint group's min id, twin = that min. The near-dup and
    // quality/language labels (kernel expressions, not SQL-replayable)
    // are pinned by CorpusPipelineSpec instead.
    Query("q_curation_provenance", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.pipeline.CorpusPipeline.provenance(docs, minQuality = 0.0,
          allowedLangs = Seq("en", "es", "fr", "de", "zh", "und"),
          nearDup = false)
        .orderBy("doc_id")
    },
      """WITH w AS (
        |  SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
        |           AS winner
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN doc_id <> winner THEN 'exact_dup'
        |            ELSE 'survived' END AS stage,
        |       CASE WHEN doc_id <> winner THEN winner
        |            ELSE NULL END AS twin_id
        |FROM w ORDER BY doc_id""".stripMargin),

    Query("q_corpus_funnel", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val (_, r) = graft.pipeline.CorpusPipeline.curate(docs, minQuality = 0.0,
        allowedLangs = Seq("en", "es", "fr", "de", "zh", "und"))
      import s.implicits._
      Seq((r.input, r.afterQuality, r.afterLanguage, r.afterExactDedup,
          r.afterNearDup <= r.afterExactDedup && r.afterNearDup > 0))
        .toDF("input", "after_quality", "after_language", "after_exact",
          "neardup_monotone")
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS input,
        |       CAST(COUNT(*) AS BIGINT) AS after_quality,
        |       CAST(COUNT(*) AS BIGINT) AS after_language,
        |       CAST(COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS after_exact,
        |       CAST(1 AS BOOLEAN) AS neardup_monotone
        |FROM documents""".stripMargin),

    // Composed curation → paragraph segment-dedup → JSONL export → schema'd
    // read-back. SQL-checkable stages hash-check exactly; the non-SQL legs
    // (MinHash kill, RefinedWeb paragraph rewrite, JSONL round trip) export
    // verified invariant bits: exported rows == funnel's afterNearDup, ids
    // survive the round trip exactly, and the rewrite never grows a text.
    //
    // Measured warm floor ~3 s at sf0.1 (local[32]): the funnel alone is
    // ~1.4 s (q_corpus_funnel), and the export adds the paragraph rewrite,
    // the checkpoint populate, the gzip-JSONL write AND its FAILFAST parse
    // read-back — serializing/parsing every curated text twice is the
    // contract being tested, not overhead. The invariant joins were dieted
    // to (id, len)-projected shuffles and raising export shards 4→16
    // removed the serialization core-cap; neither moved the floor, so the
    // remaining cost is the round trip itself. Inherently the suite's
    // largest composed query.
    // Measured floor ~3.5 s warm at sf0.1 (the suite's flagship composed
    // query, by design its biggest): full curation funnel (quality + langid
    // + exact + near-dup + paragraph segment-dedup, one checkpointed
    // materialization) + 16-shard gzip JSONL WRITE + gzip read-back PARSE +
    // the (id,len)-projected invariant joins. The gzip serialize/parse legs
    // alone are ~2 s of pure CPU at this corpus size and are the thing
    // being contracted (a real export pays them too); the invariant pass
    // was already dieted to id/len projections keyed on the read-back.
    // r9 re-isolation (the r8 drift to 4.15 s): the growth was the
    // near-dup stage re-running tokenize+shingle+minhash once per probe
    // leg — Dedup.incrementalNearDup now lazily checkpoints the batch
    // signatures and band rows, which pulled q_corpus_funnel 1.74→1.17 s
    // and this query back to ~3.7 s warm in a session otherwise running
    // ~15% slower than the r8 recording; the gzip legs dominate again.
    Query("q_corpus_export", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val out  = System.getProperty("java.io.tmpdir") + "/graft_corpus_export"
      // 16 shards: gzip JSON serialization is the export's CPU wall — at 4
      // shards it ran on 4 of 32 cores (and the read-back parse on 4 files)
      val (curated, r) = graft.pipeline.CorpusPipeline.curate(docs,
        minQuality = 0.0, allowedLangs = Seq("en", "es", "fr", "de", "zh", "und"),
        segmentDedup = true, jsonlPath = Some(out), jsonlShards = 16)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val back = graft.sinks.CorpusJsonl.read(s, out, schema)
      // One combined invariant pass KEYED ON THE READ-BACK side. Lengths
      // are projected BEFORE the joins so the id-shuffles carry 16-byte
      // (id, len) rows, not kilobyte texts (the former full-outer join
      // shuffled both corpora's full text; its docs-only rows contributed
      // nothing to any aggregate). Both joins share the doc_id key, and
      // `curated` reads its checkpoint blocks — the funnel is not re-run.
      val inv = back.select(col("doc_id"), length(col("text")).alias("back_len"))
        .join(docs.select(col("doc_id"), length(col("text")).alias("orig_len")),
          Seq("doc_id"), "left")
        .join(curated.select(col("doc_id"), lit(true).alias("in_curated")),
          Seq("doc_id"), "left")
        .agg(
          count(lit(1)).alias("n_back"),
          coalesce(sum(when(col("in_curated").isNull, 1L)), lit(0L)).alias("n_orphan"),
          coalesce(sum(when(col("back_len") > col("orig_len"), 1L)), lit(0L))
            .alias("n_grown"))
        .head()
      Seq((r.input, r.afterExactDedup,
          inv.getLong(0) == r.afterNearDup, // every survivor exported, no extras
          inv.getLong(1) == 0L,             // every exported id is a curated id
          inv.getLong(2) == 0L))            // paragraph rewrite never grew a doc
        .toDF("input", "after_exact", "export_count_ok", "ids_roundtrip_ok",
          "rewrite_monotone")
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS input,
        |       CAST(COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS after_exact,
        |       CAST(1 AS BOOLEAN) AS export_count_ok,
        |       CAST(1 AS BOOLEAN) AS ids_roundtrip_ok,
        |       CAST(1 AS BOOLEAN) AS rewrite_monotone
        |FROM documents""".stripMargin, lifecycle = true),

    // Int8 scalar quantization (operators/Similarity.scala scalarQuantize):
    // per-dimension [min,max] trained in one posexplode pass, codes via a
    // broadcast-literal projection — the 4× embedding storage cut. Every
    // vector's full 64-code row is value-checked via an md5 digest + code
    // sum against the DuckDB replay of the identical range/round math.
    Query("q_embedding_sq8", (s, dir) => {
      val (encoded, _, _) = Similarity.scalarQuantize(
        t(s, dir, "embeddings"), "vec_id")
      encoded.select(col("vec_id"),
          md5(concat_ws(",", transform(col("codes"), c => c.cast("string"))))
            .alias("codes_md5"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).alias("codes_sum"))
        .orderBy("vec_id")
    },
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |flat AS (
        |  SELECT generate_subscripts(embedding, 1) AS pos,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS v
        |  FROM e),
        |rng AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM flat GROUP BY pos),
        |arrs AS (SELECT list(mn ORDER BY pos) AS mns,
        |                list(mx ORDER BY pos) AS mxs FROM rng),
        |codes AS (
        |  SELECT e.vec_id,
        |    list_transform(range(64), i ->
        |      CASE WHEN a.mxs[i+1] = a.mns[i+1] THEN 0
        |        ELSE CAST(round((CAST(e.embedding[i+1] AS DOUBLE) - a.mns[i+1])
        |               * 255.0 / (a.mxs[i+1] - a.mns[i+1])) AS INT) END) AS c
        |  FROM e, arrs a)
        |SELECT vec_id, md5(array_to_string(c, ',')) AS codes_md5,
        |       CAST(list_sum(c) AS BIGINT) AS codes_sum
        |FROM codes ORDER BY vec_id""".stripMargin),

    // ---- binary (1-bit) quantization — 32× embedding storage cut --------
    // End-to-end packing check: the operator emits dim/64 packed longs; the
    // query unpacks them back to the LSB-first bit string (reverse(lpad(
    // bin(word)))) and the oracle rebuilds the same string from raw
    // per-dimension comparisons — a hash match proves the two's-complement
    // packing arithmetic, not just the comparisons.
    Query("q_embedding_binary", (s, dir) => {
      val (coded, _) = Similarity.binaryQuantize(
        t(s, dir, "embeddings"), "vec_id")
      coded.select(col("vec_id"),
          md5(concat_ws("", transform(col("code"),
            w => reverse(lpad(bin(w), 64, "0"))))).alias("bits_md5"),
          aggregate(col("code"), lit(0L),
            (a, w) => a + bit_count(w).cast("long")).alias("popcount"))
        .orderBy("vec_id")
    },
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |flat AS (
        |  SELECT generate_subscripts(embedding, 1) AS pos,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS v
        |  FROM e),
        |m AS (SELECT pos,
        |        CAST(sum(CAST(CAST(v AS DECIMAL(25,7)) AS DECIMAL(38,7)))
        |             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
        |      FROM flat GROUP BY pos),
        |arrs AS (SELECT list(mean ORDER BY pos) AS means FROM m),
        |bits AS (
        |  SELECT e.vec_id,
        |    list_transform(range(64), i ->
        |      CASE WHEN CAST(e.embedding[i+1] AS DOUBLE) > a.means[i+1]
        |           THEN '1' ELSE '0' END) AS b
        |  FROM e, arrs a)
        |SELECT vec_id, md5(array_to_string(b, '')) AS bits_md5,
        |  CAST(len(list_filter(b, x -> x = '1')) AS BIGINT) AS popcount
        |FROM bits ORDER BY vec_id""".stripMargin),

    // Hamming-shortlist + exact-rerank ANN over the packed codes: same
    // planted-copy recall contract as the other ANN paths — an identical
    // planted vector has Hamming 0, survives any shortlist, and lands at
    // rank 1 after the exact cosine rescore.
    Query("q_ann_binary", (s, dir) => {
      val emb     = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val planted = queries.withColumn("vec_id", col("vec_id") + 1000000L)
      Similarity.binaryTopK(emb.unionByName(planted), queries, "vec_id", "embedding",
          k = 5, dim = 64, shortlist = 50)
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rank").cast("long").alias("planted_rank"),
          col("hamming"))
        .orderBy("query_id")
    },
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS planted_rank,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),

    // ---- per-label embedding centroids (mean pooling UDAF) -------------
    // Hash-checked values are the ORDER-FREE exact decimal sums; the
    // operator's double centroid is checked against them as a boolean (a
    // raw float mean's last ulp depends on merge order — not hashable).
    Query("q_embedding_centroids", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding", dim = 64)
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "c")))
      val exact = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v").cast("double").cast("decimal(25,7)")).alias("__s"),
          count(lit(1)).alias("n"))
      exact.join(cents, Seq("label", "pos"))
        .select(col("label"), col("pos").cast("long").alias("pos"),
          col("__s").cast("double").alias("sum_v"), col("n"),
          // tolerance floor: the decimal(25,7) per-value rounding alone
          // shifts the derived mean by up to 5e-8
          (abs(col("c") - col("__s").cast("double") / col("n")) < 1e-6)
            .alias("centroid_ok"))
        .orderBy("label", "pos")
    },
      """WITH flat AS (
        |  SELECT label, UNNEST(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos - 1 AS BIGINT) AS pos,
        |       CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(25,7))) AS DOUBLE) AS sum_v,
        |       COUNT(*) AS n, CAST(1 AS BOOLEAN) AS centroid_ok
        |FROM flat GROUP BY label, pos ORDER BY label, pos""".stripMargin),

    // ---- training-epoch export (shuffle → pack → sized ordered files) --
    // Contract row: exported row count (oracle-derived) + read-back
    // invariants (ids preserved, bin sums within budget+straddler, bins
    // contiguous per shard, shard blocks in epoch order).
    Query("q_epoch_export", (s, dir) => {
      import s.implicits._
      val docs   = t(s, dir, "documents")
      val out    = System.getProperty("java.io.tmpdir") + "/graft_epoch_export"
      val budget = 5000L
      val rep = graft.sinks.EpochWriter.writeEpoch(docs, "doc_id", "n_chars",
        out, budget, numShards = 8)
      val back = s.read.parquet(out).withColumn("shard", col("shard").cast("long"))
      // Read-back invariants in TWO jobs (was ~6 sequential actions): one
      // layered aggregation scan derives per-bin stats → per-shard booleans
      // → a bounded numShards-row collect; one global distinct-count checks
      // id preservation. Every layer above the first is tiny (rows-per-bin,
      // then rows-per-shard), so the scan cost is a single pass regardless
      // of corpus size.
      val perShard = back
        .groupBy(col("shard"), col("bin_id"))
        .agg(sum(col("n_chars")).alias("__sum"), max(col("n_chars")).alias("__max"),
          min(col("pos")).alias("__mnp"), max(col("pos")).alias("__mxp"))
        .groupBy(col("shard"))
        .agg(
          coalesce(min(col("__sum") <= lit(budget) + col("__max")), lit(false))
            .alias("budget_s"),
          (countDistinct(col("bin_id")) === max(col("bin_id")) + 1).alias("contig_s"),
          min(col("__mnp")).alias("mn"), max(col("__mxp")).alias("mx"))
        .orderBy(col("shard")).collect() // bounded by numShards
      val budgetOk   = perShard.nonEmpty && perShard.forall(_.getBoolean(1))
      val contiguous = perShard.nonEmpty && perShard.forall(_.getBoolean(2))
      val ordered = perShard.sliding(2).forall {
        case Array(a, b) => a.getLong(4) < b.getLong(3) // prev max pos < next min pos
        case _           => true
      }
      val idsOk = back.agg(countDistinct(col("doc_id"))).head().getLong(0) == rep.rows
      Seq((rep.rows, idsOk, budgetOk, contiguous, ordered))
        .toDF("n_rows", "ids_ok", "budget_ok", "bins_contiguous", "shards_ordered")
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(1 AS BOOLEAN) AS ids_ok, CAST(1 AS BOOLEAN) AS budget_ok,
        |       CAST(1 AS BOOLEAN) AS bins_contiguous,
        |       CAST(1 AS BOOLEAN) AS shards_ordered
        |FROM documents""".stripMargin, lifecycle = true),

    // ---- temperature-scaled source mixing (w ∝ n^alpha) ----------------
    // Contract: per-source kept counts within tolerance of the
    // temperature-derived targets, never upsampled.
    Query("q_mix_temperature", (s, dir) => {
      val docs  = t(s, dir, "documents")
      val alpha = 0.5
      val avail = docs.groupBy(col("source")).agg(count(lit(1)).alias("n_avail"))
        .withColumn("__w", pow(col("n_avail").cast("double"), alpha))
      val mixed = TextAnalysis.mixSourcesTemperature(docs, "source", alpha)
        .groupBy(col("source")).agg(count(lit(1)).alias("__n"))
      mixed.join(avail, Seq("source"))
        .crossJoin(broadcast(avail.agg(sum(col("__w")).alias("__wsum"))))
        .crossJoin(broadcast(mixed.agg(sum(col("__n")).alias("__total"))))
        .select(col("source"),
          (col("__n") <= col("n_avail")).alias("no_upsample"),
          (abs(col("__n") / col("__total") - col("__w") / col("__wsum")) < 0.12)
            .alias("ratio_ok"))
        .orderBy("source")
    },
      """SELECT source, CAST(1 AS BOOLEAN) AS no_upsample,
        |       CAST(1 AS BOOLEAN) AS ratio_ok
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- incremental dedup: new batch vs historical fingerprint index --
    // md5 is bit-identical across engines, so the whole accept/reject
    // decision is hash-checkable, not just row counts.
    Query("q_dedup_incremental", (s, dir) => {
      val docs  = t(s, dir, "documents")
      val index = docs.filter(pmod(col("doc_id"), lit(10)) < 3)
        .select(md5(coalesce(lower(trim(col("text"))), lit(""))).alias("fp"))
        .distinct()
      graft.operators.Dedup.incremental(docs, index, "doc_id")
        .accepted.select(col("doc_id")).orderBy("doc_id")
    },
      """WITH fp AS (SELECT doc_id, md5(lower(trim(COALESCE(text, '')))) AS fp
        |            FROM documents),
        |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 < 3),
        |keepmin AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp)
        |SELECT k.doc_id FROM keepmin k
        |WHERE k.fp NOT IN (SELECT fp FROM idx)
        |ORDER BY doc_id""".stripMargin, lifecycle = true),

    // Incremental NEAR-dup vs a persisted signature index: paraphrased
    // twins of indexed content (2 appended tokens) must all be rejected
    // without any historical text being rescanned.
    Query("q_dedup_incremental_neardup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // typedLit, not array().cast("array<int>"): the DDL cast's type is
      // array<int> containsNull=TRUE while the fresh leg's minhash arrays
      // are containsNull=false — the union widened to true at analysis,
      // the optimizer's empty-relation propagation narrowed back to false,
      // and localCheckpoint logged that as a LogicalRDD output mismatch
      val emptyIdx = docs.limit(0).select(col("doc_id").alias("id"),
        typedLit(Array.empty[Int]).alias("sig"))
      // Plant twins only on docs ≥ 12 tokens: a twin's true Jaccard is then
      // ≥ (n−2)/n ≈ 0.83, far above the 0.6 estimate threshold even with
      // the 64-hash estimator's σ ≈ 0.06 — the contract can't flake if the
      // synthetic corpus is regenerated with short docs.
      val indexed = docs.filter(pmod(col("doc_id"), lit(10)) < 3 &&
        col("text").isNotNull &&
        size(split(trim(lower(col("text"))), "\\s+")) >= 12)
      // Delivery 1's compacted index is MATERIALIZED once per run (eager
      // lineage cut on a ~30%-of-corpus frame of 16-byte-signature rows).
      // The probe references the index twice (band derivation + signature
      // compare), so probing the raw updatedIndex lineage re-derived
      // delivery 1's whole DAG — minhash + LSH self-join — per reference;
      // the disk layout ([[Dedup.persistNearDupIndex]], exercised by
      // StreamingSpec/CorpusDagSpec) is the cross-delivery equivalent.
      // Rename-across-the-checkpoint pins the checkpointed frame's output
      // exprIds: updatedIndex is union(limit-0 seed, fresh leg) and the
      // optimizer's empty-relation propagation swaps the union's output
      // ids for the surviving leg's — harmless, but localCheckpoint logged
      // it as a LogicalRDD output mismatch every run. A renaming alias
      // can't be stripped (the schema would change), so logical and
      // optimized agree; the post-checkpoint rename restores (id, sig).
      // Values unchanged — a pure lineage-shape pin.
      val index = graft.operators.Dedup
        .incrementalNearDup(indexed, emptyIdx, "doc_id").updatedIndex
        .select(col("id").alias("__ckpt_id"), col("sig").alias("__ckpt_sig"))
        .localCheckpoint()
        .select(col("__ckpt_id").alias("id"), col("__ckpt_sig").alias("sig"))
      val twins = indexed.select((col("doc_id") + 2000000L).alias("doc_id"),
        concat(col("text"), lit(" xq zv")).alias("text"))
      val novel = docs.filter(pmod(col("doc_id"), lit(10)) >= 3)
      val r = graft.operators.Dedup
        .incrementalNearDup(novel.unionByName(twins), index, "doc_id")
      val acceptedTwins = r.accepted.filter(col("doc_id") >= 2000000L)
        .agg(count(lit(1)).alias("__n_acc"))
      twins.agg(count(lit(1)).alias("n_twins"))
        .crossJoin(broadcast(acceptedTwins))
        .select(col("n_twins"),
          (col("n_twins") - col("__n_acc")).alias("n_twins_rejected"),
          (col("__n_acc") === 0L).alias("recall_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_twins,
        |       CAST(COUNT(*) AS BIGINT) AS n_twins_rejected,
        |       CAST(1 AS BOOLEAN) AS recall_ok
        |FROM documents WHERE doc_id % 10 < 3 AND text IS NOT NULL
        |  AND len(list_filter(string_split_regex(lower(trim(text)), '[\s\x0b]+'),
        |        x -> length(x) > 0)) >= 12""".stripMargin, lifecycle = true),

    // Bloom-prefiltered incremental dedup: same exact semantics as
    // q_dedup_incremental (the oracle is the plain anti-join), but novel
    // rows skip the index shuffle — the filter only routes, never decides.
    Query("q_dedup_incremental_bloom", (s, dir) => {
      val docs  = t(s, dir, "documents")
      val index = docs.filter(pmod(col("doc_id"), lit(10)) < 5)
        .select(md5(coalesce(lower(trim(col("text"))), lit(""))).alias("fp"))
        .distinct()
      graft.operators.Dedup.incrementalBloom(docs, index, "doc_id",
          expectedItems = 1L << 16)
        .accepted.select(col("doc_id")).orderBy("doc_id")
    },
    // The Bloom prefilter is routing-only: the oracle is the identical
    // exact anti-join, just over the % 10 < 5 planted index.
      """WITH fp AS (SELECT doc_id, md5(lower(trim(COALESCE(text, '')))) AS fp
        |            FROM documents),
        |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 < 5),
        |keepmin AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp)
        |SELECT k.doc_id FROM keepmin k
        |WHERE k.fp NOT IN (SELECT fp FROM idx)
        |ORDER BY doc_id""".stripMargin, lifecycle = true),

    // ---- deterministic global shuffle (training-epoch order) -----------
    // The full 500-row permutation is hash-compared position by position:
    // md5-keyed total order is engine-independent.
    Query("q_global_shuffle", (s, dir) =>
      graft.operators.Splits.deterministicShuffle(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 42)
        .select(col("pos"), col("doc_id")).orderBy("pos"),
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)))
        |         AS BIGINT) - 1 AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin),

    // ---- per-language quantile quality filter --------------------------
    // exact=true pairs Spark's percentile (linear interpolation) with
    // DuckDB quantile_cont; the operator's default is the approx sketch.
    Query("q_quality_filter", (s, dir) =>
      graft.operators.TextAnalysis.quantileQualityFilter(
          t(s, dir, "documents"), "lang", "n_chars", p = 0.25, exact = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).alias("n_kept"), min(col("n_chars")).alias("min_chars"))
        .orderBy("lang"),
      """WITH thr AS (SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS t
        |             FROM documents GROUP BY lang)
        |SELECT d.lang, COUNT(*) AS n_kept, CAST(MIN(d.n_chars) AS BIGINT) AS min_chars
        |FROM documents d JOIN thr USING (lang)
        |WHERE CAST(d.n_chars AS DOUBLE) >= thr.t
        |GROUP BY d.lang ORDER BY lang""".stripMargin),

    // ---- URL domain extraction + per-domain stats ----------------------
    // URLs planted deterministically (the synthetic texts carry none); the
    // capture pattern is Java∩RE2 so DuckDB runs the same pattern text.
    Query("q_url_domains", (s, dir) =>
      graft.operators.WebCuration.domainStats(
          plantUrls(t(s, dir, "documents")), "doc_id", "text2")
        .orderBy("domain"),
      """WITH d AS (SELECT doc_id, text || ' see https://' ||
        |    CASE doc_id % 3 WHEN 0 THEN 'alpha.com' WHEN 1 THEN 'sub.evil.com'
        |         ELSE 'evil.com' END || '/page' AS t2 FROM documents),
        |doms AS (SELECT doc_id,
        |    regexp_replace(lower(UNNEST(regexp_extract_all(t2, 'https?://([^\s<>"''/]+)', 1))),
        |                   '[.,;:!?)\]]+$', '') AS domain
        |  FROM d)
        |SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       COUNT(*) AS n_urls
        |FROM doms WHERE domain <> '' GROUP BY domain ORDER BY domain""".stripMargin),

    // ---- URL canonicalization: variants of one page collapse to one key.
    // Five deterministic per-doc variants (case, default port, fragment,
    // tracking params, trailing slash); the oracle replays the identical
    // Java∩RE2 regex chain, so the canonical STRINGS are value-checked.
    Query("q_url_canonical", (s, dir) => {
      val m = col("doc_id") % 5
      val raw = t(s, dir, "documents").select(
        when(m === 0, lit("https://Example.com:443/a/?utm_source=x&id=7#frag"))
          .when(m === 1, lit("https://example.com/a?id=7"))
          .when(m === 2, lit("http://example.com:80/a/"))
          .when(m === 3, lit("http://example.com/a"))
          .otherwise(lit("https://example.com/a?utm_a=1&utm_b=2&id=7"))
          .alias("url"))
      raw.select(graft.operators.WebCuration.canonicalizeUrl(col("url")).alias("curl"))
        .groupBy(col("curl")).agg(count(lit(1)).alias("n"))
        .orderBy("curl")
    },
      """WITH raw AS (
        |  SELECT CASE doc_id % 5
        |    WHEN 0 THEN 'https://Example.com:443/a/?utm_source=x&id=7#frag'
        |    WHEN 1 THEN 'https://example.com/a?id=7'
        |    WHEN 2 THEN 'http://example.com:80/a/'
        |    WHEN 3 THEN 'http://example.com/a'
        |    ELSE 'https://example.com/a?utm_a=1&utm_b=2&id=7' END AS url
        |  FROM documents),
        |c1 AS (SELECT regexp_replace(url, '#.*', '') AS u FROM raw),
        |c2 AS (SELECT lower(regexp_extract(u, '^(https?://[^/?#]+)', 1)) ||
        |              regexp_replace(u, '^https?://[^/?#]+', '') AS u FROM c1),
        |c3 AS (SELECT regexp_replace(regexp_replace(u,
        |         '^(http://[^:/?#]+):80($|[/?].*)', '\1\2'),
        |         '^(https://[^:/?#]+):443($|[/?].*)', '\1\2') AS u FROM c2),
        |c4 AS (SELECT regexp_replace(regexp_replace(u,
        |         '(utm_[a-z0-9_]*|gclid|fbclid)=[^&#]*&', '', 'g'),
        |         '[?&](utm_[a-z0-9_]*|gclid|fbclid)=[^&#]*$', '') AS u FROM c3),
        |c5 AS (SELECT regexp_replace(regexp_replace(u, '\?&', '?'), '[?&]+$', '') AS u FROM c4),
        |c6 AS (SELECT regexp_replace(u, '/+$', '') AS curl FROM c5)
        |SELECT curl, COUNT(*) AS n FROM c6 GROUP BY curl ORDER BY curl""".stripMargin),

    // ---- blocklist curation: evil.com blocks its subdomains too --------
    Query("q_domain_blocklist", (s, dir) => {
      import s.implicits._
      graft.operators.WebCuration.blocklistFilter(
          plantUrls(t(s, dir, "documents")),
          Seq("evil.com").toDF("domain"), "doc_id", "text2")
        .agg(count(lit(1)).alias("n_kept"), min(col("doc_id")).alias("min_id"))
    },
      """WITH d AS (SELECT doc_id, text || ' see https://' ||
        |    CASE doc_id % 3 WHEN 0 THEN 'alpha.com' WHEN 1 THEN 'sub.evil.com'
        |         ELSE 'evil.com' END || '/page' AS t2 FROM documents),
        |doms AS (SELECT doc_id,
        |    regexp_replace(lower(UNNEST(regexp_extract_all(t2, 'https?://([^\s<>"''/]+)', 1))),
        |                   '[.,;:!?)\]]+$', '') AS domain
        |  FROM d),
        |blocked AS (SELECT DISTINCT doc_id FROM doms
        |            WHERE domain = 'evil.com' OR domain LIKE '%.evil.com')
        |SELECT COUNT(*) AS n_kept, MIN(doc_id) AS min_id
        |FROM d WHERE doc_id NOT IN (SELECT doc_id FROM blocked)""".stripMargin),

    // ---- corpus-frequent n-gram boilerplate detection ------------------
    Query("q_boilerplate", (s, dir) =>
      graft.operators.PassageDedup.boilerplateStats(
          t(s, dir, "documents"), "doc_id", "text", n = 3, minDf = 4, maxFrac = 0.2)
        .select(col("doc_id"), col("n_grams"), col("n_frequent"),
          round(col("frequent_frac"), 6).alias("frequent_frac"), col("boilerplate"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '[\s\x0b]+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
        |    ELSE [] END) AS gs
        |  FROM toks),
        |exploded AS (SELECT doc_id, UNNEST(gs) AS g FROM grams),
        |dfreq AS (SELECT g, COUNT(*) AS df FROM exploded GROUP BY g),
        |per_doc AS (
        |  SELECT e.doc_id, COUNT(*) AS n_grams,
        |         SUM(CASE WHEN d.df >= 4 THEN 1 ELSE 0 END) AS n_frequent
        |  FROM exploded e JOIN dfreq d USING (g) GROUP BY e.doc_id)
        |SELECT g2.doc_id,
        |       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(p.n_frequent, 0) AS BIGINT) AS n_frequent,
        |       ROUND(COALESCE(p.n_frequent / CAST(p.n_grams AS DOUBLE), 0.0), 6)
        |         AS frequent_frac,
        |       COALESCE(p.n_grams, 0) > 0
        |         AND COALESCE(p.n_frequent / CAST(p.n_grams AS DOUBLE), 0.0) >= 0.2
        |         AS boilerplate
        |FROM grams g2 LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ================= north-star: multimodal ===========================
    // Binary-hygiene pass over document payloads UNIONED with planted WebM
    // fixtures decoded through the REAL EBML walk: the (width, height,
    // duration_ms) grid — and the fixed 58-byte fixture size — must
    // round-trip exactly; the oracle re-derives the grid in SQL.
    Query("q_multimodal_meta", (s, dir) => {
      import graft.operators.Multimodal
      val vids = (0L until 40L).map { i =>
        Multimodal.MediaRow(i, "video", s"video/$i",
          Multimodal.syntheticWebm(
            width = 320 + (i % 4).toInt * 80,
            height = 180 + (i % 3).toInt * 60,
            durMs = 1000L * (i + 1)))
      }
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      val vmeta = Multimodal.decode(s.createDataset(vids))
        .select(col("media_id").alias("doc_id"), lit("video").alias("kind"),
          col("byte_len"), lit("").alias("sha"),
          col("width"), col("height"), col("duration_ms"))
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"), lit("doc").alias("kind"),
          length(col("payload")).cast("long").alias("byte_len"),
          sha2(col("payload"), 256).alias("sha"),
          lit(0).alias("width"), lit(0).alias("height"),
          lit(0L).alias("duration_ms"))
        .unionByName(vmeta)
        .orderBy("kind", "doc_id")
    },
      """SELECT doc_id, 'doc' AS kind,
        |       CAST(OCTET_LENGTH(encode(text)) AS BIGINT) AS byte_len,
        |       sha256(text) AS sha,
        |       CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
        |       CAST(0 AS BIGINT) AS duration_ms
        |FROM documents
        |UNION ALL
        |SELECT i AS doc_id, 'video' AS kind, CAST(58 AS BIGINT) AS byte_len,
        |       '' AS sha,
        |       CAST(320 + (i % 4) * 80 AS INTEGER) AS width,
        |       CAST(180 + (i % 3) * 60 AS INTEGER) AS height,
        |       CAST(1000 * (i + 1) AS BIGINT) AS duration_ms
        |FROM (SELECT UNNEST(generate_series(0, 39)) AS i)
        |ORDER BY kind, doc_id""".stripMargin),

    // Audio metadata via the REAL WAV/RIFF header parse: planted PCM-16
    // fixtures with a known (rate, channels, frames) grid must round-trip
    // exactly; the oracle is the same arithmetic in SQL.
    Query("q_audio_meta", (s, dir) => {
      import graft.operators.Multimodal
      val rows = (0L until 50L).map { i =>
        val rate   = Seq(8000, 16000, 44100)((i % 3).toInt)
        val ch     = 1 + (i % 2).toInt
        val frames = 800 * (i.toInt + 1)
        Multimodal.MediaRow(i, "audio", s"audio/$i",
          Multimodal.syntheticWav(i, rate, ch, frames))
      }
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.decode(s.createDataset(rows))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("duration_ms"), col("byte_len"))
        .orderBy("media_id")
    },
      """WITH g AS (SELECT UNNEST(generate_series(0, 49)) AS i),
        |p AS (SELECT i,
        |    CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
        |    1 + i % 2 AS ch, 800 * (i + 1) AS frames FROM g)
        |SELECT i AS media_id,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(ch AS INTEGER) AS channels,
        |  CAST((frames * 1000) // rate AS BIGINT) AS duration_ms,
        |  CAST(44 + frames * ch * 2 AS BIGINT) AS byte_len
        |FROM p ORDER BY media_id""".stripMargin),

    // Video container metadata via the REAL AVI RIFF header parse: planted
    // MJPEG fixtures with a known (dims, frames, frame-interval) grid must
    // round-trip exactly (duration_ms = frames · µs-per-frame / 1000); the
    // oracle is the same arithmetic in SQL.
    Query("q_video_meta", (s, dir) => {
      import graft.operators.Multimodal
      val rows = (0L until 12L).map { i =>
        Multimodal.MediaRow(i, "video", s"video/$i.avi",
          Multimodal.syntheticAvi(
            width = 96 + 16 * (i % 3).toInt,
            height = 64 + 8 * (i % 2).toInt,
            frames = 2 + (i % 4).toInt,
            usPerFrame = 20000L * (1 + (i % 3))))
      }
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.decode(s.createDataset(rows))
        .select(col("media_id"), col("width"), col("height"), col("duration_ms"))
        .orderBy("media_id")
    },
      """SELECT i AS media_id,
        |  CAST(96 + 16 * (i % 3) AS INTEGER) AS width,
        |  CAST(64 + 8 * (i % 2) AS INTEGER) AS height,
        |  CAST((2 + i % 4) * 20 * (1 + i % 3) AS BIGINT) AS duration_ms
        |FROM (SELECT UNNEST(generate_series(0, 11)) AS i)
        |ORDER BY media_id""".stripMargin),

    // Real video *pixel* decode: every MJPEG frame of a planted AVI grid is
    // decoded by ImageIO inside videoFrames; even frames are solid mid-gray
    // (dHash exactly 0) and odd frames a left-to-right luminance ramp
    // (dHash exactly -1 — all 64 gradient bits survive JPEG quantization),
    // so frame index, timing, dims AND the perceptual hash of decoded
    // pixels are pure arithmetic the oracle rebuilds.
    Query("q_video_frames", (s, dir) => {
      import graft.operators.Multimodal
      val rows = (0L until 12L).map { i =>
        Multimodal.MediaRow(i, "video", s"video/$i.avi",
          Multimodal.syntheticAvi(width = 72, height = 64,
            frames = 2 + (i % 4).toInt,
            usPerFrame = 20000L * (1 + (i % 3))))
      }
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.videoFrames(s.createDataset(rows))
        .orderBy("media_id", "frame_idx")
    },
      """WITH m AS (SELECT UNNEST(generate_series(0, 11)) AS i),
        |f AS (SELECT i, UNNEST(generate_series(0, 1 + i % 4)) AS j FROM m)
        |SELECT i AS media_id, CAST(j AS BIGINT) AS frame_idx,
        |  CAST(j * 20 * (1 + i % 3) AS BIGINT) AS frame_ms,
        |  CAST(72 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
        |  CAST(CASE WHEN j % 2 = 0 THEN 0 ELSE -1 END AS BIGINT) AS dhash
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),

    // Audio-level near-dup via a 64-bit energy-envelope fingerprint over
    // REAL PCM decode (RIFF data chunk → mono mix → 65-window mean
    // |amplitude| → gradient bits): amplitude-halved twins — the uniform
    // gain change a fingerprint must shrug off — must pair with their
    // originals, and nothing else; the oracle is the literal planted list.
    Query("q_audio_neardup", (s, dir) => {
      import graft.operators.Multimodal
      def wav(i: Long) = Multimodal.syntheticWav(
        i, 16000, 1 + (i % 2).toInt, 6000 + 400 * i.toInt)
      val rows = (0L until 10L).map(i =>
        Multimodal.MediaRow(i, "audio", s"a/$i", wav(i))) ++
        (0L until 5L).map(i => Multimodal.MediaRow(100L + i, "audio",
          s"a/twin$i", Multimodal.halveWavAmplitude(wav(i))))
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.nearDupAudioPairs(s.createDataset(rows))
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    },
      """SELECT CAST(a AS BIGINT) AS id_a, CAST(100 + a AS BIGINT) AS id_b
        |FROM (SELECT UNNEST(generate_series(0, 4)) AS a)
        |ORDER BY id_a, id_b""".stripMargin),

    // Video-level near-dup via shared frame content (REAL MJPEG pixel
    // decode → per-frame dHash → band equi-join, the video twin of
    // q_image_neardup): the planted full twin (4 shared frames) and the
    // planted partial copy (2 of 4) — and nothing else — must come back;
    // the oracle is the literal planted-pair list.
    Query("q_video_neardup", (s, dir) => {
      import graft.operators.Multimodal
      def noiseAvi(seeds: Seq[Long]): Array[Byte] =
        Multimodal.syntheticAviFrom(64, 64, 40000L,
          seeds.map(Multimodal.syntheticJpegNoise))
      val rows = (0L until 8L).map(i =>
        Multimodal.MediaRow(i, "video", s"v/$i",
          noiseAvi((0 until 4).map(j => 1000L * i + j)))) ++ Seq(
        Multimodal.MediaRow(100L, "video", "twin-of-0",
          noiseAvi(Seq(0L, 1L, 2L, 3L))),
        Multimodal.MediaRow(101L, "video", "half-of-1",
          noiseAvi(Seq(1000L, 1001L, 99998L, 99999L))))
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.nearDupVideoPairs(s.createDataset(rows), minSharedFrames = 2)
        .orderBy("id_a", "id_b")
    },
      """SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b,
        |       CAST(n AS BIGINT) AS shared_frames
        |FROM (VALUES (0, 100, 4), (1, 101, 2)) t(a, b, n)
        |ORDER BY id_a, id_b""".stripMargin),

    // Per-label embedding dispersion via the O(n·d) sum-vector identity
    // (no pairwise join): every mean cosine value-checked.
    Query("q_embedding_spread", (s, dir) =>
      graft.operators.Similarity.labelCosineSpread(t(s, dir, "embeddings"))
        .select(col("label"), col("n"),
          round(col("mean_cos"), 6).alias("mean_cos"))
        .orderBy("label"),
      """WITH valid AS (
        |  SELECT label, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
        |u AS (SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * y)))) AS uv
        |  FROM valid),
        |flat AS (SELECT label, UNNEST(uv) AS val,
        |    generate_subscripts(uv, 1) AS pos FROM u),
        |s AS (SELECT label, pos, SUM(val) AS sv FROM flat GROUP BY label, pos),
        |agg AS (SELECT label, SUM(sv * sv) AS s2 FROM s GROUP BY label),
        |n AS (SELECT label, count(*) AS n FROM valid GROUP BY label)
        |SELECT n.label, CAST(n.n AS BIGINT) AS n,
        |  round((agg.s2 - n.n) / (n.n * (n.n - 1.0)), 6) AS mean_cos
        |FROM n JOIN agg USING (label) WHERE n.n >= 2 ORDER BY n.label""".stripMargin),

    // Distributed Lloyd's k-means (operators/Clustering.scala): 4 planted
    // clusters — every embedding shifted by 60·g in each dim, g = vec_id
    // mod 4 — must be recovered EXACTLY. Init row g is the vector of
    // vec_id = g (planted group g), so with inter-cluster separation
    // 60·√64 = 480 ≫ intra-cluster spread, iteration 1 already assigns
    // cluster == planted group deterministically; the checkable contract
    // is per-group purity plus monotone Lloyd's descent.
    Query("q_kmeans_recover", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("__g", pmod(col("vec_id"), lit(4)))
        .withColumn("__pv", transform(col("embedding"),
          x => x + (col("__g") * 60.0).cast("float")))
      val init = graft.operators.Clustering.initFromSmallestIds(
        emb, "__pv", "vec_id", dim = 64, k = 4)
      val m = graft.operators.Clustering.kMeansFit(
        emb, "__pv", dim = 64, k = 4, iters = 3, init)
      val monotone = m.inertia.sliding(2).forall {
        case Seq(a, b) => b <= a + 1e-6
        case _ => true
      }
      graft.operators.Clustering.assign(emb, "__pv", m)
        .groupBy(pmod(col("vec_id"), lit(4)).alias("planted_group"))
        .agg(count(lit(1)).alias("n_members"),
          sum(when(col("cluster") === col("__g"), 1L).otherwise(0L)).alias("__rec"))
        .select(col("planted_group"), col("n_members"),
          (col("__rec") === col("n_members")).alias("recovered"),
          lit(monotone).alias("inertia_monotone"))
        .orderBy("planted_group")
    },
      """SELECT CAST(vec_id % 4 AS BIGINT) AS planted_group,
        |       COUNT(*) AS n_members,
        |       CAST(1 AS BOOLEAN) AS recovered,
        |       CAST(1 AS BOOLEAN) AS inertia_monotone
        |FROM embeddings GROUP BY 1 ORDER BY planted_group""".stripMargin),

    // Cluster-balanced subsampling — the embedding-space counterpart of
    // per-domain capping: k-means clusters are the balancing strata, then
    // the deterministic md5-rank cap keeps ≤ 25 per cluster. Uses the same
    // planted-4-cluster construction as q_kmeans_recover (cluster ==
    // vec_id mod 4 after recovery), so DuckDB replays the cap exactly from
    // the closed-form stratum.
    Query("q_cluster_sample", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("__g", pmod(col("vec_id"), lit(4)))
        .withColumn("__pv", transform(col("embedding"),
          x => x + (col("__g") * 60.0).cast("float")))
      val init = graft.operators.Clustering.initFromSmallestIds(
        emb, "__pv", "vec_id", dim = 64, k = 4)
      val m = graft.operators.Clustering.kMeansFit(
        emb, "__pv", dim = 64, k = 4, iters = 2, init)
      graft.operators.Splits.samplePerGroup(
          graft.operators.Clustering.assign(emb, "__pv", m), "cluster", "vec_id", 25)
        .select(col("vec_id"), col("cluster").cast("long").alias("cluster"))
        .orderBy("vec_id")
    },
      """SELECT vec_id, CAST(vec_id % 4 AS BIGINT) AS cluster FROM (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY vec_id % 4
        |      ORDER BY md5('42:' || CAST(vec_id AS VARCHAR))) AS rk
        |  FROM embeddings) WHERE rk <= 25
        |ORDER BY vec_id""".stripMargin),

    // Image-level near-dup via perceptual dHash (REAL ImageIO decode of
    // deterministic synthetic PNGs): the planted twin pairs — and nothing
    // else — must come back; the oracle is the literal planted-pair list.
    Query("q_image_neardup", (s, dir) => {
      import graft.operators.Multimodal
      val rows = (0L until 20L).map(i =>
        Multimodal.MediaRow(i, "image", s"img/$i", Multimodal.syntheticPng(i))) ++
        (0L until 10L).map(i =>
          Multimodal.MediaRow(1000L + i, "image", s"img/twin$i",
            Multimodal.syntheticPng(i, flipped = true)))
      implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
      Multimodal.nearDupImagePairs(s.createDataset(rows), maxHamming = 7)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    },
      """SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b
        |FROM (VALUES (0, 1000), (1, 1001), (2, 1002), (3, 1003), (4, 1004),
        |             (5, 1005), (6, 1006), (7, 1007), (8, 1008), (9, 1009))
        |  t(a, b)
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q_multimodal_frames", (s, dir) =>
      graft.operators.Multimodal.sampleFrames(
          t(s, dir, "documents")
            .select(col("doc_id").alias("media_id"), lit("video").alias("kind"),
              col("source").alias("uri"), encode(col("text"), "UTF-8").alias("payload"))
            .filter(col("media_id") < 100),
          framesPerItem = 4)
        .select(col("media_id"), col("uri"), col("frame_idx").cast("long").alias("frame_idx"),
          col("frame_offset_ms").cast("long").alias("frame_offset_ms"))
        .orderBy("media_id", "frame_idx"),
      """SELECT d.doc_id AS media_id, d.source AS uri,
        |       CAST(f.frame_idx AS BIGINT) AS frame_idx,
        |       CAST(f.frame_idx * 1000 AS BIGINT) AS frame_offset_ms
        |FROM documents d
        |CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS frame_idx) f
        |WHERE d.doc_id < 100
        |ORDER BY media_id, frame_idx""".stripMargin)
  )
}
