package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in an oracle's SQL would otherwise make
    * a JSON reader fail and silently zero the whole oracle check.
    */
  private[graft] def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name substrings for fast
    // local iteration on a subset (the driver always runs the full set).
    val queries = SparkEntry.select(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { q =>
      try { q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        Some(q.name)
      }
    }
    val json = queries.map(q => s"${str(q.name)}: ${str(q.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full registry + failure list: without this, a rows-only query (no
    // oracle entry) that THROWS simply has no output dir and vanishes from
    // any listdir-based compare — the gate would report green on a broken
    // query. local_check.py treats registered-but-missing as FAIL.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      queries.map(q => str(q.name)).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.sorted.map(str).mkString("[", ",", "]"))
    spark.stop()
  }
}
