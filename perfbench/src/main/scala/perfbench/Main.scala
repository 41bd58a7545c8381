package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Delivery-replay benchmark, one workload per JVM:
  *
  * {{{
  * perfbench.Main --workload coin_daily|lake_daily --seed N
  *                --seconds S --trace 0|1
  * }}}
  *
  * Run it from the root of a checkout; it works under `.bench_build/`.
  * Set-up (session, input generation, warm-up and base deliveries) is timed as
  * `setup_s`; then one client runs the workload's closed loop, a fixed
  * amount of work sized to take about S seconds on a 4-core box; then the
  * independent correctness check runs. The last line of
  * stdout is the result object; with `--trace 1` it carries the per-layer
  * metrics instead of the end-to-end ones.
  */
object Main {
  /** The end-to-end metrics and their units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "delivery_p50_s" -> "s", "rows_per_s" -> "1/s", "read_p50_ms" -> "ms",
    "read_tail_ms" -> "ms", "space_amp" -> "ratio", "peak_rss_mb" -> "MiB")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = {
    def layer(l: String, counters: Seq[String]) =
      counters.map(c => s"$l.$c" -> Counters.units(c))
    Seq("coin.ingest", "coin.gold", "coin.serve", "coin.gates").flatMap(layer(_, Counters.names)) ++
      Seq("lake.ingest", "lake.deletes", "lake.maintenance", "lake.views", "lake.minmax",
        "lake.audit").flatMap(layer(_, Counters.names)) ++
      Seq("lookup", "range", "full", "asof", "view")
        .flatMap(op => layer(s"reads.$op", Counters.names.filterNot(_ == "bytes_written"))) ++
      Seq("coin.write_amp" -> "ratio", "lake.write_amp" -> "ratio",
        "reads.scan_amp" -> "ratio", "error_rate" -> "ratio")
  }

  val Workloads: Seq[String] = Seq("coin_daily", "lake_daily")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val out = Paths.get(".bench_build").toAbsolutePath
    val ticks0 = Proc.cpuTicks()
    val work = out.resolve("work").resolve(s"$workload-${ProcessHandle.current.pid}")
    Files2.deleteTree(work)
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, work, seed, seconds)
    val w: Workload = workload match {
      case "coin_daily" => new CoinDaily(ctx)
      case "lake_daily" => new LakeDaily(ctx)
    }
    val genS = w.generate()
    val t0 = System.nanoTime()
    w.prepare()
    val setupS = sessionS + genS + (System.nanoTime() - t0) / 1e9

    w.measure()
    tracer.finish()
    w.check()
    val spaceAmp = w.spaceAmp()

    val sum = w.deliveries.map(_._1).sum
    val (tail, tailPct, tailN) = Stats.tail(w.reads.toSeq)
    val e2e = Seq(
      "setup_s" -> setupS,
      "delivery_p50_s" -> Stats.median(w.deliveries.map(_._1).toSeq),
      "rows_per_s" -> w.deliveries.map(_._2).sum / sum,
      "read_p50_ms" -> Stats.median(w.reads.toSeq),
      "read_tail_ms" -> tail,
      "space_amp" -> spaceAmp,
      "peak_rss_mb" -> Proc.peakRssMb())
    val errorRate = w.failed.toDouble / math.max(1, w.attempted)
    val results = out.resolve("results")
    Files.createDirectories(results)
    val lastE2e = results.resolve(s"$workload-e2e.tsv")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Files.write(lastE2e, e2e.map { case (k, v) => s"$k\t${Fmt.num(v)}" }.asJava)
        e2e.map { case (k, v) => (k, v, EndToEnd.toMap.apply(k)) }
      } else {
        val have = (w.layerMetrics() :+ ("error_rate" -> errorRate)).toMap
        PerLayer.map { case (k, unit) => (k, have.getOrElse(k, 0.0), unit) }
      }

    val traceFile = results.resolve(s"$workload-seed$seed-spans.jsonl")
    if (trace) tracer.write(traceFile)
    // tracing overhead: this traced run's end-to-end figures minus those
    // of the newest untraced run of the same workload in this checkout
    val overhead: Seq[(String, String)] =
      if (!trace || !Files.exists(lastE2e)) Nil
      else {
        val base = Files.readAllLines(lastE2e).asScala.map(_.split("\t")).map(a => a(0) -> a(1).toDouble).toMap
        e2e.collect { case (k, v) if base.contains(k) => k -> Fmt.num(v - base(k)) }
      }
    val detail = Fmt.obj(Seq(
      "workload" -> Fmt.str(workload), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"), "cpus" -> cpus.toString,
      "default_locale" -> Fmt.str(java.util.Locale.getDefault.toString),
      "session_s" -> Fmt.num(sessionS), "generate_s_median" -> Fmt.num(genS),
      "deliveries" -> w.deliveries.size.toString,
      "delivery_s" -> w.deliveries.map(d => Fmt.num(d._1)).mkString("[", ", ", "]"),
      "reads" -> w.reads.size.toString,
      "read_tail_percentile" -> Fmt.num(tailPct), "read_tail_samples" -> tailN.toString,
      "error_rate" -> Fmt.num(errorRate),
      "host_steal_share" -> Fmt.num(Proc.stealShare(ticks0, Proc.cpuTicks())),
      "problems" -> w.problems.map(Fmt.str).mkString("[", ", ", "]")) ++
      (if (trace) Seq("spans_file" -> Fmt.str(traceFile.toString),
        "tracing_overhead" -> Fmt.obj(overhead)) else Nil))
    Files.write(results.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      Seq(detail).asJava)

    val result = Fmt.obj(Seq(
      "correct" -> (w.problems.isEmpty && w.failed == 0).toString,
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "metrics" -> Fmt.obj(metrics.map { case (k, v, unit) =>
        k -> Fmt.obj(Seq("value" -> Fmt.num(v), "unit" -> Fmt.str(unit)))
      })))
    spark.stop()
    Files2.deleteTree(work)
    println(detail)
    println(result)
    System.out.flush()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      s"${Workloads.mkString("|")} --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }
}
