package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registered query at
  * `SPARK_GRAFT_SF_DIR`, printing ONE JSON line AND writing the same JSON to
  * `bench_out.json` (override with `SPARK_GRAFT_BENCH_OUT`) — the stdout line
  * is ~8 KB and has been tail-truncated by log capture before (round 5 lost
  * its head 30 queries); the file artifact survives regardless.
  *
  * Per query: the FIRST run is reported as `value`/`queries` (cold —
  * comparable across rounds and to the recorded baseline); `warm_total`/
  * `queries_warm` report the per-query MEDIAN of the next `warmRuns` (3)
  * runs — steady-state numbers with JIT/classloading/scan-setup amortized
  * and single-run scheduler noise medianed out.
  *
  * Failure contract: a failed query is reported as -1, never folded into
  * either total, AND the process exits nonzero with `"valid":false` in the
  * JSON — a consumer can never mistake a partial total for a speedup.
  *
  * `SPARK_GRAFT_BENCH_FILTER` (comma-separated name substrings) restricts
  * the set for local iteration; the driver runs unfiltered.
  *
  * WORK: the first warm run of each query is profiled by [[QueryProfile]]
  * (the listener bus drains after the timed region). `queries_work` holds
  * its jobs, stages, tasks, task seconds, shuffle/spill/input bytes,
  * `nojob_s` (wall inside no Spark job) and `labels` — `[jobs, job
  * seconds]` per engine phase ([[QueryProfile.phase]]). Those counts are
  * deterministic for a fixed plan, where the wall times are not.
  *
  * TIERS: the JSON reports two per-tier rollups beside the grand totals,
  * by each query's declared `lifecycle` flag in [[SparkEntry.registry]].
  * `lifecycle` queries build or publish PERSISTED multi-delivery state per
  * run — lake-table init+merge+delete chains, on-disk index build/append
  * lifecycles, file exports with read-back contracts — so their cost is
  * dominated by a documented fixed floor of sequential publish jobs (each
  * carries that floor note at its definition), not per-row compute.
  * `parity` is everything else: the pure query/compute surface whose
  * per-query time is comparable to the early-round recordings (those
  * rounds had no lifecycle contracts). One 2× bar over the blended
  * average stopped meaning anything once 50+ lifecycle contracts joined;
  * the tiers keep both signals honest. Each tier also sums its profiled
  * run's `jobs`, `tasks`, `task_s` and `nojob_s`.
  *
  * DRIFT: each query's warm median is compared against the committed
  * same-SF recording (`bench_ref.json`, override with
  * `SPARK_GRAFT_BENCH_REF`); queries past their tier's factor — parity
  * 2.0 (`SPARK_GRAFT_BENCH_DRIFT_FACTOR`), lifecycle 2.5
  * (`SPARK_GRAFT_BENCH_DRIFT_FACTOR_LIFECYCLE`) — are LISTED in `drift`
  * — flagged, not failed (see [[driftOutliers]]). `drift_ref_queries` says how many reference
  * entries were comparable (0 = different SF or no ref file: gate off).
  * Each flag is SELF-ATTRIBUTED: the query is re-run once in isolation
  * after the board and the entry records the rerun plus a verdict —
  * `contention` (rerun back under the threshold: the board run was
  * fighting the box) or `regression` (persists: a plan change to fix).
  *
  * `bench_out.json` is an UNTRACKED run artifact (gitignored); the
  * committed drift reference lives at `bench_ref.json` and is only ever
  * refreshed deliberately under the BASELINE.md box-epoch policy — a
  * driver or local run can never clobber it.
  */
object Bench {

  /** Parse `queries_warm` out of a committed bench recording, but ONLY
    * when its `sf` basename matches the current run's — cross-SF ratios
    * are meaningless. Hand-rolled parse of our own render, like every
    * sidecar in this repo.
    */
  private[graft] def refWarmTimes(refJson: String, sfDir: String): Map[String, Double] = {
    val sameSf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(refJson).exists(m =>
      new java.io.File(m.group(1)).getName == new java.io.File(sfDir).getName)
    if (!sameSf) Map.empty
    else {
      val tag = "\"queries_warm\":{"
      val at = refJson.indexOf(tag)
      if (at < 0) Map.empty
      else {
        val body = refJson.substring(at + tag.length, refJson.indexOf('}', at))
        "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  }

  /** Warm-median regression gate: the (name, warm, ref, ratio) rows whose
    * warm median exceeds `factor` × the committed recording. The bench
    * FLAGS these in a `drift` field rather than failing the run — the
    * documented failure mode is shared-box load inflating totals across
    * identical-code runs, and a flag turns that from narrative into
    * machinery without letting a noisy box fail a correct build.
    *
    * Queries at the millisecond overhead floor are exempt below
    * [[DriftAbsFloorSec]]: a 30 ms query "regressing" to 80 ms is
    * scheduler jitter, not a plan change, and flagging it on clean runs
    * would train readers to ignore the field. A real regression on such
    * a query still surfaces the moment it crosses the floor.
    *
    * When the committed recording itself may be REFRESHED (box epochs
    * move the whole board) is rule-governed: see BASELINE.md
    * "Drift-reference (box-epoch) refresh policy".
    */
  private[graft] val DriftAbsFloorSec = 0.15
  private[graft] def driftOutliers(results: Seq[(String, Double, Double)],
      ref: Map[String, Double],
      factor: Double): Seq[(String, Double, Double, Double)] =
    results.collect {
      case (n, _, w) if w >= DriftAbsFloorSec &&
          ref.get(n).exists(r => r > 0 && w > factor * r) =>
        (n, w, ref(n), w / ref(n))
    }.sortBy(-_._4)

  /** `x` with `digits` decimals under `Locale.ROOT`: a comma-decimal
    * default locale must not turn 0.5 into "0,5" in the JSON line.
    */
  private[graft] def num(x: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val warmRuns = sys.env.get("SPARK_GRAFT_BENCH_WARM_RUNS").map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/classloading/scan machinery so the first timed query
    // doesn't absorb ~4 s of session startup.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    final case class Result(q: SparkEntry.Query, cold: Double, warm: Double,
        work: Option[QueryProfile.Profile])
    val results = SparkEntry.select(sys.env.get("SPARK_GRAFT_BENCH_FILTER")).map { q =>
      val cold = try time(q.run)
        catch { case e: Throwable => System.err.println(s"[bench] ${q.name} failed: $e"); -1.0 }
      val (warm, work) = if (cold < 0) (-1.0, None) else
        try {
          val (first, p) = QueryProfile.measure(spark)(time(q.run))
          (median(first +: (2 to warmRuns).map(_ => time(q.run))), Some(p))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} warm failed: $e"); (-1.0, None) }
      Result(q, cold, warm, work)
    }
    // 6-decimal (µs) rendering halves the two 232-entry maps' bytes vs
    // full double digits — the stdout line has been tail-truncated by log
    // capture twice (rounds 5 and 14); a smaller line truncates less, and
    // µs resolution is far below the board's run-to-run noise. -1
    // failure markers render exactly.
    def timesJson(sel: Result => Double): String =
      results.map(r => s"\"" + r.q.name + "\":" + num(sel(r), 6))
        .mkString("{", ",", "}")
    def workJson(p: QueryProfile.Profile): String =
      s"""{"jobs":${p.jobs.size},"stages":${p.stages},"tasks":${p.tasks},""" +
        s""""task_s":${num(p.taskMs / 1e3, 3)},"shuffle_read":${p.shuffleRead},""" +
        s""""shuffle_write":${p.shuffleWrite},"spill":${p.spill},""" +
        s""""input":${p.inputBytes},"nojob_s":${num(p.nojobS, 3)},"labels":""" +
        p.byLabel.map { case (l, n, sec) => s"${Verify.str(l)}:[$n,${num(sec, 3)}]" }
          .mkString("{", ",", "}}")
    val failed = results.collect { case r if r.cold < 0 || r.warm < 0 => "\"" + r.q.name + "\"" }
    val coldTotal = results.map(_.cold).filter(_ >= 0).sum
    val warmTotal = results.map(_.warm).filter(_ >= 0).sum
    def tierJson(name: String, rs: Seq[Result]): String = {
      val cold = rs.map(_.cold).filter(_ >= 0).sum
      val warm = rs.map(_.warm).filter(_ >= 0).sum
      val n = rs.count(_.cold >= 0)
      val per = if (n == 0) 0.0 else warm / n
      val ws = rs.flatMap(_.work)
      s""""$name":{"n":$n,"cold":${num(cold, 3)},"warm":${num(warm, 3)},""" +
        s""""warm_per_query":${num(per, 4)},"jobs":${ws.map(_.jobs.size).sum},""" +
        s""""tasks":${ws.map(_.tasks.toLong).sum},""" +
        s""""task_s":${num(ws.map(_.taskMs).sum / 1e3, 3)},""" +
        s""""nojob_s":${num(ws.map(_.nojobS).sum, 3)}}"""
    }
    val (life, parity) = results.partition(_.q.lifecycle)
    // drift gate (see driftOutliers): warm medians vs the committed
    // same-SF recording at bench_ref.json — BOTH tiers. Lifecycle queries
    // are exactly the expensive multi-publish contracts, so they get the
    // same self-attributing gate under their own factor (they carry more
    // publish-sequencing variance, which the isolated rerun verdict
    // absorbs — r12's q_lake_agg_pushdown at 2.55× sailed through a
    // parity-only gate unflagged). Parity default TIGHTENED to 2.0 in
    // r16: three r15 parity-tier 2.1-2.25× outliers slipped the 2.5 gate
    // with no recorded verdict and had to be attributed by hand a round
    // later; a flag is cheap (one isolated rerun + a self-attributed
    // contention/regression verdict), a silent outlier is not.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_ref.json")
    val driftFactor = sys.env.get("SPARK_GRAFT_BENCH_DRIFT_FACTOR")
      .map(_.toDouble).getOrElse(2.0)
    val lifeFactor = sys.env.get("SPARK_GRAFT_BENCH_DRIFT_FACTOR_LIFECYCLE")
      .map(_.toDouble).getOrElse(2.5)
    val refWarm = try refWarmTimes(java.nio.file.Files.readString(
        java.nio.file.Paths.get(refPath)), sfDir)
      catch { case _: Exception => Map.empty[String, Double] }
    def times(rs: Seq[Result]) = rs.map(r => (r.q.name, r.cold, r.warm))
    val drift =
      driftOutliers(times(parity), refWarm, driftFactor)
        .map(d => (d, "parity", driftFactor)) ++
      driftOutliers(times(life), refWarm, lifeFactor)
        .map(d => (d, "lifecycle", lifeFactor))
    // SELF-ATTRIBUTION: a flag produced while the whole board was running
    // may be box contention, not a plan change. Each flagged query is
    // re-run ONCE in isolation here (post-board, nothing else in flight);
    // a rerun back under the threshold is attributed `contention`, one
    // that persists is a real `regression` the round must fix. The
    // artifact carries both numbers so no reader has to adjudicate.
    val driftJson = drift.map { case ((n, w, r, ratio), tier, fac) =>
      val rerun = try time(SparkEntry.byName(n).run) catch { case _: Throwable => -1.0 }
      val verdict =
        if (rerun < 0) "error"
        else if (rerun <= fac * r) "contention"
        else "regression"
      s"""{"q":"$n","tier":"$tier","warm":${num(w, 3)},"ref":${num(r, 3)},""" +
        s""""ratio":${num(ratio, 2)},"rerun":${num(rerun, 3)},""" +
        s""""verdict":"$verdict"}""" }.mkString("[", ",", "]")
    // Field order is truncation-armor (r14's round-over-round comparison
    // was lost to a capture that cut the line's tail): EVERY compact
    // summary field — totals, validity, tiers, drift, failures, sf —
    // precedes the three 232-entry per-query maps, so a tail-truncated
    // capture still carries the whole verdict-grade summary and only the
    // per-query detail degrades. The maps stay in the SAME line (the
    // driver contract is one JSON line, and `bench_out.json` holds the
    // full artifact regardless).
    val json =
      s"""{"metric":"total","value":$coldTotal,"unit":"sec","valid":${failed.isEmpty},""" +
        s""""warm_total":$warmTotal,"warm_runs":$warmRuns,""" +
        s""""tiers":{${tierJson("parity", parity)},${tierJson("lifecycle", life)}},""" +
        s""""drift":$driftJson,"drift_factor":$driftFactor,""" +
        s""""drift_factor_lifecycle":$lifeFactor,""" +
        s""""drift_ref_queries":${refWarm.size},""" +
        s""""failures":[${failed.mkString(",")}],"sf":"$sfDir",""" +
        s""""queries":${timesJson(_.cold)},""" +
        s""""queries_warm":${timesJson(_.warm)},""" +
        s""""queries_work":${results.map(r => Verify.str(r.q.name) + ":" +
          r.work.fold("null")(workJson)).mkString("{", ",", "}")}}"""
    // File first, stdout second: if log capture truncates the line, the
    // artifact already exists on disk.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Exception => System.err.println(s"[bench] cannot write $outPath: $e") }
    println(json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
