package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the tracer, its work
  * directory, the seed and the run length the timed work is sized from.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    seconds: Double) {
  def dir(name: String): Path = work.resolve(name)
  def uri(name: String): String = dir(name).toUri.toString.stripSuffix("/")
}

abstract class Workload(val ctx: Ctx) {
  /** Deliveries: (wall seconds, input rows). Requests: latency in ms. */
  val deliveries = ArrayBuffer.empty[(Double, Long)]
  val reads = ArrayBuffer.empty[Double]
  var attempted, failed = 0
  /** Messages of failed correctness checks; empty means correct. */
  val problems = ArrayBuffer.empty[String]

  /** Generate the up-front inputs (see [[generateThrice]]); returns the
    * median generation time.
    */
  def generate(): Double

  /** Set-up after generation: warm-up deliveries, table builds. */
  def prepare(): Unit

  /** The timed closed loop: a fixed amount of work, sized from
    * `ctx.seconds` so that it takes about that long on a 4-core box.
    */
  def measure(): Unit

  /** The independent correctness check, run after the timed window. */
  def check(): Unit

  /** Output roots and the same final live content as DataFrames. */
  def outputs: (Seq[Path], Seq[DataFrame])

  /** Per-layer metrics this workload's spans produce (name -> value). */
  def layerMetrics(): Seq[(String, Double)]

  /** Bytes on disk under the output roots over the bytes of the same
    * live content written once as plain parquet.
    */
  def spaceAmp(): Double = {
    val (roots, live) = outputs
    val onDisk = roots.map(Files2.bytesUnder).sum
    val ref = ctx.dir("space_ref")
    val plain = live.zipWithIndex.map { case (df, i) =>
      val out = ref.resolve(s"t$i")
      df.coalesce(1).write.parquet(out.toUri.toString)
      val st = Files.list(out)
      try st.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally st.close()
    }.sum
    Files2.deleteTree(ref)
    onDisk.toDouble / plain
  }

  /** Time one call, counting it as attempted; a failure still yields its
    * latency sample and is counted.
    */
  protected def timed(what: String)(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Three generations of the same inputs, two with `seed` and one with
    * `seed + 1`, each into its own directory by `gen(seed, dir)`. Returns
    * the median time; the first directory is kept, the others deleted.
    */
  protected def generateThrice(keep: Path)(gen: (Long, Path) => Unit): Double = {
    val again = ctx.dir("gen_again"); val other = ctx.dir("gen_other")
    val times = Seq(keep -> ctx.seed, again -> ctx.seed, other -> (ctx.seed + 1))
      .map { case (d, s) =>
        val t0 = System.nanoTime(); gen(s, d); (System.nanoTime() - t0) / 1e9
      }
    val (h, h2, h3) = (Files2.treeHash(keep), Files2.treeHash(again), Files2.treeHash(other))
    if (h != h2) problems += s"generator: same seed gave different bytes ($h vs $h2)"
    if (h == h3) problems += s"generator: seeds ${ctx.seed} and ${ctx.seed + 1} gave identical bytes"
    Files2.deleteTree(again); Files2.deleteTree(other)
    Stats.median(times)
  }
}
