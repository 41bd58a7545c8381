package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

/** Number rendering. Every number the benchmark prints goes through
  * [[Fmt.num]], which formats with `Locale.ROOT`: under a comma-decimal
  * default locale (`-Duser.language=de`) the output stays parseable JSON.
  */
object Fmt {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9f", Double.box(d))

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c    => c.toString
    } + "\""

  /** A flat JSON object from already-rendered values. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile that still has at least ten samples beyond
    * it: the eleventh-largest sample, reported with its percentile rank
    * `(n - 10) / n` and the sample count. With ten or fewer samples no
    * such percentile exists and the maximum stands in (percentile 1.0).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 1.0, n)
    else (s(n - 11), (n - 10).toDouble / n, n)
  }
}

object Files2 {
  /** Bytes of every regular file under `root` (0 when it is absent). */
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      val all = try st.iterator.asScala.toList finally st.close()
      all.reverse.foreach(Files.deleteIfExists)
    }

  /** Content hash of every regular file under `root`, in path order. */
  def treeHash(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val st = Files.walk(root)
    val files = try st.iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc")).toList
      .sortBy(p => root.relativize(p).toString)
    finally st.close()
    files.foreach { p =>
      md.update(root.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => String.format(Locale.ROOT, "%02x", Byte.box(b))).mkString
  }
}

object Proc {
  /** Peak resident set (`VmHWM`) of this process, in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The machine's CPU time counters (`/proc/stat`, first line). */
  def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of CPU time the hypervisor gave to other guests (steal) between
    * two [[cpuTicks]] readings: a run with a high share ran on a busy host.
    */
  def stealShare(from: Array[Long], to: Array[Long]): Double = {
    val d = to.zip(from).map { case (b, a) => b - a }
    // columns: user nice system idle iowait irq softirq steal guest guest_nice
    d(7).toDouble / math.max(1L, d.take(8).sum)
  }
}
