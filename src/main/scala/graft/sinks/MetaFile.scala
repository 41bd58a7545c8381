package graft.sinks

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** The lake's small JSON metadata files — manifests, segments, z-order,
  * change-feed and view sync markers, transaction outcomes, partition
  * sidecars — read, written, claimed and listed in ONE place.
  *
  *  - '''Read''': one shared Jackson mapper. It accepts `NaN` and
  *    `±Infinity` (a DOUBLE z axis renders them through `Double.toString`)
  *    and refuses trailing bytes after the document, so a torn or
  *    concatenated file fails loudly instead of parsing partially. The
  *    typed accessors keep the lake's defaults: a missing optional field
  *    defaults, a malformed one throws.
  *  - '''Write''': staged dot-file, then rename — a reader never sees a
  *    half-written file.
  *  - '''Claim''': exclusive create, first writer wins (see [[claim]]).
  *  - '''List''': the `<n>.json` slots of a directory ([[numbered]]).
  *
  * Writers render their own bytes (each format's `render*` function with
  * [[jq]] quoting); this module only moves them.
  */
private[graft] object MetaFile {

  private val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** A JSON string literal: `"` and `\` escaped, `\n` short-form, every
    * other control character as `\u00XX`.
    */
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parse one metadata document, which must be a JSON object. */
  def parse(s: String): JsonNode = {
    val n = mapper.readTree(s)
    require(n != null && n.isObject, "metadata file: not a JSON object")
    n
  }

  def text(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def read(fs: FileSystem, p: Path): JsonNode = parse(text(fs, p))

  // ---- typed accessors: absent (or JSON null) = default, wrong type throws

  private def field(o: JsonNode, k: String): Option[JsonNode] =
    Option(o.get(k)).filterNot(_.isNull)

  def long(n: JsonNode, k: String): Long = {
    require(n.isIntegralNumber && n.canConvertToLong,
      s"metadata field $k: expected an integer, got $n")
    n.longValue
  }

  private def string(n: JsonNode, k: String): String = {
    require(n.isTextual, s"metadata field $k: expected a string, got $n")
    n.textValue
  }

  def str(o: JsonNode, k: String): String = string(
    field(o, k).getOrElse(sys.error(s"metadata field $k: missing")), k)

  def optStr(o: JsonNode, k: String): Option[String] =
    field(o, k).map(string(_, k))

  def num(o: JsonNode, k: String, default: Long = 0L): Long =
    field(o, k).fold(default)(long(_, k))

  def reqNum(o: JsonNode, k: String): Long =
    long(field(o, k).getOrElse(sys.error(s"metadata field $k: missing")), k)

  def arr(o: JsonNode, k: String): IndexedSeq[JsonNode] = field(o, k) match {
    case None => IndexedSeq.empty
    case Some(a) =>
      require(a.isArray, s"metadata field $k: expected an array, got $a")
      a.elements.asScala.toIndexedSeq
  }

  def strSeq(o: JsonNode, k: String): IndexedSeq[String] =
    arr(o, k).map(string(_, k))

  def optStrSeq(o: JsonNode, k: String): IndexedSeq[Option[String]] =
    arr(o, k).map(n => if (n.isNull) None else Some(string(n, k)))

  // ---- write, claim, list

  private def stage(fs: FileSystem, dir: Path, body: String): Path = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val staged = new Path(dir, s".staging-${java.util.UUID.randomUUID}")
    val out = fs.create(staged, false)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    staged
  }

  /** Staged write + rename of a single-writer metadata file (UUID-named
    * segments, per-version markers, sidecars — no exclusive claim needed).
    */
  def write(fs: FileSystem, dst: Path, body: String): Unit =
    fs.rename(stage(fs, dst.getParent, body), dst)

  /** Filesystems whose rename is atomic AND refuses an existing
    * destination — the only non-local schemes [[claim]] trusts.
    */
  private val exclusiveRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "abfs", "abfss")

  /** Atomically and EXCLUSIVELY create `dst` holding `body`: true = this
    * caller created it; false = it already existed or a concurrent
    * creator won. The commit point of every lake write path (manifest
    * slots, transaction outcomes, view sync markers):
    *
    *  - local filesystems: a HARD LINK staged → `dst`. `link(2)` fails
    *    with EEXIST if the destination exists and the destination appears
    *    fully written (it IS the staged bytes) — whereas a POSIX
    *    `rename(2)` silently REPLACES an existing destination, which is
    *    exactly the last-writer-wins hazard this guards against.
    *  - filesystems with atomic-and-exclusive rename (HDFS at the
    *    namenode, ABFS at the blob service): exists-check + `rename`.
    *
    * That second branch is check-then-act and leans on the scheme's
    * rename contract, so it is ALLOWLISTED: object stores whose rename is
    * copy+delete-with-overwrite (s3a, plain gcs) would silently degrade
    * the exclusive claim to last-writer-wins — the claim fails fast on
    * such schemes instead of advertising a guarantee it cannot keep.
    * Single-writer deployments on those stores can opt out via Hadoop conf
    * `graft.lake.unsafePublish=true` (documented last-writer-wins) or
    * front the table with an HDFS/ABFS root. The staged file is removed
    * whoever wins.
    */
  def claim(fs: FileSystem, dst: Path, body: String): Boolean = {
    val scheme = Option(fs.getUri).map(_.getScheme).getOrElse("unknown")
    val local = scheme == "file"
    require(local || exclusiveRenameSchemes.contains(scheme) ||
      fs.getConf.getBoolean("graft.lake.unsafePublish", false),
      s"LakeTable publish needs atomic-and-exclusive rename, which " +
        s"'$scheme' does not guarantee — use an allowlisted scheme " +
        s"(${exclusiveRenameSchemes.toSeq.sorted.mkString(", ")}) or " +
        "accept last-writer-wins explicitly with " +
        "graft.lake.unsafePublish=true for single-writer deployments")
    val staged = stage(fs, dst.getParent, body)
    if (local) {
      val won =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(staged.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      fs.delete(staged, false)
      won
    } else if (fs.exists(dst) || !fs.rename(staged, dst)) {
      fs.delete(staged, false); false
    } else true
  }

  /** The `<n>.json` slot numbers under `dir`, ascending (empty when `dir`
    * does not exist). Staged dot-files and every other name are skipped.
    */
  def numbered(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") && n.length > 5 &&
        n.dropRight(5).forall(_.isDigit) => n.dropRight(5).toLong }
      .toSeq.sorted
}
