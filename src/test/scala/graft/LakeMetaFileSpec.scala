package graft

import graft.sinks.{JoinMaterializedView, LakeTable, MaterializedView, MetaFile}
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** Lake metadata file format pin. Each metadata kind renders a fixed value
  * and must match a golden byte for byte; the goldens were captured from
  * the renderers as they stood before the metadata reader moved onto
  * Jackson, so a reader-side change can never silently change what lands
  * on disk. Each golden then parses back to the value that rendered it.
  * The malformed pins go through the public read surfaces: a torn or
  * incomplete metadata file must fail the read, never parse partially.
  */
class LakeMetaFileSpec extends SparkTestBase {
  import LakeTable._
  import spark.implicits._

  private val ref1 = SegmentRef("_segments/a.json", Seq(0, 1, 2, 3, 5, 7, 8),
    Seq(2, 4, 5, 6), 9, 900L, 4096L, Seq(Some("1"), None),
    Seq(Some("9"), None), exactSummary = true, zg = 3L,
    sks = Seq(Some("AgEHDA=="), None))
  private val ref2 = SegmentRef("_segments/b \"q\".json", Seq(4), Nil, 1,
    -1L, -1L, Nil, Nil)
  private val manifest = Manifest(7L, Seq("id", "k\\2"), 8,
    "id BIGINT,name STRING", sortCols = Seq("name"),
    statsCols = Seq("id", "name"), maxRecordsPerFile = 256L,
    dvFiles = Seq(("data/dv/x.parquet", 3)), bloomCols = Seq("name"),
    ndvCols = Seq("name"), cdfRecord = true,
    txn = Some("/lake/_txn/t1.json"), segments = Seq(ref1, ref2))
  private val legacy = Manifest(1L, Seq("id"), 4, "id BIGINT",
    filesEager = Seq(("data/u1/__bucket=0/part-0.parquet", 0),
      ("data/u1/__bucket=3/part-1.parquet", 3)))
  private val segEntries = Vector(
    SegEntry("data/u1/__bucket=0/part-0.parquet", 0, 10L, 2048L,
      IndexedSeq(Some("1"), None), IndexedSeq(Some("10"), None),
      IndexedSeq(Some("AAEC")), IndexedSeq(None), zg = 2L),
    SegEntry("data/u1/__bucket=1/part-1.parquet", 1, -1L, 512L,
      IndexedSeq(None, None), IndexedSeq(None, None), IndexedSeq(None),
      IndexedSeq(Some("AgEH"))))
  private val zMarker = ZMarker(5L, Seq("x", "y"),
    Seq((Double.NaN, Double.PositiveInfinity),
      (Double.NegativeInfinity, 1.5e-7)),
    Seq("data/u1/__bucket=0/z.parquet"), gen = 4L)
  private val cdfPaths = Seq("_cdf/data/a \"q\".parquet",
    "_cdf/data/b\\c.parquet", "_cdf/data/t\u0001\n.parquet")

  /** A manifest stamps its publish clock first; everything after it is
    * pinned byte for byte.
    */
  private def unstamped(s: String): String = {
    s should startWith regex "\\{\"ts\":\\d+,"
    s.replaceFirst("^\\{\"ts\":\\d+,", "{\"ts\":0,")
  }

  test("manifest with runs, dead indexes, dv files, txn, xs, zg and sk renders its golden bytes") {
    val golden = """{"ts":0,"version":7,"keys":["id","k\\2"],"num_buckets":8,"schema_ddl":"id BIGINT,name STRING","sort_cols":["name"],"stats_cols":["id","name"],"bloom_cols":["name"],"ndv_cols":["name"],"max_records":256,"cdf_record":1,"txn":"/lake/_txn/t1.json","dv_files":[{"path":"data/dv/x.parquet","bucket":3}],"segments":[{"path":"_segments/a.json","buckets":[[0,3],5,[7,8]],"dead":[2,[4,6]],"files":9,"rows":900,"bytes":4096,"xs":1,"zg":3,"sk":["AgEHDA==",null],"min":["1",null],"max":["9",null]},{"path":"_segments/b \"q\".json","buckets":[4],"dead":[],"files":1,"rows":-1,"bytes":-1,"min":[],"max":[]}]}"""
    unstamped(render(manifest)) shouldBe golden
    parse(MetaFile.parse(golden)) shouldBe manifest
  }

  test("legacy inline-file manifest renders its golden bytes and parses in both shapes") {
    val golden = """{"ts":0,"version":1,"keys":["id"],"num_buckets":4,"schema_ddl":"id BIGINT","sort_cols":[],"stats_cols":[],"bloom_cols":[],"ndv_cols":[],"max_records":0,"cdf_record":0,"dv_files":[],"files":[{"path":"data/u1/__bucket=0/part-0.parquet","bucket":0},{"path":"data/u1/__bucket=3/part-1.parquet","bucket":3}],"segments":[]}"""
    unstamped(render(legacy)) shouldBe golden
    parse(MetaFile.parse(golden)) shouldBe legacy
    // the hand-written pre-segment shape: no `segments` key at all
    val preSegment = golden.replace(""","segments":[]}""", "}")
    parse(MetaFile.parse(preSegment)) shouldBe legacy
  }

  test("segment with null stats renders its golden bytes") {
    val golden = """{"stats_cols":["id","name"],"bloom_cols":["name"],"ndv_cols":["name"],"lgk":12,"files":[{"path":"data/u1/__bucket=0/part-0.parquet","bucket":0,"rows":10,"bytes":2048,"zg":2,"min":["1",null],"max":["10",null],"bloom":["AAEC"],"sk":[null]},{"path":"data/u1/__bucket=1/part-1.parquet","bucket":1,"rows":-1,"bytes":512,"min":[null,null],"max":[null,null],"bloom":[null],"sk":["AgEH"]}]}"""
    renderSegment(Seq("id", "name"), Seq("name"), Seq("name"),
      segEntries) shouldBe golden
    parseSegment(MetaFile.parse(golden)) shouldBe
      Segment(Seq("id", "name"), Seq("name"), Seq("name"), segEntries)
  }

  test("z marker with NaN and infinite axes renders its golden bytes") {
    val golden = """{"version":5,"gen":4,"z_cols":["x","y"],"axes":[[NaN,Infinity],[-Infinity,1.5E-7]],"files":["data/u1/__bucket=0/z.parquet"]}"""
    renderZMarker(zMarker) shouldBe golden
    val back = parseZMarker(MetaFile.parse(golden))
    // NaN != NaN, so the axes compare by their rendering
    back.copy(axes = Nil) shouldBe zMarker.copy(axes = Nil)
    back.axes.map(_.toString) shouldBe zMarker.axes.map(_.toString)
  }

  test("CDF marker quotes quote, backslash and control characters") {
    // a plain literal: a triple-quoted one would decode the unicode escape
    val golden = "{\"files\":[\"_cdf/data/a \\\"q\\\".parquet\",\"_cdf/data/b\\\\c.parquet\",\"_cdf/data/t\\u0001\\n.parquet\"]}"
    golden should include ("\\u0001") // six characters, not a raw control
    renderCdfMarker(cdfPaths) shouldBe golden
    MetaFile.strSeq(MetaFile.parse(golden), "files") shouldBe cdfPaths
  }

  test("view sync markers render their golden bytes; a marker without dd_alpha_micros reads 0") {
    val plain = """{"table_version":12,"mv_version":4,"dd_alpha_micros":0}"""
    val quant = """{"table_version":12,"mv_version":4,"dd_alpha_micros":10000}"""
    MaterializedView.renderSync(MaterializedView.Sync(12L, 4L)) shouldBe plain
    MaterializedView.renderSync(
      MaterializedView.Sync(12L, 4L, 10000L)) shouldBe quant
    MaterializedView.parseSync(MetaFile.parse(plain)) shouldBe
      MaterializedView.Sync(12L, 4L)
    MaterializedView.parseSync(MetaFile.parse(quant)) shouldBe
      MaterializedView.Sync(12L, 4L, 10000L)
    MaterializedView.parseSync(MetaFile.parse(
      """{"table_version":12,"mv_version":4}""")) shouldBe
      MaterializedView.Sync(12L, 4L)
  }

  test("join-view sync marker and _join.json render their golden bytes") {
    val sync = """{"fact_version":5,"dim_version":2,"mv_version":9}"""
    val meta = """{"fact_key_col":"fk_id"}"""
    JoinMaterializedView.renderSync(
      JoinMaterializedView.Sync(5L, 2L, 9L)) shouldBe sync
    JoinMaterializedView.parseSync(MetaFile.parse(sync)) shouldBe
      JoinMaterializedView.Sync(5L, 2L, 9L)
    JoinMaterializedView.renderJoinMeta("fk_id") shouldBe meta
    MetaFile.str(MetaFile.parse(meta), "fact_key_col") shouldBe "fk_id"
  }

  // ---- malformed metadata: each read must throw, through public surfaces

  private def table(): (String, org.apache.hadoop.fs.FileSystem) = {
    val root = Files.createTempDirectory("graft-meta").toString
    LakeTable.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"),
      root, Seq("id"), numBuckets = 2, statsCols = Seq("name"))
    (root, new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def rewrite(fs: org.apache.hadoop.fs.FileSystem, p: Path)(
      f: String => String): Unit = {
    val in = fs.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(f(s).getBytes("UTF-8")) finally out.close()
  }

  test("a manifest with trailing bytes after its closing brace fails the read") {
    val (root, fs) = table()
    LakeTable.manifest(spark, root).version shouldBe 0L
    rewrite(fs, new Path(root, "_versions/0.json"))(_ + "{}")
    an[Exception] should be thrownBy LakeTable.manifest(spark, root)
    an[Exception] should be thrownBy LakeTable.history(spark, root)
  }

  test("a segment cut off mid-object fails the read") {
    val (root, fs) = table()
    val segs = fs.listStatus(new Path(root, "_segments"))
      .filter(_.getPath.getName.endsWith(".json"))
    segs should not be empty
    segs.foreach(st => rewrite(fs, st.getPath)(s => s.take(s.length / 2)))
    LakeTable.clearSegmentCache()
    an[Exception] should be thrownBy LakeTable.manifest(spark, root).files
  }

  test("a view sync marker without mv_version fails the read") {
    val (root, fs) = table()
    val mvRoot = Files.createTempDirectory("graft-meta-mv").toString
    MaterializedView.init(spark, root, mvRoot, Seq("name"), Seq("id"))
    MaterializedView.read(spark, mvRoot).count() shouldBe 3L
    val sync = new Path(mvRoot, "_sync/0.json")
    fs.exists(sync) shouldBe true
    rewrite(fs, sync)(_ => """{"table_version":0,"dd_alpha_micros":0}""")
    an[Exception] should be thrownBy MaterializedView.read(spark, mvRoot)
  }
}
