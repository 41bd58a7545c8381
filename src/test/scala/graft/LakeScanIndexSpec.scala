package graft

import graft.sinks.LakeTable
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan-time sidecar pruning (sinks/LakeTable.scala SidecarFileIndex /
  * scan): declarative predicates — DataFrame filters, SQL text, IN lists,
  * disjunctions — reach the FileIndex as Catalyst dataFilters and skip
  * files through the zone-map + bloom sidecars, with results identical to
  * the unpruned read. A wrong prune loses rows, so every pruning case
  * here twin-checks against `referenceRead(...).filter(...)`: Spark's own
  * reader over the manifest's files, independent of `read`, which serves
  * the same relation as `scan`.
  */
class LakeScanIndexSpec extends SparkTestBase {
  import spark.implicits._

  /** Fresh table of `n` rows keyed by k, clustered+zoned on d (dates
    * spanning n days), bloom on tag (high-cardinality, NOT clustered),
    * plus a v column with no sidecar at all.
    */
  private def mkTable(n: Int, buckets: Int = 4,
      perFile: Int = 128): String = {
    val root = Files.createTempDirectory("graft-scanidx").toString
    val df = spark.range(n.toLong).select(
      col("id").alias("k"),
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).alias("d"),
      concat(lit("tag"), col("id")).alias("tag"),
      (col("id") % 100).cast("double").alias("v"))
    LakeTable.init(df, root, Seq("k"), numBuckets = buckets,
      sortCols = Seq("d"), statsCols = Seq("d", "k"),
      bloomCols = Seq("tag"), maxRecordsPerFile = perFile.toLong)
    root
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val ka = a.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val kb = b.collect().map(_.toSeq).sortBy(_.mkString("|"))
    ka should contain theSameElementsInOrderAs kb
  }

  private def lastScan: (Int, Int) = {
    val s = LakeTable.lastIndexScan
    s shouldBe defined
    s.get
  }

  test("scan with no filter lists every live file and equals read") {
    val root = mkTable(600)
    sameRows(LakeTable.scan(spark, root), referenceRead(root))
  }

  test("date-range filter prunes files at plan time, result exact") {
    val root = mkTable(1200)
    LakeTable.lastIndexScan = None
    val pred = col("d") >= lit("2025-02-01").cast("date") &&
      col("d") <= lit("2025-02-28").cast("date")
    val got = LakeTable.scan(spark, root).filter(pred)
    sameRows(got, referenceRead(root).filter(pred))
    val (kept, live) = lastScan
    assert(kept < live, s"expected a prune, scanned $kept of $live")
  }

  test("the pruned file count is what FileSourceScanExec actually reads") {
    val root = mkTable(1200)
    val pred = col("d") >= lit("2025-02-01").cast("date") &&
      col("d") <= lit("2025-02-07").cast("date")
    val df = LakeTable.scan(spark, root).filter(pred)
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    scans should not be empty
    val numFiles = scans.map(_.metrics("numFiles").value).sum
    val (kept, live) = lastScan
    numFiles shouldBe kept
    assert(kept < live)
  }

  test("SQL over a temp view prunes the same way") {
    val root = mkTable(1200)
    LakeTable.scan(spark, root).createOrReplaceTempView("scan_t")
    LakeTable.lastIndexScan = None
    val got = spark.sql(
      "SELECT k, d FROM scan_t WHERE d BETWEEN DATE'2025-03-01' AND DATE'2025-03-10'")
    val pred = col("d").between(lit("2025-03-01").cast("date"),
      lit("2025-03-10").cast("date"))
    sameRows(got, referenceRead(root).filter(pred).select("k", "d"))
    val (kept, live) = lastScan
    assert(kept < live)
  }

  test("key equality prunes by zone; bloom equality prunes a non-clustered column") {
    val root = mkTable(1200)
    // k is a stats column (monotone with file order inside each bucket)
    LakeTable.lastIndexScan = None
    val byKey = LakeTable.scan(spark, root).filter(col("k") === 777L)
    sameRows(byKey, referenceRead(root).filter(col("k") === 777L))
    val (k1, l1) = lastScan
    assert(k1 < l1, s"zone prune expected: $k1 of $l1")
    // tag is bloom-only: hash-scattered value, zones useless, bloom prunes
    LakeTable.lastIndexScan = None
    val byTag = LakeTable.scan(spark, root).filter(col("tag") === "tag777")
    sameRows(byTag, referenceRead(root).filter(col("tag") === "tag777"))
    val (k2, l2) = lastScan
    assert(k2 < l2, s"bloom prune expected: $k2 of $l2")
  }

  test("IN lists and OR disjunctions prune as unions, never drop rows") {
    val root = mkTable(1200)
    LakeTable.lastIndexScan = None
    val inPred = col("k").isin(3L, 500L, 1100L)
    sameRows(LakeTable.scan(spark, root).filter(inPred),
      referenceRead(root).filter(inPred))
    val (k1, l1) = lastScan
    assert(k1 < l1)
    LakeTable.lastIndexScan = None
    val orPred = (col("d") < lit("2025-01-05").cast("date")) ||
      (col("d") > lit("2028-01-01").cast("date"))
    sameRows(LakeTable.scan(spark, root).filter(orPred),
      referenceRead(root).filter(orPred))
    val (k2, l2) = lastScan
    assert(k2 < l2)
  }

  test("a probe outside every zone lists zero files and returns empty") {
    val root = mkTable(600)
    LakeTable.lastIndexScan = None
    val got = LakeTable.scan(spark, root)
      .filter(col("d") > lit("2030-01-01").cast("date"))
    got.count() shouldBe 0L
    lastScan._1 shouldBe 0
  }

  test("all-NULL zones: comparisons and IS NOT NULL prune exactly, IS NULL keeps") {
    val root = Files.createTempDirectory("graft-scanidx-null").toString
    // two deliveries into distinct key ranges -> the null-valued rows and
    // the valued rows land in different files per bucket (maxRecordsPerFile
    // splits them after the sort puts NULLs first)
    val df = spark.range(400).select(
      col("id").alias("k"),
      when(col("id") < 200, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).alias("x"))
    LakeTable.init(df, root, Seq("k"), numBuckets = 2,
      sortCols = Seq("x"), statsCols = Seq("x"), maxRecordsPerFile = 100L)
    val notNull = col("x").isNotNull
    sameRows(LakeTable.scan(spark, root).filter(notNull),
      referenceRead(root).filter(notNull))
    val (k1, l1) = lastScan
    assert(k1 < l1, s"all-NULL files should be skipped: $k1 of $l1")
    val eq = col("x") === 250.0
    sameRows(LakeTable.scan(spark, root).filter(eq),
      referenceRead(root).filter(eq))
    val isNull = col("x").isNull
    sameRows(LakeTable.scan(spark, root).filter(isNull),
      referenceRead(root).filter(isNull))
  }

  test("STRING zones holding digit strings keep their native ordering (no numeric mis-prune)") {
    val root = Files.createTempDirectory("graft-scanidx-digit").toString
    val df = (1 to 200).map(i => (i.toLong, i.toString)).toDF("k", "s")
    LakeTable.init(df, root, Seq("k"), numBuckets = 2,
      sortCols = Seq("s"), statsCols = Seq("s"), maxRecordsPerFile = 50L)
    // "2" sorts AFTER "10" as a string; a numeric read of the zones would
    // prune the file that holds it
    val pred = col("s") === "2"
    sameRows(LakeTable.scan(spark, root).filter(pred),
      referenceRead(root).filter(pred))
    LakeTable.scan(spark, root).filter(pred).count() shouldBe 1L
  }

  /** 300 hourly rows from 2025-01-01T00:00:00Z, clustered on ts and
    * zoned on ts (TIMESTAMP) and on its UTC wall clock ntz
    * (TIMESTAMP_NTZ), committed under the tests' UTC session zone.
    */
  private def mkHourly(name: String, buckets: Int, perFile: Long): String = {
    val root = Files.createTempDirectory(name).toString
    val df = spark.range(300).select(
      col("id").alias("k"),
      timestamp_seconds(lit(1735689600L) + col("id") * 3600L).alias("ts"))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
    LakeTable.init(df, root, Seq("k"), numBuckets = buckets,
      sortCols = Seq("ts"), statsCols = Seq("ts", "ntz"),
      maxRecordsPerFile = perFile)
    root
  }

  test("timestamp ranges prune with a 2-day slack, results exact") {
    val root = mkHourly("graft-scanidx-ts", buckets = 2, perFile = 64L)
    val pred = col("ts") >= lit("2025-01-05 00:00:00").cast("timestamp")
    sameRows(LakeTable.scan(spark, root).filter(pred),
      referenceRead(root).filter(pred))
    // each bucket's first file ends ~5 days in: a bound before day 3,
    // widened by 2 days, still skips every later file
    LakeTable.lastIndexScan = None
    val early = col("ts") < lit("2025-01-03 00:00:00").cast("timestamp")
    sameRows(LakeTable.scan(spark, root).filter(early),
      referenceRead(root).filter(early))
    val (kept, live) = lastScan
    assert(kept < live, s"expected a timestamp prune, scanned $kept of $live")
  }

  test("session zone changes never drop timestamp rows") {
    // 8-hour files: every 14 h shift between wall clocks crosses a file
    // boundary, so an unwidened compare would drop a file somewhere here
    val root = mkHourly("graft-scanidx-tz", buckets = 1, perFile = 8L)
    val conf = spark.conf
    val zone0 = conf.get("spark.sql.session.timeZone")
    def ts(s: String) = lit(s).cast("timestamp")
    def ntz(s: String) = lit(s).cast("timestamp_ntz")
    try {
      for (zone <- Seq("Pacific/Kiritimati", "Etc/GMT+12")) {
        conf.set("spark.sql.session.timeZone", zone)
        for (pred <- Seq(
            // no zone enters a TIMESTAMP_NTZ rendering: exact bounds
            col("ntz").between(ntz("2025-01-04 10:00:00"), ntz("2025-01-04 12:00:00")),
            col("ntz").isin(ntz("2025-01-02 13:00:00"), ntz("2025-01-11 23:00:00")),
            col("ts") >= ts("2025-01-05 03:00:00"),
            col("ts") <= ts("2025-01-07 21:00:00"),
            col("ts").between(ts("2025-01-04 10:00:00"), ts("2025-01-04 12:00:00")),
            col("ts") === ts("2025-01-06 05:00:00"),
            col("ts").isin(ts("2025-01-02 13:00:00"), ts("2025-01-11 23:00:00")))) {
          LakeTable.lastIndexScan = None
          val got = LakeTable.scan(spark, root).filter(pred)
          got.count() should be > 0L
          sameRows(got, referenceRead(root).filter(pred))
          assert(lastScan._1 < lastScan._2, s"$zone $pred should still prune")
        }
      }
    } finally conf.set("spark.sql.session.timeZone", zone0)
  }

  test("merge-on-read deletion vectors subtract through scan") {
    val root = mkTable(600)
    LakeTable.deleteMor(spark, root,
      spark.range(100, 200).select(col("id").alias("k")))
    val got = LakeTable.scan(spark, root)
      .filter(col("d") < lit("2025-12-31").cast("date"))
    got.filter(col("k").between(100, 199)).count() shouldBe 0L
    sameRows(got.select("k"),
      referenceRead(root)
        .filter(col("d") < lit("2025-12-31").cast("date")).select("k"))
  }

  test("additive schema evolution: scan fills pre-widening files with NULL") {
    val root = mkTable(300)
    val wide = spark.range(300, 350).select(
      col("id").alias("k"),
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).alias("d"),
      concat(lit("tag"), col("id")).alias("tag"),
      (col("id") % 100).cast("double").alias("v"),
      lit("fresh").alias("src"))
    LakeTable.merge(spark, root, wide)
    val got = LakeTable.scan(spark, root)
    got.schema.fieldNames should contain("src")
    got.filter(col("src").isNull).count() shouldBe 300L
    sameRows(got, referenceRead(root))
  }

  test("unrecognized predicates (exprs over the column) keep every file, results exact") {
    val root = mkTable(600)
    val pred = expr("length(tag) = 6")
    sameRows(LakeTable.scan(spark, root).filter(pred),
      referenceRead(root).filter(pred))
  }

  test("startsWith prunes string zones") {
    val root = Files.createTempDirectory("graft-scanidx-sw").toString
    val df = (1 to 260).map(i =>
      (i.toLong, ('a' + (i % 26)).toChar.toString + "_" + i)).toDF("k", "s")
    LakeTable.init(df, root, Seq("k"), numBuckets = 2,
      sortCols = Seq("s"), statsCols = Seq("s"), maxRecordsPerFile = 40L)
    LakeTable.lastIndexScan = None
    val pred = col("s").startsWith("m")
    sameRows(LakeTable.scan(spark, root).filter(pred),
      referenceRead(root).filter(pred))
    val (kept, live) = lastScan
    assert(kept < live)
  }

  test("sizeInBytes feeds Spark's own broadcast decision: a small scan() broadcasts in a join") {
    val dimRoot = mkTable(50) // tiny: well under autoBroadcastJoinThreshold
    val fact = spark.range(5000).select(col("id").alias("fk"),
      (col("id") % 50).alias("k"))
    val joined = fact.join(LakeTable.scan(spark, dimRoot), Seq("k"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"expected a broadcast join off the index's sizeInBytes, got:\n$plan")
  }

  test("sizes and tags: scan() sizes as tableBytes and carries the tags; a " +
      "bucket-confined read sizes as its own files and counts only them") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val root = mkTable(600)
    def relations(df: DataFrame): Seq[HadoopFsRelation] =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r }
    val whole = LakeTable.scan(spark, root)
    whole.queryExecution.optimizedPlan.stats.sizeInBytes shouldBe
      BigInt(LakeTable.tableBytes(spark, root))
    relations(whole).map(_.options.keySet) shouldBe
      Seq(Set("graft.lake.root", "graft.lake.version"))

    // a lookup reads only the probe's bucket: its relation is a subset
    val Seq(sub) = relations(LakeTable.lookup(spark, root, Seq(7L).toDF("k")))
    sub.options shouldBe empty
    val conf = spark.sparkContext.hadoopConfiguration
    val files = sub.location.inputFiles.toSeq
    val fileBytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    sub.sizeInBytes shouldBe fileBytes
    assert(fileBytes < LakeTable.tableBytes(spark, root),
      s"a one-bucket read should be smaller than the table: $fileBytes")

    // COUNT over the bare subset relation counts its rows; the metadata
    // rewrite (which would answer the table's 600) must not fire on it
    val bucket = pmod(hash(col("k")), lit(4))
    val probeBucket = Seq(7L).toDF("k").select(bucket).as[Int].head()
    val want = referenceRead(root).filter(bucket === probeBucket).count()
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(sub).count() shouldBe want
    assert(want < 600L)
  }

  test("a shallow clone's absolute foreign paths scan and prune like local ones") {
    val src = mkTable(600)
    val cloneRoot = Files.createTempDirectory("graft-scanidx-clone").toString
    new java.io.File(cloneRoot).delete()
    LakeTable.cloneShallow(spark, src, cloneRoot)
    LakeTable.lastIndexScan = None
    val pred = col("d").between(lit("2025-02-01").cast("date"),
      lit("2025-02-28").cast("date"))
    sameRows(LakeTable.scan(spark, cloneRoot).filter(pred),
      referenceRead(cloneRoot).filter(pred))
    val (kept, live) = lastScan
    assert(kept < live, s"clone scan should prune: $kept of $live")
  }

  test("time travel: a versioned scan prunes against that version's sidecar") {
    val root = mkTable(600)
    val v0 = 0L
    LakeTable.merge(spark, root, spark.range(600, 900).select(
      col("id").alias("k"),
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).alias("d"),
      concat(lit("tag"), col("id")).alias("tag"),
      (col("id") % 100).cast("double").alias("v")))
    val pred = col("d") >= lit("2026-09-01").cast("date") // only post-merge rows
    LakeTable.scan(spark, root, Some(v0)).filter(pred).count() shouldBe 0L
    LakeTable.scan(spark, root).filter(pred).count() should be > 0L
  }

  test("whole-segment dismissal: the manifest's ref summary skips a segment without parsing it") {
    // 16 buckets so a tiny late-dated delivery touches only a couple of
    // buckets: the init segment survives on the untouched buckets with
    // its narrow date summary, and a filter on the delivery's far-future
    // range must dismiss it at the MANIFEST level — the ref summary
    // answers before the segment file is ever consulted.
    val root = Files.createTempDirectory("graft-segdismiss").toString
    val base = spark.range(800).select(
      col("id").alias("k"),
      date_add(lit("2025-01-01").cast("date"),
        (col("id") % 50).cast("int")).alias("d"),
      concat(lit("tag"), col("id")).alias("tag"),
      (col("id") % 100).cast("double").alias("v"))
    LakeTable.init(base, root, Seq("k"), numBuckets = 16,
      sortCols = Seq("d"), statsCols = Seq("d", "k"),
      maxRecordsPerFile = 128L)
    LakeTable.merge(spark, root, spark.range(10000, 10002).select(
      col("id").alias("k"), lit("2027-06-01").cast("date").alias("d"),
      concat(lit("tag"), col("id")).alias("tag"), lit(0.0).alias("v")))
    val m = LakeTable.manifest(spark, root)
    m.segments.size shouldBe 2
    LakeTable.lastIndexScan = None
    LakeTable.lastIndexSegments = None
    val pred = col("d") >= lit("2027-01-01").cast("date")
    val got = LakeTable.scan(spark, root).filter(pred)
    sameRows(got, referenceRead(root).filter(pred))
    LakeTable.lastIndexSegments shouldBe defined
    val (aliveSegs, totalSegs) = LakeTable.lastIndexSegments.get
    totalSegs shouldBe 2
    aliveSegs shouldBe 1 // the init segment never left the manifest plane
  }
}
