package graft

import graft.sinks.LakeTable
import java.nio.file.Files
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property sweep over SidecarFileIndex pruning: random predicate trees
  * (comparisons, equality, IN, startsWith, NULL tests, AND/OR/NOT, over
  * long/double/date/string columns with NULLs present) evaluated through
  * `scan()` must return EXACTLY the rows the unpruned `read()` returns.
  * A conservative keep only costs a file read; a wrong prune silently
  * loses rows — this sweep is the defense for that failure class, the
  * worst one a scan layer has.
  */
class LakeScanIndexPropertySpec extends SparkTestBase {

  // one shared table for the whole sweep: mixed types, NULLs in x and s,
  // an all-NULL column, small files so predicates actually prune
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-scanprop").toString
    val df = spark.range(400).select(
      col("id").alias("k"),
      date_add(lit("2025-01-01").cast("date"),
        (col("id") % 200).cast("int")).alias("d"),
      when(col("id") % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("w"), col("id") % 13)).alias("s"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 37).cast("double")).alias("x"),
      lit(null).cast("long").alias("nil"))
    LakeTable.init(df, r, Seq("k"), numBuckets = 2,
      sortCols = Seq("d"), statsCols = Seq("k", "d", "x", "s", "nil"),
      bloomCols = Seq("s"), maxRecordsPerFile = 48L)
    r
  }

  // predicate AST -> Column, applied identically to both sides
  private val genLongLit: Gen[Long] = Gen.choose(-50L, 450L)
  private val genDblLit: Gen[Double] = Gen.choose(-5, 42).map(_.toDouble)
  private val genDateLit: Gen[String] = for {
    off <- Gen.choose(-30, 230)
  } yield java.time.LocalDate.of(2025, 1, 1).plusDays(off).toString
  private val genStrLit: Gen[String] = Gen.oneOf(
    (0 until 13).map(i => s"w$i") ++ Seq("w", "zzz", ""))

  private val genLeaf: Gen[Column] = {
    val cmpOps: Gen[(Column, Column) => Column] = Gen.oneOf(
      Seq[(Column, Column) => Column](_ < _, _ <= _, _ > _, _ >= _, _ === _))
    Gen.oneOf(
      for { op <- cmpOps; v <- genLongLit } yield op(col("k"), lit(v)),
      for { op <- cmpOps; v <- genDblLit } yield op(col("x"), lit(v)),
      for { op <- cmpOps; v <- genDateLit }
        yield op(col("d"), lit(v).cast("date")),
      for { v <- genStrLit } yield col("s") === v,
      for { vs <- Gen.nonEmptyListOf(genLongLit) }
        yield col("k").isin(vs.take(4): _*),
      for { vs <- Gen.nonEmptyListOf(genStrLit) }
        yield col("s").isin(vs.take(3): _*),
      for { p <- Gen.oneOf("w1", "w", "z", "") }
        yield col("s").startsWith(p),
      Gen.oneOf(col("x").isNull, col("x").isNotNull,
        col("s").isNull, col("s").isNotNull,
        col("nil").isNull, col("nil").isNotNull))
  }

  private def genPred(depth: Int): Gen[Column] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      2 -> (for { a <- genPred(depth - 1); b <- genPred(depth - 1) }
        yield a && b),
      2 -> (for { a <- genPred(depth - 1); b <- genPred(depth - 1) }
        yield a || b),
      1 -> genPred(depth - 1).map(p => !p))

  test("property: any predicate through scan() returns exactly read()'s rows") {
    val base = referenceRead(root)
    val scanned = LakeTable.scan(spark, root)
    val prop = Prop.forAll(genPred(2)) { pred =>
      val want = base.filter(pred).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val got = scanned.filter(pred).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val ok = got == want
      if (!ok) System.err.println(
        s"scan/read mismatch for $pred\n got=${got.size} want=${want.size}")
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: metadata aggregates equal the scan's own aggregates") {
    // the LakeMetadataAggs rewrite (registered by scan()) must agree with
    // the unpruned read on every aggregate it can answer, across columns
    // with NULLs and the all-NULL column
    val aggsOf = Seq(
      count(lit(1)).alias("n"),
      min(col("k")).alias("mnk"), max(col("k")).alias("mxk"),
      min(col("x")).alias("mnx"), max(col("x")).alias("mxx"),
      min(col("d")).alias("mnd"), max(col("d")).alias("mxd"),
      min(col("s")).alias("mns"), max(col("s")).alias("mxs"),
      min(col("nil")).alias("mnn"), max(col("nil")).alias("mxn"))
    val prop = Prop.forAll(
      Gen.someOf(aggsOf).suchThat(_.nonEmpty)) { picked =>
      val exprs = picked.toSeq
      val got = LakeTable.scan(spark, root)
        .agg(exprs.head, exprs.tail: _*).collect().head.toSeq
      val want = referenceRead(root)
        .agg(exprs.head, exprs.tail: _*).collect().head.toSeq
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
