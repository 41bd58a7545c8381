package graft

import graft.sinks.{JoinMaterializedView, LakeTable}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property sweep for the JOIN materialized view: random delivery
  * sequences on BOTH base tables — fact upserts with value churn and
  * NULL amounts, fact deletes, dim attribute churn (group moves), dim
  * inserts (late-arriving keys with fact rows already waiting) and dim
  * deletes (orphaning fact rows out of the view). After every sequence
  * the maintained view must equal the from-scratch aggregate of the
  * final join: the two-leg signed delta rule has no interleaving of
  * fact and dim change it is allowed to disagree on.
  */
class JoinMaterializedViewPropertySpec extends SparkTestBase {
  import spark.implicits._

  private type FactRow = (Long, Long, Option[Double])
  private type DimRow = (Long, String)

  private val genFactRow: Gen[FactRow] = for {
    id <- Gen.choose(1L, 20L)
    fk <- Gen.choose(1L, 8L) // keys 7/8 often absent from the dim: the
                             // late-arrival / orphan shapes get exercised
    amount <- Gen.frequency(
      5 -> Gen.choose(0, 99).map(v => Some(v.toDouble)),
      1 -> Gen.const(Option.empty[Double]))
  } yield (id, fk, amount)

  private val genFactRows: Gen[Seq[FactRow]] =
    Gen.listOf(genFactRow).map(_.distinctBy(_._1))

  private val genDimRow: Gen[DimRow] = for {
    pk <- Gen.choose(1L, 8L)
    // NULL is a legal group value (GROUP BY groups it): the merge path
    // must land NULL-group deltas on the stored NULL-group row
    seg <- Gen.frequency(
      6 -> Gen.oneOf("g0", "g1", "g2"),
      1 -> Gen.const(null.asInstanceOf[String]))
  } yield (pk, seg)

  private val genDimRows: Gen[Seq[DimRow]] =
    Gen.listOf(genDimRow).map(_.distinctBy(_._1))

  private val genFactDeletes: Gen[Seq[Long]] =
    Gen.listOf(Gen.choose(1L, 20L)).map(_.distinct)
  private val genDimDeletes: Gen[Seq[Long]] =
    Gen.listOf(Gen.choose(1L, 8L)).map(_.distinct)

  // fixed seed rows keep both init tables (and the init join) non-empty
  private def factDf(rows: Seq[FactRow]) =
    rows.toDF("id", "fk", "amount")
  private def dimDf(rows: Seq[DimRow]) =
    rows.toDF("pk", "seg")

  private def snapshot(d: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, BigDecimal)] =
    d.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

  test("property: join view == from-scratch join aggregate after any delivery interleaving") {
    val deliveries = for {
      fUps <- genFactRows; fDels <- genFactDeletes
      dUps <- genDimRows; dDels <- genDimDeletes
    } yield (fUps, fDels, dUps, dDels)
    val prop = Prop.forAll(genFactRows, genDimRows, deliveries, deliveries) {
      (fBase, dBase, r1, r2) =>
        val root = java.nio.file.Files.createTempDirectory("jmvprop").toString
        val factRoot = s"$root/f"; val dimRoot = s"$root/d"
        val mvRoot = s"$root/v"
        LakeTable.init(factDf((1L, 1L, Some(1.0)) +: fBase.filter(_._1 != 1L)),
          factRoot, Seq("id"), numBuckets = 2, statsCols = Seq("fk"))
        LakeTable.init(dimDf((1L, "g0") +: dBase.filter(_._1 != 1L)),
          dimRoot, Seq("pk"), numBuckets = 2)
        JoinMaterializedView.init(spark, factRoot, dimRoot, mvRoot,
          "fk", Seq("seg"), Seq("amount"), numBuckets = 2)
        Seq(r1, r2).foreach { case (fUps, fDels, dUps, dDels) =>
          if (fUps.nonEmpty) LakeTable.merge(spark, factRoot, factDf(fUps))
          if (fDels.nonEmpty)
            LakeTable.delete(spark, factRoot, fDels.toDF("id"))
          if (dUps.nonEmpty) LakeTable.merge(spark, dimRoot, dimDf(dUps))
          if (dDels.nonEmpty)
            LakeTable.delete(spark, dimRoot, dDels.toDF("pk"))
          JoinMaterializedView.refresh(spark, factRoot, dimRoot, mvRoot)
        }
        val got = snapshot(JoinMaterializedView.read(spark, mvRoot)
          .select($"seg", $"cnt", $"sum_amount"))
        val f = referenceRead(factRoot)
        val d = referenceRead(dimRoot)
        val want = snapshot(
          f.join(d, f("fk") === d("pk"), "inner")
            .groupBy($"seg")
            .agg(count(lit(1)).alias("cnt"),
              coalesce(sum($"amount".cast("decimal(38,6)")),
                lit(0).cast("decimal(38,6)")).cast("decimal(38,6)")
                .alias("s")))
        val ok = got == want
        if (!ok) System.err.println(
          s"JoinMV property mismatch:\n got $got\nwant $want\n" +
            s"fBase=$fBase dBase=$dBase\nr1=$r1\nr2=$r2")
        ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
