package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench's warm-median drift gate ([[Bench.refWarmTimes]] /
  * [[Bench.driftOutliers]]) — pure-function pins, no Spark session:
  * the committed recording only gates a SAME-SF run, a deliberately
  * slowed query is flagged with its ratio, and invalid entries (failed
  * warm runs, -1 refs, missing refs) never produce a flag.
  */
class BenchDriftSpec extends AnyFunSuite with Matchers {

  private val refJson =
    """{"metric":"total","value":1.0,"tiers":{},""" +
      """"queries_warm":{"q_a":0.100,"q_b":0.200,"q_c":-1.0},""" +
      """"sf":"/root/testdata/sf0.1"}"""

  test("refWarmTimes parses a same-SF recording, refuses a cross-SF one") {
    Bench.refWarmTimes(refJson, "/anywhere/else/sf0.1") shouldBe
      Map("q_a" -> 0.1, "q_b" -> 0.2, "q_c" -> -1.0)
    Bench.refWarmTimes(refJson, "/root/testdata/sf0.01") shouldBe Map.empty
    Bench.refWarmTimes("{}", "/root/testdata/sf0.1") shouldBe Map.empty
  }

  test("driftOutliers flags only past-factor regressions with a usable ref") {
    val ref = Map("q_a" -> 0.1, "q_b" -> 0.2, "q_c" -> -1.0)
    val results = Seq(
      ("q_a", 0.5, 0.26), // 2.6x the recording -> flagged
      ("q_b", 0.5, 0.45), // 2.25x -> under the bar, clean
      ("q_c", 0.5, 9.0),  // recording itself failed (-1) -> no gate
      ("q_d", 0.5, 9.0))  // not in the recording -> no gate
    val out = Bench.driftOutliers(results, ref, 2.5)
    out.map(_._1) shouldBe Seq("q_a")
    out.head._4 shouldBe 2.6 +- 1e-9
    // a query whose warm runs FAILED reports -1 and must not be flagged
    Bench.driftOutliers(Seq(("q_a", 0.5, -1.0)), ref, 2.5) shouldBe empty
    // sorted most-drifted first when several flag
    val many = Bench.driftOutliers(
      Seq(("q_a", 0.5, 0.3), ("q_b", 0.5, 1.0)), ref, 2.5)
    many.map(_._1) shouldBe Seq("q_b", "q_a") // 5.0x before 3.0x
  }

  test("millisecond-floor queries are exempt until they cross the absolute floor") {
    val ref = Map("q_ms" -> 0.030, "q_big" -> 0.100)
    // 0.080 s is 2.7x a 30 ms recording but under the absolute floor:
    // scheduler jitter, not a regression — clean runs must flag nothing
    Bench.driftOutliers(Seq(("q_ms", 0.5, 0.080)), ref, 2.5) shouldBe empty
    // the same query crossing the floor DOES flag (ratio still applies)
    val out = Bench.driftOutliers(Seq(("q_ms", 0.5, 0.200)), ref, 2.5)
    out.map(_._1) shouldBe Seq("q_ms")
    // a query already past the floor gates purely on the ratio
    Bench.driftOutliers(
      Seq(("q_big", 0.5, Bench.DriftAbsFloorSec + 0.2)), ref, 2.5)
      .map(_._1) shouldBe Seq("q_big")
  }

  test("numbers render with a decimal point under a comma-decimal locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      Bench.num(0.1234564, 6) shouldBe "0.123456"
      Bench.num(-1.0, 3) shouldBe "-1.000"
      Bench.num(1234.5, 2) shouldBe "1234.50"
    } finally java.util.Locale.setDefault(prev)
  }
}
