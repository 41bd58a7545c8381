package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The declared query registry: one entry per name, each with its oracle. */
class QueryRegistrySpec extends AnyFunSuite with Matchers {

  test("a name registered twice throws instead of shadowing") {
    val q = SparkEntry.Query("q_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = the[IllegalArgumentException] thrownBy SparkEntry.index(Seq(q, q))
    e.getMessage should include("q_dup")
    SparkEntry.index(Seq(q)).keySet shouldBe Set("q_dup")
  }

  test("every registered query carries a non-empty oracle and a unique name") {
    SparkEntry.registry should not be empty
    SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name) shouldBe empty
    SparkEntry.byName.size shouldBe SparkEntry.registry.size
  }

  test("select keeps the names holding any comma-separated substring, in name order") {
    val all = SparkEntry.select(None)
    all.map(_.name) shouldBe SparkEntry.registry.map(_.name).sorted
    val some = SparkEntry.select(Some("q_lake_cdf,q_tpch_q1"))
    some should not be empty
    some.map(_.name).forall(n => n.contains("q_lake_cdf") || n.contains("q_tpch_q1")) shouldBe true
    some.map(_.name) shouldBe some.map(_.name).sorted
  }
}
