package graft

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan, Window}

/** Pin for the round-16 global-window sweep: the engine has exactly ONE
  * global (empty-partition) window site — q_hybrid_retrieval's final rank
  * over the fused candidate list — and its input is BOUNDED by a limit
  * below it, so the single-partition WindowExec it plans can never see
  * more than the fused top-k regardless of corpus size. Every other
  * engine-side window partitions on a real key or an explicit shard
  * column (operators expose a `numShards` knob for the packing layouts);
  * the remaining `OVER (ORDER BY ...)` strings in SparkEntry live in
  * the registry's `oracle` strings and run on DuckDB, not here.
  */
class WindowBoundedSpec extends SparkTestBase {
  private val sfDir = "/root/testdata/sf0.001"

  private def globalWindows(p: LogicalPlan): Seq[Window] =
    p.collect { case w: Window if w.partitionSpec.isEmpty => w }

  test("q_hybrid_retrieval's only global window sits above a GlobalLimit " +
      "(bounded input — no unbounded single-partition window in the engine)") {
    val df = SparkEntry.byName("q_hybrid_retrieval").run(spark, sfDir)
    val wins = globalWindows(df.queryExecution.optimizedPlan)
    wins should not be empty // the site exists — a rewrite that silently
                             // re-partitions it should update this pin
    wins.foreach { w =>
      val limits = w.child.collect { case g: GlobalLimit => g }
      withClue(s"global window ${w.windowExpressions.map(_.name)} has no " +
        "GlobalLimit below it — unbounded single-partition window:") {
        limits should not be empty
      }
    }
  }
}
