package graft.orchestration

/** spark-submit entry points, one per DAG: each is its artifact's
  * `MAIN_CLASS` and runs one task from the arguments the artifact passes,
  * or writes the artifact with `--render-dag <path>` ([[Dag.submit]]).
  */
object CoinStageRunner { def main(args: Array[String]): Unit = CoinDag.submit(args) }
object LakeStageRunner { def main(args: Array[String]): Unit = LakeDag.submit(args) }
object CorpusStageRunner { def main(args: Array[String]): Unit = CorpusDag.submit(args) }
