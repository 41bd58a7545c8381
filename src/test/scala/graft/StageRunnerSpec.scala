package graft

import graft.orchestration.{CoinDag, CoinStageRunner, CorpusDag, CorpusStageRunner, Dag,
  LakeDag, LakeStageRunner}
import java.nio.file.{Files, Paths}

/** The spark-submit runners read exactly what the checked-in Airflow
  * artifacts pass them, write those artifacts on `--render-dag`, and refuse
  * a bad command line before any session starts.
  */
class StageRunnerSpec extends SparkTestBase {

  private val ds = "2026-01-13"
  private val taskBlock = ("""(?s)(\w+) = SparkSubmitOperator\(\n    task_id="\w+",.*?""" +
    """application_args=\[(.*?)\](?: \+ \[(.*?)\])?,\n    dag=dag,""").r
  private val token = """"([^"]*)"|([A-Z_]+)""".r
  private val variable = """(?m)^([A-Z_]+) = "\{\{ var\.value\.(\w+) \}\}"$""".r

  /** Each task of an artifact with its `application_args`, the `{{ ds }}`
    * template bound to [[ds]] and each Airflow Variable `v` to `/vars/v`.
    */
  private def tasks(artifact: String): Seq[(String, Array[String])] = {
    val py = Files.readString(Paths.get(artifact))
    val vars = variable.findAllMatchIn(py).map(m => m.group(1) -> s"/vars/${m.group(2)}").toMap
    taskBlock.findAllMatchIn(py).map { m =>
      val raw = m.group(2) + Option(m.group(3)).getOrElse("")
      m.group(1) -> token.findAllMatchIn(raw).map { t =>
        Option(t.group(1)).map(v => if (v == "{{ ds }}") ds else v).getOrElse(vars(t.group(2)))
      }.toArray
    }.toSeq
  }

  private case class Runner(dag: Dag, artifact: String, main: Array[String] => Unit,
      expected: String => Any, roots: Seq[String])

  private val runners = Seq(
    Runner(CoinDag, "orchestration/coin_pipeline_dag.py", CoinStageRunner.main,
      stage => CoinDag.StageConf(ds, "/vars/graft_raw_root", "/vars/graft_bronze_root",
        "/vars/graft_lake_root", "/vars/graft_serve_root",
        apiUrl = Some("/vars/graft_api_url").filter(_ => stage == "extract"), scheduled = true),
      Seq("raw-root", "bronze-root", "lake-root", "serve-root")),
    Runner(LakeDag, "orchestration/lake_maintenance_dag.py", LakeStageRunner.main,
      _ => LakeDag.StageConf(ds, "/vars/graft_lake_input_root", "/vars/graft_lake_root"),
      Seq("input-root", "lake-root")),
    Runner(CorpusDag, "orchestration/corpus_pipeline_dag.py", CorpusStageRunner.main,
      _ => CorpusDag.StageConf(ds, "/vars/graft_corpus_input_dir", "/vars/graft_corpus_lake_root"),
      Seq("input-dir", "lake-root")))

  /** `now` defaults to the clock; everything else must agree. */
  private def comparable(conf: Any): Any = conf match {
    case c: CoinDag.StageConf => c.copy(now = java.time.Instant.EPOCH)
    case other => other
  }

  test("every task's artifact arguments build the conf the stage expects") {
    runners.foreach { r =>
      val ts = tasks(r.artifact)
      ts.map(_._1) shouldBe r.dag.stageChain
      ts.foreach { case (stage, args) =>
        withClue(s"${r.dag.name}:$stage ${args.mkString(" ")}: ") {
          val (s, conf) = r.dag.task(args)
          s shouldBe stage
          comparable(conf) shouldBe comparable(r.expected(stage))
        }
      }
    }
  }

  test("--render-dag writes the checked-in artifact, whose MAIN_CLASS is the runner") {
    runners.foreach { r =>
      val out = Files.createTempDirectory("render-dag").resolve("dag.py")
      r.main(Array("--render-dag", out.toString))
      Files.readString(out) shouldBe Files.readString(Paths.get(r.artifact))
    }
    Seq(CoinStageRunner, LakeStageRunner, CorpusStageRunner)
      .map(_.getClass.getName.stripSuffix("$")) shouldBe runners.map(_.dag.mainClass)
  }

  test("a bad command line fails before a session starts, and stops none") {
    runners.foreach { r =>
      val roots = r.roots.flatMap(f => Seq(s"--$f", "/tmp/graft-runner"))
      withClue(s"${r.dag.name}: ") {
        intercept[IllegalArgumentException](
          r.main(Array("--stage", "no_such_stage", "--ds", ds) ++ roots))
          .getMessage should include("no_such_stage")
        intercept[IllegalArgumentException](
          r.main(Array("--stage", r.dag.stageChain.last, "--ds", ds) ++ roots.drop(2)))
          .getMessage should include(s"--${r.roots.head}")
        intercept[IllegalArgumentException](
          r.main(Array("--stage", r.dag.stageChain.last, "--ds", "20260113") ++ roots))
        spark.sparkContext.isStopped shouldBe false
      }
    }
    // the one per-stage flag: `extract` needs the endpoint it fetches
    intercept[IllegalArgumentException](CoinDag.task(Array("--stage", "extract", "--ds", ds) ++
      runners.head.roots.flatMap(f => Seq(s"--$f", "/tmp/graft-runner"))))
      .getMessage should include("--api-url")
    spark.sparkContext.isStopped shouldBe false
  }
}
