package graft.orchestration

import graft.JobLabel
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** One scheduler-twinned DAG: an ordered chain of idempotent stages whose
  * only state handoff is durable lake/warehouse layout, so any task can
  * retry alone. A DAG object declares only what differs between DAGs — its
  * stages (name → body, in chain order), its short `name` (the label and
  * `appName` token), its Airflow `dagId` and `description`, the `artifact`
  * path and its `flags` — and this class derives the rest:
  *  - [[stageChain]], the task ids in order;
  *  - [[runStage]], every stage run under the job label `<name>:<stage>`;
  *  - [[renderAirflowDag]], the Airflow artifact: one `SparkSubmitOperator`
  *    per stage with the reference retry policy, chained linearly. Each
  *    DAG's spec asserts the checked-in artifact equals it byte for byte;
  *  - [[submit]], the spark-submit entry behind each artifact's
  *    `MAIN_CLASS`, which reads the flags the artifact passes.
  */
abstract class Dag(
    val name: String,
    dagId: String,
    description: String,
    artifact: String,
    flags: Seq[Dag.Flag]) {

  /** Everything a stage needs to find its inputs and outputs. */
  type StageConf

  /** One task of the chain; `extra` is a flag only this task passes. */
  protected final class Stage(val name: String, val extra: Option[Dag.Flag],
      val run: (SparkSession, StageConf) => Unit)

  protected def stage(name: String, extra: Option[Dag.Flag] = None)(
      run: (SparkSession, StageConf) => Unit): Stage = new Stage(name, extra, run)

  /** The chain, in order. */
  protected def stages: Seq[Stage]

  /** The conf a task's `--ds` and flag values name; every required flag of
    * the task is present in `arg`.
    */
  protected def conf(ds: String, arg: Map[String, String]): StageConf

  lazy val stageChain: Seq[String] = stages.map(_.name)

  /** Reference retry policy (`coin_data_pipeline_optimized.py:47-48`). */
  val retries: Int           = 2
  val retryDelayMinutes: Int = 5

  /** The artifact's `MAIN_CLASS`: this DAG's entry in `StageRunners.scala`. */
  def mainClass: String = s"graft.orchestration.${name.capitalize}StageRunner"

  private def stageOf(stage: String): Stage =
    stages.find(_.name == stage).getOrElse(throw new IllegalArgumentException(
      s"unknown $name stage '$stage'; expected one of: ${stageChain.mkString(", ")}"))

  /** Execute one task of the chain. Every stage is idempotent: re-running a
    * stage after a crash (or an Airflow retry) converges. Every job a stage
    * runs is labelled `<name>:<stage>`; an engine label set inside the
    * stage (`lake:write`, …) wins within its own call.
    */
  def runStage(spark: SparkSession, stage: String, conf: StageConf): Unit = {
    val s = stageOf(stage)
    JobLabel(spark, s"$name:$stage")(s.run(spark, conf))
  }

  /** A task's stage and conf from its `--flag value` arguments. Throws
    * `IllegalArgumentException` on an unknown stage, a missing required
    * flag or a malformed `ds`, so a bad command line fails before any
    * session starts.
    */
  def task(args: Array[String]): (String, StageConf) = {
    val opts = Dag.parseArgs(args)
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k"))
    val s = stageOf(req("stage"))
    (flags ++ s.extra).filter(_.required).foreach(f => req(f.name))
    (s.name, conf(req("ds"), opts))
  }

  /** spark-submit entry: run the task `args` name, or with
    * `--render-dag <path>` write [[renderAirflowDag]] to `path`.
    */
  def submit(args: Array[String]): Unit =
    Dag.parseArgs(args).get("render-dag") match {
      case Some(path) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), renderAirflowDag())
        println(s"[orchestration] wrote DAG artifact to $path")
      case None =>
        val (stage, conf) = task(args)
        val spark = SparkSession.builder()
          .appName(s"graft-$name-$stage")
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate()
        try runStage(spark, stage, conf)
        finally spark.stop()
    }

  /** The Airflow DAG artifact: one `SparkSubmitOperator` per stage, chained
    * linearly in order, with the reference retry policy.
    */
  def renderAirflowDag(): String = {
    def pass(f: Dag.Flag): String = s""""--${f.name}", ${f.arg}"""
    val tasks = stages.map { s =>
      s"""${s.name} = SparkSubmitOperator(
         |    task_id="${s.name}",
         |    application=JAR_PATH,
         |    java_class=MAIN_CLASS,
         |    application_args=[
         |        "--stage", "${s.name}",
         |        "--ds", "{{ ds }}",
         |${flags.map(f => s"        ${pass(f)},\n").mkString}    ]${s.extra.map(f => s" + [${pass(f)}]").getOrElse("")},
         |    dag=dag,
         |)
         |""".stripMargin
    }.mkString("\n")
    val variables = (flags ++ stages.flatMap(_.extra)).collect {
      case v: Dag.Var => s"""${v.arg} = "{{ var.value.${v.variable} }}"\n"""
    }.mkString
    s"""# GENERATED by graft.orchestration.Dag.renderAirflowDag — do not edit
       |# by hand. Regenerate with:
       |#   sbt "runMain $mainClass --render-dag $artifact"
       |# A spec asserts this file matches the generator output.
       |#
       |# $description.
       |# Each task is one spark-submit of an idempotent stage; state hands off
       |# through the lake, so any task can retry alone. Retry policy: the
       |# reference's (dags/coin_data_pipeline_optimized.py:47-48).
       |from datetime import timedelta
       |
       |from airflow import DAG
       |from airflow.providers.apache.spark.operators.spark_submit import (
       |    SparkSubmitOperator,
       |)
       |from airflow.utils.dates import days_ago
       |
       |JAR_PATH = "{{ var.value.graft_jar_path }}"
       |MAIN_CLASS = "$mainClass"
       |$variables
       |default_args = {
       |    "owner": "data-platform",
       |    "depends_on_past": False,
       |    "retries": $retries,
       |    "retry_delay": timedelta(minutes=$retryDelayMinutes),
       |    "email_on_failure": False,
       |    "email_on_retry": False,
       |}
       |
       |dag = DAG(
       |    dag_id="$dagId",
       |    default_args=default_args,
       |    description="$description",
       |    schedule_interval="@daily",
       |    start_date=days_ago(1),
       |    catchup=False,
       |)
       |
       |$tasks
       |${stageChain.mkString(" >> ")}
       |""".stripMargin
  }
}

object Dag {

  /** One `--name value` argument of a task: what the artifact passes
    * (`arg`) and whether a task run by hand must pass it too.
    */
  sealed trait Flag {
    def name: String
    def arg: String
    def required: Boolean
  }

  /** Bound to the Airflow Variable `variable` through a module constant
    * named after the flag (`--raw-root` → `RAW_ROOT`).
    */
  final case class Var(name: String, variable: String) extends Flag {
    def arg: String = name.toUpperCase(Locale.ROOT).replace('-', '_')
    def required: Boolean = true
  }

  /** A literal every scheduled task passes; optional when run by hand. */
  final case class Literal(name: String, value: String) extends Flag {
    def arg: String = s""""$value""""
    def required: Boolean = false
  }

  /** Every DAG's `ds`: a delivery date, `yyyy-MM-dd`. It names partitions
    * and files and orders versions, so a bad scheduler template fails at
    * conf construction, loudly.
    */
  def requireDs(ds: String): Unit =
    require(ds.matches("\\d{4}-\\d{2}-\\d{2}"), s"ds must be a yyyy-MM-dd date, got '$ds'")

  /** `--key value` pairs → map (later occurrences win). */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
