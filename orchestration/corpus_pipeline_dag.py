# GENERATED by graft.orchestration.Dag.renderAirflowDag — do not edit
# by hand. Regenerate with:
#   sbt "runMain graft.orchestration.CorpusStageRunner --render-dag orchestration/corpus_pipeline_dag.py"
# A spec asserts this file matches the generator output.
#
# LLM corpus curation funnel (graft engine).
# Each task is one spark-submit of an idempotent stage; state hands off
# through the lake, so any task can retry alone. Retry policy: the
# reference's (dags/coin_data_pipeline_optimized.py:47-48).
from datetime import timedelta

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)
from airflow.utils.dates import days_ago

JAR_PATH = "{{ var.value.graft_jar_path }}"
MAIN_CLASS = "graft.orchestration.CorpusStageRunner"
INPUT_DIR = "{{ var.value.graft_corpus_input_dir }}"
LAKE_ROOT = "{{ var.value.graft_corpus_lake_root }}"

default_args = {
    "owner": "data-platform",
    "depends_on_past": False,
    "retries": 2,
    "retry_delay": timedelta(minutes=5),
    "email_on_failure": False,
    "email_on_retry": False,
}

dag = DAG(
    dag_id="corpus_curation_pipeline_graft",
    default_args=default_args,
    description="LLM corpus curation funnel (graft engine)",
    schedule_interval="@daily",
    start_date=days_ago(1),
    catchup=False,
)

annotate = SparkSubmitOperator(
    task_id="annotate",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "annotate",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

filter_quality_language = SparkSubmitOperator(
    task_id="filter_quality_language",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "filter_quality_language",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

exact_dedup = SparkSubmitOperator(
    task_id="exact_dedup",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "exact_dedup",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

near_dedup = SparkSubmitOperator(
    task_id="near_dedup",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "near_dedup",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

compact_index = SparkSubmitOperator(
    task_id="compact_index",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "compact_index",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

segment_dedup = SparkSubmitOperator(
    task_id="segment_dedup",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "segment_dedup",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

export_jsonl = SparkSubmitOperator(
    task_id="export_jsonl",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "export_jsonl",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

funnel_report = SparkSubmitOperator(
    task_id="funnel_report",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "funnel_report",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

vacuum_retention = SparkSubmitOperator(
    task_id="vacuum_retention",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "vacuum_retention",
        "--ds", "{{ ds }}",
        "--input-dir", INPUT_DIR,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

annotate >> filter_quality_language >> exact_dedup >> near_dedup >> compact_index >> segment_dedup >> export_jsonl >> funnel_report >> vacuum_retention
