# GENERATED by graft.orchestration.Dag.renderAirflowDag — do not edit
# by hand. Regenerate with:
#   sbt "runMain graft.orchestration.LakeStageRunner --render-dag orchestration/lake_maintenance_dag.py"
# A spec asserts this file matches the generator output.
#
# Keyed lake table maintenance: ingest, compact, refresh views, retention, audit.
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
MAIN_CLASS = "graft.orchestration.LakeStageRunner"
INPUT_ROOT = "{{ var.value.graft_lake_input_root }}"
LAKE_ROOT = "{{ var.value.graft_lake_root }}"

default_args = {
    "owner": "data-platform",
    "depends_on_past": False,
    "retries": 2,
    "retry_delay": timedelta(minutes=5),
    "email_on_failure": False,
    "email_on_retry": False,
}

dag = DAG(
    dag_id="graft_lake_maintenance",
    default_args=default_args,
    description="Keyed lake table maintenance: ingest, compact, refresh views, retention, audit",
    schedule_interval="@daily",
    start_date=days_ago(1),
    catchup=False,
)

ingest_upserts = SparkSubmitOperator(
    task_id="ingest_upserts",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "ingest_upserts",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

apply_deletes = SparkSubmitOperator(
    task_id="apply_deletes",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "apply_deletes",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

compact_maintenance = SparkSubmitOperator(
    task_id="compact_maintenance",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "compact_maintenance",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

compact_metadata = SparkSubmitOperator(
    task_id="compact_metadata",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "compact_metadata",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

refresh_views = SparkSubmitOperator(
    task_id="refresh_views",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "refresh_views",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
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
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

audit_report = SparkSubmitOperator(
    task_id="audit_report",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "audit_report",
        "--ds", "{{ ds }}",
        "--input-root", INPUT_ROOT,
        "--lake-root", LAKE_ROOT,
    ],
    dag=dag,
)

ingest_upserts >> apply_deletes >> compact_maintenance >> compact_metadata >> refresh_views >> vacuum_retention >> audit_report
