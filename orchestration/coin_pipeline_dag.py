# GENERATED by graft.orchestration.Dag.renderAirflowDag — do not edit
# by hand. Regenerate with:
#   sbt "runMain graft.orchestration.CoinStageRunner --render-dag orchestration/coin_pipeline_dag.py"
# A spec asserts this file matches the generator output.
#
# Spark-native coin medallion pipeline (graft engine).
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
MAIN_CLASS = "graft.orchestration.CoinStageRunner"
RAW_ROOT = "{{ var.value.graft_raw_root }}"
BRONZE_ROOT = "{{ var.value.graft_bronze_root }}"
LAKE_ROOT = "{{ var.value.graft_lake_root }}"
SERVE_ROOT = "{{ var.value.graft_serve_root }}"
API_URL = "{{ var.value.graft_api_url }}"

default_args = {
    "owner": "data-platform",
    "depends_on_past": False,
    "retries": 2,
    "retry_delay": timedelta(minutes=5),
    "email_on_failure": False,
    "email_on_retry": False,
}

dag = DAG(
    dag_id="coin_data_pipeline_graft",
    default_args=default_args,
    description="Spark-native coin medallion pipeline (graft engine)",
    schedule_interval="@daily",
    start_date=days_ago(1),
    catchup=False,
)

create_tables = SparkSubmitOperator(
    task_id="create_tables",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "create_tables",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

extract = SparkSubmitOperator(
    task_id="extract",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "extract",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ] + ["--api-url", API_URL],
    dag=dag,
)

upload_raw_to_s3 = SparkSubmitOperator(
    task_id="upload_raw_to_s3",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "upload_raw_to_s3",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

transform_bronze_to_silver = SparkSubmitOperator(
    task_id="transform_bronze_to_silver",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "transform_bronze_to_silver",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate = SparkSubmitOperator(
    task_id="validate",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

load_dim = SparkSubmitOperator(
    task_id="load_dim",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "load_dim",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

load_fact = SparkSubmitOperator(
    task_id="load_fact",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "load_fact",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

build_gold_minio = SparkSubmitOperator(
    task_id="build_gold_minio",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "build_gold_minio",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

load_gold_postgres = SparkSubmitOperator(
    task_id="load_gold_postgres",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "load_gold_postgres",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate_gold_row_count = SparkSubmitOperator(
    task_id="validate_gold_row_count",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate_gold_row_count",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate_gold_sanity = SparkSubmitOperator(
    task_id="validate_gold_sanity",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate_gold_sanity",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate_gold_freshness = SparkSubmitOperator(
    task_id="validate_gold_freshness",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate_gold_freshness",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate_gold_sla = SparkSubmitOperator(
    task_id="validate_gold_sla",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate_gold_sla",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

validate_gold = SparkSubmitOperator(
    task_id="validate_gold",
    application=JAR_PATH,
    java_class=MAIN_CLASS,
    application_args=[
        "--stage", "validate_gold",
        "--ds", "{{ ds }}",
        "--raw-root", RAW_ROOT,
        "--bronze-root", BRONZE_ROOT,
        "--lake-root", LAKE_ROOT,
        "--serve-root", SERVE_ROOT,
        "--scheduled", "true",
    ],
    dag=dag,
)

create_tables >> extract >> upload_raw_to_s3 >> transform_bronze_to_silver >> validate >> load_dim >> load_fact >> build_gold_minio >> load_gold_postgres >> validate_gold_row_count >> validate_gold_sanity >> validate_gold_freshness >> validate_gold_sla >> validate_gold
