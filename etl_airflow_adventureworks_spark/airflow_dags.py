"""Thin Airflow DAG wrappers — orchestration stays OUTSIDE the engine.

BASELINE.json approach: "Spark jobs orchestrated by Airflow". The reference
buries pandas transforms inside PythonOperator callables
(dags/etl_dim_produto.py:78-81) and leaves the dims→fact ordering as a
README instruction (README.md:113, SURVEY.md §3 entry point B). Here each
task is a thin call into the engine's plans, and the dependency is a real
DAG edge: ``[dims...] >> fact``. The in-process ``plans.pipeline.build_star``
mirrors that edge: it runs the dimension loads concurrently, then the fact.

Airflow is not installed in the build image, so everything is gated behind
an import-try; ``build_dag()`` returns None without Airflow. Deployments
put this module on the dags/ path and configure via env vars:
SPARK_GRAFT_SF_DIR (input tables), SPARK_WAREHOUSE_DIR (parquet warehouse).
"""

from __future__ import annotations

import os

try:  # pragma: no cover - exercised only where Airflow is installed
    from airflow import DAG
    from airflow.operators.python import PythonOperator

    HAS_AIRFLOW = True
except ImportError:
    DAG = None
    PythonOperator = None
    HAS_AIRFLOW = False


def _run_table(name: str) -> int:
    """One warehouse table load (``plans.pipeline.build_table`` of a
    ``DIMS`` name or ``FACT``) in the worker's SparkSession — the
    Airflow-worker equivalent of the reference's per-DAG process."""
    from .plans.pipeline import build_table
    from .session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_warehouse")
    # getOrCreate: reuse the worker's session. An Airflow task runs in its
    # own forked process, so the session's lifetime is the task's — no
    # explicit stop() (which would tear down a shared session in-process).
    spark = get_spark(app_name=name)
    n = build_table(spark, sf_dir, out_dir, name)
    print(f"Carga concluída! {n} registros em {name.removeprefix('etl_')}.")
    return n


def build_dag(dag_id: str = "etl_star_schema"):
    """The warehouse DAG: all dimension loads in parallel, then the fact —
    the reference's implicit ordering made an explicit edge."""
    if not HAS_AIRFLOW:
        return None
    from datetime import datetime

    from .plans.pipeline import DIMS, FACT

    with DAG(
        dag_id,
        start_date=datetime(2023, 1, 1),
        schedule=None,
        catchup=False,
        default_args={"owner": "airflow", "retries": 1},
        tags=["dw", "spark", "adventureworks"],
    ) as dag:
        dims = [
            PythonOperator(task_id=name, python_callable=_run_table, op_args=[name])
            for name in DIMS
        ]
        fact = PythonOperator(task_id=FACT, python_callable=_run_table, op_args=[FACT])
        dims >> fact
    return dag


dag = build_dag()
