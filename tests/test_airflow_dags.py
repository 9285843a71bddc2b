"""Airflow wrapper tests: import-gated module + task callables run without
Airflow installed (the callables ARE the engine surface the DAG schedules)."""

from __future__ import annotations

import os

from conftest import SF_SMOKE

from etl_airflow_adventureworks_spark import airflow_dags
from etl_airflow_adventureworks_spark.plans.pipeline import DIMS, FACT


def test_module_imports_without_airflow():
    # in this image Airflow is absent: the module must still import and
    # build_dag must degrade to None rather than raise
    if not airflow_dags.HAS_AIRFLOW:
        assert airflow_dags.build_dag() is None


def test_task_callables_run(smoke_star, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_WAREHOUSE_DIR", str(tmp_path / "wh"))
    counts = {name.removeprefix("etl_"): airflow_dags._run_table(name) for name in (*DIMS, FACT)}
    assert all(n > 0 for n in counts.values())
    assert os.path.exists(tmp_path / "wh" / "fact_sales.parquet")
    # the tasks load through the same build_table as build_star
    assert counts == smoke_star[1]
