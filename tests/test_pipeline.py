"""End-to-end materialized star build: dims → parquet → fact, idempotent."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from etl_airflow_adventureworks_spark.plans.pipeline import build_star
from etl_airflow_adventureworks_spark.registry import QUERIES, load_all
from etl_airflow_adventureworks_spark.sources import load_table
from etl_airflow_adventureworks_spark.sources.parquet import WAREHOUSE_TABLES


def test_build_star_end_to_end(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    counts = build_star(spark, SF_SMOKE, out)
    assert counts["dim_date"] == 2557  # 1995-01-01..2001-12-31
    assert counts["dim_part"] > 0
    assert counts["dim_customer_geo"] > 0
    assert counts["dim_supplier"] > 0
    assert counts["dim_locality"] > 0  # 5th dim (create_dw_tables.sql:32-38)
    assert counts["fact_sales"] > 0

    # idempotence: overwrite-mode rerun yields identical counts (the
    # reference's TRUNCATE-before-load contract, etl_dim_produto.py:50-59)
    counts2 = build_star(spark, SF_SMOKE, out)
    assert counts == counts2
    assert set(counts) == set(WAREHOUSE_TABLES)

    # one fact plan: over the materialized dims it yields the registry
    # etl_fact_sales rows (whose DuckDB oracle pins them) plus the
    # warehouse-only valor_unitario and the ano partition column
    load_all()
    want = QUERIES["etl_fact_sales"](spark, SF_SMOKE)
    got = load_table(spark, out, "fact_sales")
    assert set(got.columns) - set(want.columns) == {"valor_unitario", "ano"}
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )

    # fact is partitioned by year → partition pruning works
    fact = spark.read.parquet(f"{out}/fact_sales.parquet")
    assert "ano" in fact.columns
    plan = fact.filter(F.col("ano") == 1995)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or fact.filter(F.col("ano") == 1995).count() > 0

    # every fact FK resolves against its dim (referential integrity audit
    # via anti-join, SURVEY.md §1.4)
    dim_part = spark.read.parquet(f"{out}/dim_part.parquet")
    orphans = fact.join(
        dim_part, fact["sk_produto"] == dim_part["sk_produto"], "left_anti"
    ).count()
    assert orphans == 0


#: Spark jobs one warm ``build_star`` at SF_SMOKE may run: each table is
#: one write whose row count is observed on the write itself (no count()
#: re-read), plus the plans' own jobs
BUILD_JOB_BUDGET = 28


def test_build_star_job_budget(spark, smoke_star, tmp_path):
    out = str(tmp_path / "warehouse")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "test-build-star-budget"
    sc.setJobGroup(group, "one warm build_star")
    try:
        counts = build_star(spark, SF_SMOKE, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == smoke_star[1]
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(tracker.getJobIdsForGroup(group))
    assert 0 < jobs <= BUILD_JOB_BUDGET, jobs
    # the concurrent dims ran in the caller's job group, not outside it
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


class _DimFailed(RuntimeError):
    pass


def test_build_star_dim_failure_leaves_fact(spark, smoke_star, tmp_path, monkeypatch):
    out = str(tmp_path / "warehouse")
    shutil.copytree(smoke_star[0], out)
    success = os.path.join(out, "fact_sales.parquet", "_SUCCESS")
    before = os.stat(success)

    def fail(spark, sf_dir):
        raise _DimFailed("supplier source unavailable")

    load_all()
    monkeypatch.setitem(QUERIES, "etl_dim_supplier", fail)
    threads = set(threading.enumerate())
    with pytest.raises(_DimFailed, match="supplier source unavailable"):
        build_star(spark, SF_SMOKE, out)
    # the fact was not rebuilt from a partial set of dims
    after = os.stat(success)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    # every pool thread has finished by the time build_star returns
    assert set(threading.enumerate()) <= threads
