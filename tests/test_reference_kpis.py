"""The reference's literal KPI SQL over the migrated warehouse must agree
with the engine's native KPI queries computed from the raw tables."""

from __future__ import annotations

import shutil

import pytest

from conftest import SF_SMOKE

import __spark_entry__ as entrymod
from etl_airflow_adventureworks_spark.plans.kpis import KPI_DF
from etl_airflow_adventureworks_spark.plans.reference_kpis import (
    REFERENCE_KPI_SQL,
    run_reference_kpi,
)
from etl_airflow_adventureworks_spark.sinks import write_table
from etl_airflow_adventureworks_spark.sources import load_table

REL = 1e-9  # warehouse stores doubles; internal-consistency, not oracle-hash


@pytest.fixture(scope="module")
def warehouse(smoke_star):
    return smoke_star[0]


def _one(df):
    return df.collect()[0][0]


def test_all_reference_kpis_run(spark, warehouse):
    for name in REFERENCE_KPI_SQL:
        rows = run_reference_kpi(spark, warehouse, name).collect()
        assert len(rows) > 0, name


def test_net_revenue_agrees(spark, warehouse):
    ref = _one(run_reference_kpi(spark, warehouse, "kpi2_faturamento_liquido"))
    native = _one(KPI_DF["kpi02_net_revenue"](spark, SF_SMOKE))
    assert ref == pytest.approx(native, rel=REL)


def test_volume_and_discount_agree(spark, warehouse):
    ref_qty = _one(run_reference_kpi(spark, warehouse, "kpi4_total_itens"))
    native_qty = _one(KPI_DF["kpi04_total_volume"](spark, SF_SMOKE))
    assert ref_qty == native_qty
    ref_disc = _one(run_reference_kpi(spark, warehouse, "kpi3_total_descontos"))
    native_disc = _one(KPI_DF["kpi03_total_discount"](spark, SF_SMOKE))
    assert ref_disc == pytest.approx(native_disc, rel=REL)


def test_top5_products_agree(spark, warehouse):
    # join via surrogate keys in the warehouse must reproduce the raw-table
    # top-5 (names and order)
    ref = [r["nome_produto"] for r in run_reference_kpi(spark, warehouse, "kpi5_top5_produtos").collect()]
    native = [
        r["p_name"]
        for r in entrymod.queries()["kpi05_top5_products"](spark, SF_SMOKE).collect()
    ]
    assert ref == native


def test_seasonality_agrees(spark, warehouse):
    ref = {
        (r["ano"], r["mes"]): (r["nome_mes"], r["total_vendas"])
        for r in run_reference_kpi(spark, warehouse, "kpi8_sazonalidade").collect()
    }
    native = {
        (r["ano"], r["mes"]): (r["nome_mes"], r["net_revenue"])
        for r in entrymod.queries()["kpi08_seasonality"](spark, SF_SMOKE).collect()
    }
    assert set(ref) == set(native)
    for k, (nome, val) in ref.items():
        assert nome == native[k][0]
        assert val == pytest.approx(native[k][1], rel=REL)


@pytest.mark.parametrize("writer", ["write_table", "plain_overwrite"])
def test_rewritten_fact_is_seen(spark, warehouse, tmp_path, writer):
    # the views sit on memoized scan handles: a fact rewritten in place —
    # by a same-session write_table, or by a writer that bypasses the sinks
    # (another process's rebuild) — must be re-opened by the next KPI
    out = str(tmp_path / "wh")
    shutil.copytree(warehouse, out)
    qty = _one(run_reference_kpi(spark, out, "kpi4_total_itens"))
    assert qty == _one(KPI_DF["kpi04_total_volume"](spark, SF_SMOKE))
    fact = load_table(spark, out, "fact_sales")
    rows = fact.limit(3).collect()
    new = spark.createDataFrame(rows, fact.schema)
    if writer == "write_table":
        write_table(new, f"{out}/fact_sales.parquet", partition_by=["ano"])
    else:
        new.write.mode("overwrite").partitionBy("ano").parquet(f"{out}/fact_sales.parquet")
    assert _one(run_reference_kpi(spark, out, "kpi4_total_itens")) == sum(
        r["qtd_vendida"] for r in rows
    )
