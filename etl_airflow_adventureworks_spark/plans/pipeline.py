"""Materialized star-schema build — the end-to-end warehouse pipeline.

Owns the warehouse layout: the dimension-DAGs-then-fact load order
(README.md:113 — here explicit in code instead of a human instruction,
SURVEY.md §3 entry point B) over the tables named in
``sources.parquet.WAREHOUSE_TABLES``, and the fact's year partitioning.
``build_star`` and the Airflow task callables both load through
``build_table``. The fact build reads the materialized dims back from
parquet exactly as the reference reads them back from Postgres
(dags/etl_fato_vendas.py:17-24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QUERIES, load_all
from ..sinks import write_table
from ..sources import load_table
from ..sources.parquet import WAREHOUSE_TABLES
from .star import fact_sales

#: the registry query that loads each warehouse table (``etl_<table>``):
#: every dimension, in order, then the fact after all of them
*_DIM_TABLES, _FACT_TABLE = WAREHOUSE_TABLES
DIMS = tuple(f"etl_{t}" for t in _DIM_TABLES)
FACT = f"etl_{_FACT_TABLE}"


def build_table(spark: SparkSession, sf_dir: str, out_dir: str, name: str) -> int:
    """Load one warehouse table (a ``DIMS`` name or ``FACT``) from the
    sources in ``sf_dir`` into ``out_dir``; returns its row count (the
    reference's printed load count, e.g. etl_dim_produto.py:61)."""
    table = name.removeprefix("etl_")
    if name == FACT:
        # partition the fact by year for downstream partition pruning (the
        # scale replacement for the reference's fact-FK b-tree indexes)
        fact = fact_from_warehouse(spark, sf_dir, out_dir)
        df = fact.withColumn("ano", (F.col("sk_tempo") / 10000).cast("int"))
        partition_by = ["ano"]
    else:
        load_all()
        df, partition_by = QUERIES[name](spark, sf_dir), None
    write_table(df, f"{out_dir}/{table}.parquet", partition_by=partition_by)
    return load_table(spark, out_dir, table).count()


def build_star(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Build and materialize the dims, then the fact FROM the materialized
    dims. Returns row counts per table."""
    return {
        name.removeprefix("etl_"): build_table(spark, sf_dir, out_dir, name)
        for name in (*DIMS, FACT)
    }


def fact_from_warehouse(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """The fact plan joining against the *materialized* dimension tables
    (natural-key lookups, op 18) — the production shape of
    plans.star.etl_fact_sales."""
    # the customer's nation is the fact's address-grain source (the
    # reference reads the ship-to address id off the order header,
    # etl_fato_vendas.py:60-67), joined on the dimension side
    cust_nation = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dim_customer = load_table(spark, out_dir, "dim_customer_geo").join(
        cust_nation, F.col("id_cliente_original") == F.col("c_custkey"), "left"
    )
    return fact_sales(
        spark,
        sf_dir,
        load_table(spark, out_dir, "dim_part"),
        dim_customer,
        load_table(spark, out_dir, "dim_supplier"),
        load_table(spark, out_dir, "dim_locality"),
    )
