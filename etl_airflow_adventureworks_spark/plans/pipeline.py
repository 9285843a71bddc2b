"""Materialized star-schema build — the end-to-end warehouse pipeline.

Owns the warehouse layout: the dimension-DAGs-then-fact load order
(README.md:113 — here explicit in code instead of a human instruction,
SURVEY.md §3 entry point B) over the tables named in
``sources.parquet.WAREHOUSE_TABLES``, and the fact's year partitioning.
``build_star`` runs that DAG in-process, the shape ``airflow_dags``
schedules: the dimension loads run concurrently on the one session,
then the fact once all of them have returned. ``build_star`` and the
Airflow task callables both load through ``build_table``, whose row
count comes from the write itself. The fact build reads the
materialized dims back from parquet exactly as the reference reads them
back from Postgres (dags/etl_fato_vendas.py:17-24).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QUERIES, load_all
from ..sinks import write_table
from ..sources import load_table
from ..sources.parquet import WAREHOUSE_TABLES
from .star import fact_sales

#: the registry query that loads each warehouse table (``etl_<table>``):
#: the dimensions (independent of each other), then the fact after all of them
*_DIM_TABLES, _FACT_TABLE = WAREHOUSE_TABLES
DIMS = tuple(f"etl_{t}" for t in _DIM_TABLES)
FACT = f"etl_{_FACT_TABLE}"


def build_table(spark: SparkSession, sf_dir: str, out_dir: str, name: str) -> int:
    """Load one warehouse table (a ``DIMS`` name or ``FACT``) from the
    sources in ``sf_dir`` into ``out_dir``; returns its row count (the
    reference's printed load count, e.g. etl_dim_produto.py:61), as
    counted by the write."""
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
    rows = write_table(df, f"{out_dir}/{table}.parquet", partition_by=partition_by)
    # re-open now — a driver-side listing and footer read, not a job — so
    # the reads that follow a refresh find a fresh memo handle
    load_table(spark, out_dir, table)
    return rows


def build_star(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Build and materialize the dims, then the fact FROM the materialized
    dims; returns row counts per table, each counted by its write.

    The dims do not depend on each other, so they load concurrently, one
    thread each, on ``spark``; the threads inherit the caller's job group
    and local properties. The fact starts only after every dim has
    returned. If a dim raises, the error is re-raised once the running
    dims finish, and the fact is not built from a partial set."""
    load_all()
    task = inheritable_thread_target(spark)(
        lambda name: build_table(spark, sf_dir, out_dir, name)
    )
    with ThreadPoolExecutor(len(DIMS)) as pool:
        dims = {name: pool.submit(task, name) for name in DIMS}
    # the pool has joined every dim; result() re-raises a dim's error
    counts = {name.removeprefix("etl_"): f.result() for name, f in dims.items()}
    counts[FACT.removeprefix("etl_")] = build_table(spark, sf_dir, out_dir, FACT)
    return counts


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
