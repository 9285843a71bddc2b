"""Star-schema ETL plans — the reference's six pipelines over testdata.

Reference pipelines (SURVEY.md §3): five dimension ETLs + the composite fact
ETL (dags/etl_dim_*.py, dags/etl_fato_vendas.py), each eager pandas ending in
a TRUNCATE+append Postgres load. Here each is ONE lazy Catalyst plan; the
write side (overwrite-mode parquet ≡ truncate-and-load idempotence) lives in
``plans.pipeline``.

Schema mapping (FIXTURES.md): part→dim_produto shape, customer⋈nation⋈region
→dim_localidade/cliente geo snowflake, supplier⋈nation⋈region→dim_vendedor,
generated calendar→dim_tempo, orders⋈lineitem→fato_vendas.

Scale notes: dimension surrogate keys use a global row_number over the
business key — a single-partition window, acceptable *by definition* for
dimensions (they broadcast; if it doesn't fit a partition it isn't a
broadcastable dim). The fact's id_venda is a smart key derived from
(orderkey, linenumber) — no global ordering, scales to any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import discount_amount, net_amount
from ..functions.scalar import (
    MONTH_NAMES_PT,
    full_name,
    month_name_pt,
    semester,
    surrogate_key,
    yyyymmdd_key,
)
from ..registry import query
from ..sources import load_table

CAL_START, CAL_END = "1995-01-01", "2001-12-31"


# ---------------------------------------------------------------------------
# dim_tempo — generated calendar (op 3 + ops 31-34; dags/etl_dim_tempo.py)
# ---------------------------------------------------------------------------

_SQL_MONTH_PT_OF = lambda col: (  # noqa: E731
    f"CASE CAST(month({col}) AS BIGINT) "
    + " ".join(f"WHEN {m} THEN '{n}'" for m, n in MONTH_NAMES_PT.items())
    + " END"
)


@query(
    "etl_dim_date",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(unnest(generate_series(DATE '{CAL_START}', DATE '{CAL_END}',
                                         INTERVAL 1 DAY)) AS DATE) AS data_completa
    )
    SELECT CAST(year(data_completa)*10000 + month(data_completa)*100
                + day(data_completa) AS BIGINT) AS sk_tempo,
           strftime(data_completa, '%Y-%m-%d') AS data_completa,
           CAST(year(data_completa) AS BIGINT) AS ano,
           CAST(month(data_completa) AS BIGINT) AS mes,
           {_SQL_MONTH_PT_OF("data_completa")} AS nome_mes,
           CAST(quarter(data_completa) AS BIGINT) AS trimestre,
           CAST(CASE WHEN month(data_completa) <= 6 THEN 1 ELSE 2 END AS BIGINT)
             AS semestre
    FROM cal
    """,
)
def etl_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension (dags/etl_dim_tempo.py:8-46): row-generator source
    (op 3) via sequence+explode — no driver-side loop — with date parts
    (op 31), pt-BR month names (op 33), semester (op 32), YYYYMMDD smart key
    (op 34). Range pinned to the testdata order-date span."""
    d = F.col("data_completa")
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(CAL_START).cast("date"),
                    F.lit(CAL_END).cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("data_completa")
        )
        .select(
            yyyymmdd_key(d).cast("long").alias("sk_tempo"),
            # ISO string at the boundary: pandas renders Spark DATE as
            # python date objects but DuckDB DATE as datetime64 — a raw
            # dtype mismatch under strict value-hash compares
            F.date_format(d, "yyyy-MM-dd").alias("data_completa"),
            F.year(d).cast("long").alias("ano"),
            F.month(d).cast("long").alias("mes"),
            month_name_pt(F.month(d)).alias("nome_mes"),
            F.quarter(d).cast("long").alias("trimestre"),
            semester(F.month(d)).cast("long").alias("semestre"),
        )
    )


# ---------------------------------------------------------------------------
# dim_produto shape (dags/etl_dim_produto.py) — part
# ---------------------------------------------------------------------------


@query(
    "etl_dim_part",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS sk_produto,
           p_partkey AS id_produto_original,
           p_name AS nome_produto,
           COALESCE(p_brand, 'Sem Categoria') AS nome_categoria,
           COALESCE(p_type, 'Sem Subcategoria') AS nome_subcategoria,
           CAST(p_size AS BIGINT) AS tamanho
    FROM part
    """,
)
def etl_dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product dimension (dags/etl_dim_produto.py:12-61): project + rename
    (ops 7, 9), null-default fills (op 28), deterministic surrogate key
    (op 36)."""
    return load_table(spark, sf_dir, "part").select(
        surrogate_key("p_partkey").alias("sk_produto"),
        F.col("p_partkey").alias("id_produto_original"),
        F.col("p_name").alias("nome_produto"),
        F.coalesce(F.col("p_brand"), F.lit("Sem Categoria")).alias("nome_categoria"),
        F.coalesce(F.col("p_type"), F.lit("Sem Subcategoria")).alias("nome_subcategoria"),
        F.col("p_size").cast("long").alias("tamanho"),
    )


# ---------------------------------------------------------------------------
# dim_cliente + dim_localidade shape (geo snowflake) — customer⋈nation⋈region
# ---------------------------------------------------------------------------

_SQL_DIM_CUSTOMER_GEO = """
    SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS sk_cliente,
           c_custkey AS id_cliente_original,
           trim(regexp_replace(concat_ws(' ', c_name, c_mktsegment), ' +', ' ', 'g'))
             AS nome_completo,
           CASE WHEN c_acctbal >= 0 THEN 'Individual' ELSE 'Store' END AS tipo_cliente,
           COALESCE(n_name, 'Desconhecida') AS estado,
           COALESCE(r_name, 'Desconhecida') AS pais
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
"""


@query("etl_dim_customer_geo", oracle=_SQL_DIM_CUSTOMER_GEO)
def etl_dim_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer+geography dimension (dags/etl_dim_cliente.py:9-64 +
    dags/etl_dim_localidade.py:10-72): 2-level snowflake flattening via
    chained left joins (op 16), name concat (op 29), CASE classification
    (op 13 shape), null-default fills (op 28), surrogate key (op 36).
    Both lookup sides broadcast — the fact-side rows never shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(
            surrogate_key("c_custkey").alias("sk_cliente"),
            F.col("c_custkey").alias("id_cliente_original"),
            full_name(F.col("c_name"), F.col("c_mktsegment")).alias("nome_completo"),
            F.when(F.col("c_acctbal") >= 0, F.lit("Individual"))
            .otherwise(F.lit("Store"))
            .alias("tipo_cliente"),
            F.coalesce(F.col("n_name"), F.lit("Desconhecida")).alias("estado"),
            F.coalesce(F.col("r_name"), F.lit("Desconhecida")).alias("pais"),
        )
    )


# ---------------------------------------------------------------------------
# dim_vendedor shape — supplier⋈nation⋈region
# ---------------------------------------------------------------------------


@query(
    "etl_dim_supplier",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS sk_vendedor,
           s_suppkey AS id_vendedor_original,
           trim(s_name) AS nome_vendedor,
           COALESCE(n_name, 'Não Informado') AS cargo
    FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def etl_dim_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salesperson dimension (dags/etl_dim_vendedor.py:10-75): chained left
    join (op 16 pattern), trim (op 29), fill 'Não Informado' (op 28),
    surrogate key (op 36)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return supplier.join(
        F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"], "left"
    ).select(
        surrogate_key("s_suppkey").alias("sk_vendedor"),
        F.col("s_suppkey").alias("id_vendedor_original"),
        F.trim(F.col("s_name")).alias("nome_vendedor"),
        F.coalesce(F.col("n_name"), F.lit("Não Informado")).alias("cargo"),
    )


# ---------------------------------------------------------------------------
# dim_localidade shape — nation⋈region at nation grain
# ---------------------------------------------------------------------------


@query(
    "etl_dim_locality",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS sk_localidade,
           n_nationkey AS id_localidade_original,
           'Não Informado' AS cidade,
           n_name AS estado,
           COALESCE(r_name, 'Desconhecida') AS pais
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def etl_dim_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography dimension at its own grain (dags/etl_dim_localidade.py:10-72;
    create_dw_tables.sql:32-38): the reference's 5th dimension, distinct
    from the customer dim — here at nation grain (the testdata's address
    granularity; nation=estado, region=pais). The city level doesn't exist
    in the testdata, so cidade carries the reference's own missing-value
    fill ('Não Informado', etl_dim_vendedor.py:37-39 pattern). The fact
    FKs to this dim via the customer's nation (plans.star.etl_fact_sales),
    making the warehouse 5-dimensional like the reference's
    create_dw_tables.sql:50-65."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left"
    ).select(
        surrogate_key("n_nationkey").alias("sk_localidade"),
        F.col("n_nationkey").alias("id_localidade_original"),
        F.lit("Não Informado").alias("cidade"),
        F.col("n_name").alias("estado"),
        F.coalesce(F.col("r_name"), F.lit("Desconhecida")).alias("pais"),
    )


# ---------------------------------------------------------------------------
# fato_vendas — the composite fact pipeline (dags/etl_fato_vendas.py:9-123)
# ---------------------------------------------------------------------------


@query(
    "etl_fact_sales",
    oracle="""
    WITH dp AS (SELECT p_partkey, CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT)
                       AS sk_produto FROM part),
         dc AS (SELECT c_custkey, c_nationkey,
                       CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
                       AS sk_cliente FROM customer),
         dv AS (SELECT s_suppkey, CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT)
                       AS sk_vendedor FROM supplier),
         dl AS (SELECT n_nationkey,
                       CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT)
                       AS sk_localidade FROM nation)
    SELECT CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS id_venda,
           dp.sk_produto, dc.sk_cliente, dv.sk_vendedor, dl.sk_localidade,
           CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate)
                AS BIGINT) AS sk_tempo,
           CAST(l_quantity AS BIGINT) AS qtd_vendida,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS valor_desconto,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DOUBLE) AS valor_total
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    LEFT JOIN dp ON l_partkey = dp.p_partkey
    LEFT JOIN dc ON o_custkey = dc.c_custkey
    LEFT JOIN dv ON l_suppkey = dv.s_suppkey
    LEFT JOIN dl ON dc.c_nationkey = dl.n_nationkey
    WHERE dp.sk_produto IS NOT NULL AND dc.sk_cliente IS NOT NULL
      AND dv.sk_vendedor IS NOT NULL
    """,
)
def etl_fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite fact pipeline with the dim keys rebuilt inline (the
    reference reads them back from Postgres, etl_fato_vendas.py:17-24; the
    materialized pipeline reads them back from parquet —
    plans.pipeline.fact_from_warehouse). ``valor_unitario`` is a
    warehouse-only column (see ``fact_sales``)."""
    return fact_sales(
        spark,
        sf_dir,
        _dim_keys(spark, sf_dir, "part", "p_partkey", "produto"),
        _dim_keys(spark, sf_dir, "customer", "c_custkey", "cliente", "c_nationkey"),
        _dim_keys(spark, sf_dir, "supplier", "s_suppkey", "vendedor"),
        _dim_keys(spark, sf_dir, "nation", "n_nationkey", "localidade"),
    ).drop("valor_unitario")


def _dim_keys(
    spark: SparkSession, sf_dir: str, table: str, key: str, grain: str, *extra: str
) -> DataFrame:
    """The key columns of one ``etl_dim_*`` plan — ``sk_<grain>`` over the
    natural key ``id_<grain>_original`` — without its attribute columns or
    the joins that feed them."""
    return load_table(spark, sf_dir, table).select(
        surrogate_key(key).alias(f"sk_{grain}"),
        F.col(key).alias(f"id_{grain}_original"),
        *extra,
    )


def fact_sales(
    spark: SparkSession,
    sf_dir: str,
    dim_part: DataFrame,
    dim_customer: DataFrame,
    dim_supplier: DataFrame,
    dim_locality: DataFrame,
) -> DataFrame:
    """The fact plan (dags/etl_fato_vendas.py:9-123) as one Catalyst plan
    over the four dimension frames it looks surrogate keys up in (natural
    key ``id_*_original`` → ``sk_*``): header×detail inner join (op 17),
    smart date key (op 34), four broadcast dimension lookups (op 18) —
    product, customer, salesperson, and locality via the customer's nation
    (the reference FKs the fact to dim_localidade on the ship-to address,
    create_dw_tables.sql:57; the testdata's address grain is the nation, so
    ``dim_customer`` carries ``c_nationkey`` and the fact stream probes one
    customer lookup) — exact-decimal metrics (op 35), referential-integrity
    null-drop (op 10).

    id_venda replaces SERIAL with a deterministic smart key
    (orderkey*100+linenumber) — order-free, valid at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dp = dim_part.select("sk_produto", "id_produto_original")
    dc = dim_customer.select("sk_cliente", "id_cliente_original", "c_nationkey")
    dv = dim_supplier.select("sk_vendedor", "id_vendedor_original")
    dl = dim_locality.select("sk_localidade", "id_localidade_original")
    return (
        # merge-pinned (r16): orders is fact-sided — never broadcastable at
        # scale; see plans.kpis._sales for the measured rationale.
        li.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .join(F.broadcast(dp), F.col("l_partkey") == F.col("id_produto_original"), "left")
        .join(F.broadcast(dc), F.col("o_custkey") == F.col("id_cliente_original"), "left")
        .join(F.broadcast(dv), F.col("l_suppkey") == F.col("id_vendedor_original"), "left")
        .join(F.broadcast(dl), F.col("c_nationkey") == F.col("id_localidade_original"), "left")
        .na.drop(subset=["sk_produto", "sk_cliente", "sk_vendedor"])
        .select(
            (F.col("l_orderkey") * 100 + F.col("l_linenumber")).cast("long").alias("id_venda"),
            "sk_produto",
            "sk_cliente",
            "sk_vendedor",
            "sk_localidade",
            yyyymmdd_key(F.col("o_orderdate")).cast("long").alias("sk_tempo"),
            F.col("l_quantity").cast("long").alias("qtd_vendida"),
            # unit price recovered from the extended amount (the reference
            # fact stores valor_unitario, create_dw_tables.sql:62) so the
            # reference's KPI 1 runs verbatim over the warehouse
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("valor_unitario"),
            discount_amount("l_extendedprice", "l_discount")
            .cast("double")
            .alias("valor_desconto"),
            net_amount("l_extendedprice", "l_discount").cast("double").alias("valor_total"),
        )
    )
