"""The reference's KPI SQL, runnable (near-)verbatim over the warehouse.

This is the migration proof: a reference user's KPIs.sql (KPIs.sql:1-83)
executes on Spark against the materialized star schema from
``plans.pipeline.build_star`` with only mechanical edits — the ``public.``
schema prefix dropped (no schemas in the session catalog view namespace).
Table-name differences between the testdata star and the reference DDL are
absorbed by compatibility views:

  dim_produto    → dim_part
  dim_localidade → dim_locality (its own dimension at nation grain, with a
                   real sk_localidade FK on the fact — 5-dim star like
                   create_dw_tables.sql:50-65)
  dim_vendedor   → dim_supplier
  dim_tempo      → dim_date
  fato_vendas    → fact_sales
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table
from ..sources.parquet import WAREHOUSE_TABLES

#: warehouse table -> the reference DDL's name for it (WAREHOUSE_TABLES order)
_VIEWS = dict(zip(WAREHOUSE_TABLES, (
    "dim_tempo", "dim_produto", "dim_cliente", "dim_vendedor", "dim_localidade", "fato_vendas"
), strict=True))

#: the 10 KPI queries with the reference's own shapes, aliases and
#: PT-BR result names (KPIs.sql:4-83), minus the `public.` prefix.
REFERENCE_KPI_SQL: dict[str, str] = {
    "kpi1_faturamento_bruto": (
        "SELECT SUM(qtd_vendida * valor_unitario) AS faturamento_bruto FROM fato_vendas"
    ),
    "kpi2_faturamento_liquido": (
        "SELECT SUM(valor_total) AS faturamento_liquido FROM fato_vendas"
    ),
    "kpi3_total_descontos": (
        "SELECT SUM(valor_desconto) AS total_descontos FROM fato_vendas"
    ),
    "kpi4_total_itens": (
        "SELECT SUM(qtd_vendida) AS total_itens_vendidos FROM fato_vendas"
    ),
    "kpi5_top5_produtos": """
        SELECT p.nome_produto, SUM(f.valor_total) AS total_vendas
        FROM fato_vendas f
        JOIN dim_produto p ON f.sk_produto = p.sk_produto
        GROUP BY p.nome_produto
        ORDER BY total_vendas DESC
        LIMIT 5
    """,
    "kpi6_vendas_categoria": """
        SELECT p.nome_categoria, SUM(f.valor_total) AS total_vendas,
               COUNT(*) AS quantidade_vendas
        FROM fato_vendas f
        JOIN dim_produto p ON f.sk_produto = p.sk_produto
        GROUP BY p.nome_categoria
        ORDER BY total_vendas DESC
    """,
    "kpi7_faturamento_pais": """
        SELECT l.pais, SUM(f.valor_total) AS total_vendas
        FROM fato_vendas f
        JOIN dim_localidade l ON f.sk_localidade = l.sk_localidade
        GROUP BY l.pais
        ORDER BY total_vendas DESC
    """,
    "kpi8_sazonalidade": """
        SELECT t.ano, t.mes, t.nome_mes, SUM(f.valor_total) AS total_vendas
        FROM fato_vendas f
        JOIN dim_tempo t ON f.sk_tempo = t.sk_tempo
        GROUP BY t.ano, t.mes, t.nome_mes
        ORDER BY t.ano, t.mes
    """,
    "kpi9_ranking_vendedores": """
        SELECT v.nome_vendedor, SUM(f.valor_total) AS total_gerado
        FROM fato_vendas f
        JOIN dim_vendedor v ON f.sk_vendedor = v.sk_vendedor
        WHERE v.nome_vendedor IS NOT NULL
        GROUP BY v.nome_vendedor
        ORDER BY total_gerado DESC
        LIMIT 10
    """,
    "kpi10_ticket_medio": (
        "SELECT AVG(valor_total) AS ticket_medio_item FROM fato_vendas"
    ),
}


def register_warehouse_views(spark: SparkSession, warehouse_dir: str) -> None:
    """Map the materialized star schema onto the reference's table names.
    The views sit on ``load_table``'s memoized scan handles, so re-registering
    per query re-opens only the tables rewritten since the last KPI (a local
    warehouse is re-checked by its commit marker, whichever process rebuilt
    it; on a non-local URI only a same-process ``write_table`` is seen)."""
    for table, view in _VIEWS.items():
        load_table(spark, warehouse_dir, table).createOrReplaceTempView(view)


def run_reference_kpi(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """Execute one of the reference's KPIs over the migrated warehouse."""
    register_warehouse_views(spark, warehouse_dir)
    return spark.sql(REFERENCE_KPI_SQL[name])
