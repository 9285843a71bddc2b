"""Output checks, computed with DuckDB over the same files the program
read or wrote. The ``check_*`` functions return a list of failure
messages, empty when the output is correct."""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
#: registry names of the five dimension builds, keyed by warehouse table
DIM_QUERIES = {
    "dim_date": "etl_dim_date",
    "dim_part": "etl_dim_part",
    "dim_customer_geo": "etl_dim_customer_geo",
    "dim_supplier": "etl_dim_supplier",
    "dim_locality": "etl_dim_locality",
}
#: warehouse tables under the reference's names (plans.reference_kpis)
REFERENCE_VIEWS = {
    "dim_produto": "dim_part",
    "dim_vendedor": "dim_supplier",
    "dim_tempo": "dim_date",
    "dim_cliente": "dim_customer_geo",
    "dim_localidade": "dim_locality",
    "fato_vendas": "fact_sales",
}
#: order-independent fact checksum: money columns are compared in exact
#: 1e-4 units (the scale of a DECIMAL(18,2) x DECIMAL(18,2) product)
FACT_CHECKSUM = """
    SELECT count(*), sum(id_venda), sum(sk_produto), sum(sk_cliente),
           sum(sk_vendedor), sum(sk_localidade), sum(sk_tempo), sum(qtd_vendida),
           sum(CAST(round(valor_total * 10000) AS HUGEINT)),
           sum(CAST(round(valor_desconto * 10000) AS HUGEINT))
    FROM ({src})
"""
#: relative tolerance for double results: SUM/AVG over doubles is
#: accumulation-order dependent in the last bits, on both engines
REL_TOL = 1e-9


def source_connection(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con


def _read(path: str) -> str:
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}')"


def expected_build(star_dir: str) -> dict:
    """Row counts per warehouse table and the fact checksum, from the
    registry's DuckDB oracles over the generated inputs."""
    from etl_airflow_adventureworks_spark.registry import ORACLES, load_all

    load_all()
    con = source_connection(star_dir)
    counts = {
        table: con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
        for table, q in DIM_QUERIES.items()
    }
    fact = ORACLES["etl_fact_sales"]
    counts["fact_sales"] = con.execute(f"SELECT count(*) FROM ({fact})").fetchone()[0]
    checksum = con.execute(FACT_CHECKSUM.format(src=fact)).fetchone()
    con.close()
    return {"counts": counts, "checksum": [int(x) for x in checksum]}


def fact_checksum(warehouse_dir: str) -> list[int]:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = f"SELECT * FROM {_read(f'{warehouse_dir}/fact_sales.parquet')}"
    row = con.execute(FACT_CHECKSUM.format(src=src)).fetchone()
    con.close()
    return [int(x) for x in row]


def check_build(counts: dict, checksum: list[int], expected: dict) -> list[str]:
    bad = []
    if counts != expected["counts"]:
        bad.append(f"build row counts {counts} != oracle {expected['counts']}")
    if checksum != expected["checksum"]:
        bad.append(f"fact checksum {checksum} != oracle {expected['checksum']}")
    return bad


def expected_kpis(star_dir: str, warehouse_dir: str, reference: dict[str, str],
                  registry_names: list[str]) -> dict[str, list[tuple]]:
    """Expected rows per KPI: the reference SQL run by DuckDB over the
    warehouse parquet, and the registry oracles over the inputs."""
    from etl_airflow_adventureworks_spark.registry import ORACLES, load_all

    load_all()
    con = source_connection(star_dir)
    for view, table in REFERENCE_VIEWS.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                    f"{_read(f'{warehouse_dir}/{table}.parquet')}")
    out = {name: con.execute(sql).fetchall() for name, sql in reference.items()}
    for name in registry_names:
        out[name] = con.execute(ORACLES[name]).fetchall()
    con.close()
    return out


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
    return a == b


def check_rows(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Row-by-row compare; every KPI has a total ORDER BY or is one row."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same_value(x, y) for x, y in zip(g, w)):
            return [f"{name}: row {i} {tuple(g)} != oracle {tuple(w)}"]
    return []


def versioned_files(table_dir: str) -> list[str]:
    """Data files of a manifest-committed table's latest version, read
    from its manifest JSON directly."""
    mans = sorted(glob.glob(f"{table_dir}/_manifests/v*.json"))
    if not mans:
        return []
    with open(mans[-1]) as fh:
        return [f"{table_dir}/{f}" for f in json.load(fh)["files"]]


def check_corpus(corpus_dir: str, base_rows: int, epochs: list[dict],
                 threshold: float) -> tuple[list[str], list[set[int]]]:
    """Ingest checks over the committed corpus. ``epochs`` holds, per
    admitted batch, its offered ids, planted ids and the program's
    returned counts. Returns (failures, rejected id set per epoch)."""
    bad: list[str] = []
    files = versioned_files(corpus_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW corpus AS SELECT doc_id, text FROM read_parquet({files!r})")
    ids = {r[0] for r in con.execute("SELECT doc_id FROM corpus").fetchall()}
    n_rows = con.execute("SELECT count(*) FROM corpus").fetchone()[0]
    accepted_total = sum(e["result"]["accepted"] for e in epochs)
    if n_rows != base_rows + accepted_total or len(ids) != n_rows:
        bad.append(f"corpus has {n_rows} rows ({len(ids)} ids), expected "
                   f"{base_rows} base + {accepted_total} accepted")
    rejected_sets = []
    for i, e in enumerate(epochs):
        offered, planted = e["ids"], e["planted"]
        rejected = offered - ids
        rejected_sets.append(rejected)
        res = e["result"]
        if res["accepted"] + res["rejected"] != len(offered):
            bad.append(f"epoch {i}: accepted+rejected {res} != offered {len(offered)}")
        if rejected != planted:
            bad.append(f"epoch {i}: rejected {len(rejected)} docs, planted {len(planted)}, "
                       f"{len(rejected ^ planted)} differ")
        elif res["rejected"] != len(rejected):
            bad.append(f"epoch {i}: reported {res['rejected']} rejects, corpus shows "
                       f"{len(rejected)}")
    # pair-free: exact Jaccard of distinct 3-token shingle sets, over every
    # pair of corpus documents sharing at least one shingle
    pairs = con.execute(f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS s
            FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
                  FROM toks)),
        n AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT count(*) FROM common
        JOIN n nx ON nx.doc_id = x JOIN n ny ON ny.doc_id = y
        WHERE c / (nx.k + ny.k - c) >= {threshold}
    """).fetchone()[0]
    con.close()
    if pairs:
        bad.append(f"accepted corpus holds {pairs} near-duplicate pairs")
    return bad, rejected_sets
