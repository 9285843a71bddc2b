"""Parquet table source — the warehouse scan (SURVEY.md §2 op 1/2).

Reference behavior: ``pd.read_csv``/``pd.read_sql`` with inferred schemas
(`dags/etl_dim_produto.py:14-16`, `dags/etl_fato_vendas.py:21-24`).
Spark-first mapping: columnar parquet scans; Catalyst pushes filters and
prunes columns down to the scan, so callers just ``.select``/``.filter``
declaratively. At 100 TB the scan is the dominant cost — everything here
keeps pushdown intact (no eager cache, no schema-mangling reads).
"""

from __future__ import annotations

import glob
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Every driver-provided testdata table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_ts_physical_type(sf_dir: str) -> str:
    """Arrow type string of ``events.ts`` as stored (file-metadata peek, no
    scan): ``timestamp[ns]`` (older driver snapshots), ``timestamp[us]``
    (current — parquet NTZ micros), or ``timestamp[us, tz=UTC]`` (our own
    rewrites). Loaders branch on this so every encoding normalizes to the
    same Spark ``TimestampType`` micros column.

    The pyarrow footer peek only works for local POSIX paths; on a
    Hadoop-compatible URI (``s3://``, ``hdfs://``) the caller falls back to
    ``"unknown"`` and the Spark-side read handles the type (TIMESTAMP(NANOS)
    files are a local-testdata artifact — cluster warehouses write µs)."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    if "://" in sf_dir and not sf_dir.startswith("file://"):
        return "unknown"  # non-local URI: let spark.read decide
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part-files under {path}")
        path = parts[0]
    return str(pq.read_schema(path).field("ts").type)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Bring any stored ``ts`` encoding to ``TimestampType`` (µs, session-TZ
    UTC): nanos-as-long floor-divides with exact integer arithmetic; NTZ µs
    casts (identity on the stored integer under a UTC session); TZ µs is
    already canonical."""
    kind = dict(df.dtypes)["ts"]
    if kind == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: The tables ``plans.pipeline`` materializes, in load order: the
#: dimensions, then the fact. ``load_table`` opens these from a warehouse
#: dir like any source table.
WAREHOUSE_TABLES = (
    "dim_date", "dim_part", "dim_customer_geo", "dim_supplier", "dim_locality", "fact_sales"
)


#: per-session memo of LAZY scan handles (r16, guide §1.2/§7.3): every
#: ``spark.read.parquet`` is driver-side work — a py4j round trip, a file
#: listing, and a footer read for the schema (~80 ms/table measured) —
#: repeated identically for every query that touches the same table. The
#: memo stores the unexecuted DataFrame *plan*; every action on it still
#: scans the parquet from disk (this is metadata caching, NOT result
#: caching — nothing is persisted, ``.cache()`` is never called).
#:
#: Lifecycle: a plain dict keyed by ``id(session)`` holding the session
#: alongside its entries (a memoized DataFrame strongly references its
#: session, so a weak key would never be freed). Entries are keyed by the
#: table's normalized path (``_table_key``), so every spelling of one
#: table — relative, trailing ``/``, ``./`` segments, symlinks — shares
#: one entry and one eviction, and carry the table's change stamp
#: (``_table_stamp``) from when they were opened. Every ``load_table`` and
#: ``invalidate_scan_memo`` call drops the entries of STOPPED sessions
#: (their py4j handles can never serve a scan again); writers that
#: overwrite a table in place evict it via ``invalidate_scan_memo``.
#:
#: Threads share the memo (``plans.pipeline.build_star`` loads its dims
#: concurrently), so every read or change of it holds ``_MEMO_LOCK``; the
#: ``spark.read`` that opens a table runs outside the lock.
_SCAN_MEMO: dict[int, tuple[SparkSession, dict[str, tuple[tuple | None, DataFrame]]]] = {}
_MEMO_LOCK = threading.Lock()


def _session_live(spark: SparkSession) -> bool:
    sc = getattr(spark, "_sc", None)
    return sc is not None and getattr(sc, "_jsc", None) is not None


def _sweep_stopped_sessions() -> None:
    """Drop the memo entries of stopped sessions (caller holds ``_MEMO_LOCK``)."""
    for dead in [s for s, (sess, _) in _SCAN_MEMO.items() if not _session_live(sess)]:
        del _SCAN_MEMO[dead]


def _table_key(path: str) -> str:
    """Memo key of a table path: the absolute, symlink-resolved local path;
    a non-local URI (``s3a://``, ``hdfs://``) keyed as spelled, minus a
    trailing ``/``."""
    if "://" in path and not path.startswith("file://"):
        return path.rstrip("/")
    return os.path.realpath(path.removeprefix("file://"))


def _table_stamp(key: str) -> tuple[int, int] | None:
    """Change stamp of a local table: (inode, mtime_ns) of its commit
    marker ``_SUCCESS`` — rewritten by every committed Spark write, from
    this process or another — or of the path itself when it has none (a
    single-file table). None for a non-local URI or a missing path."""
    if "://" in key:
        return None
    for p in (os.path.join(key, "_SUCCESS"), key):
        try:
            st = os.stat(p)
        except OSError:
            continue
        return st.st_ino, st.st_mtime_ns
    return None


def invalidate_scan_memo(path: str | None = None) -> None:
    """Evict memoized scan handles for the table at ``path``, or for every
    table under ``path`` when it is a directory of tables (every session);
    evict ALL handles when called without arguments. Required when a
    table is overwritten in place and re-read through ``load_table``
    within the same session — the memoized plan would otherwise serve the
    old file listing. The sinks call this for every path they write."""
    key = None if path is None else _table_key(path)
    with _MEMO_LOCK:
        _sweep_stopped_sessions()
        for _, entries in _SCAN_MEMO.values():
            for k in [k for k in entries
                      if key is None or k == key or k.startswith(key + os.sep)]:
                del entries[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one named table under ``sf_dir``: a testdata source table
    (``TABLES``) or a materialized warehouse table (``WAREHOUSE_TABLES``).
    Parquet embeds the schema — no inference race.

    ``events.ts`` has shipped as TIMESTAMP(NANOS) (which Spark's vectorized
    reader refuses by default — read nanos as long via the runtime legacy
    conf) and as TIMESTAMP(MICROS) NTZ in newer driver snapshots; either way
    it normalizes to the session-UTC µs TimestampType every downstream
    query assumes.

    A memoized handle is reused only while the table's change stamp is
    unchanged, so a local table rewritten by another process (an Airflow
    task's rebuild) is re-opened; on a non-local URI only a same-process
    overwrite through ``sinks`` (or ``invalidate_scan_memo``) is seen.
    """
    if name not in TABLES and name not in WAREHOUSE_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES + WAREHOUSE_TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    key = _table_key(path)
    stamp = _table_stamp(key)
    with _MEMO_LOCK:
        _sweep_stopped_sessions()
        per_session = _SCAN_MEMO.setdefault(id(spark), (spark, {}))[1]
        cached = per_session.get(key)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    if name == "events":
        if events_ts_physical_type(sf_dir) == "timestamp[ns]":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_events_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    with _MEMO_LOCK:
        per_session[key] = (stamp, df)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register temp views so SQL-form queries can run against the same scans."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
