"""Focused tests for the round-16 optimization internals.

Covers the two new pieces of machinery (the rest of the round's changes
are plan-shape rewrites whose outputs are already pinned by the oracle
parity suite and the result-identity twin tests):

- the per-session lazy scan-handle memo in ``sources.parquet.load_table``
  (plan caching, not result caching);
- the scale-adaptive stateful-shuffle sizing of the streaming
  equivalence harness (``streaming.events._harness_state_partitions``).
"""

from __future__ import annotations

import os

from etl_airflow_adventureworks_spark.sources import load_table
from etl_airflow_adventureworks_spark.sources.parquet import _SCAN_MEMO
from etl_airflow_adventureworks_spark.streaming.events import (
    _harness_state_partitions,
)

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


# These tests use the suite-wide session-scoped ``spark`` fixture from
# conftest.py (shuffle.partitions=8, which the sizing tests below assume).
# Never build a module fixture with getOrCreate()+stop() here: getOrCreate()
# returns the SHARED suite session and stopping it kills the SparkContext for
# every test module that runs afterwards (round-16 verdict, item 1).


def test_scan_memo_returns_same_lazy_handle(spark):
    a = load_table(spark, SF, "lineitem")
    b = load_table(spark, SF, "lineitem")
    assert a is b  # the whole point: no repeated footer/listing work
    # distinct per (sf_dir, table) — never cross-contaminated
    assert load_table(spark, SF2, "lineitem") is not a
    assert load_table(spark, SF, "orders") is not a


def test_scan_memo_is_plan_cache_not_result_cache(spark):
    df = load_table(spark, SF, "region")
    n1 = df.count()
    n2 = load_table(spark, SF, "region").count()  # re-executes the scan
    assert n1 == n2 == 5
    # nothing persisted: the memoized plan carries no cached storage level
    assert not df.is_cached


def test_scan_memo_keyed_by_live_session(spark):
    before = load_table(spark, SF, "nation")
    assert id(spark) in _SCAN_MEMO
    assert os.path.realpath(f"{SF}/nation.parquet") in _SCAN_MEMO[id(spark)][1]
    # a different session object gets its own entry: simulate with
    # newSession(), which shares the context but is a distinct key
    s2 = spark.newSession()
    other = load_table(s2, SF, "nation")
    assert other is not before
    assert load_table(spark, SF, "nation") is before


def test_harness_state_partitions_scale_adaptive(spark):
    # tiny local source → the floor (4), never the session's conf (8)
    assert _harness_state_partitions(spark, SF) == 4
    # non-local / missing source → None (the session default stands)
    assert _harness_state_partitions(spark, "/nonexistent/dir") is None


def test_harness_state_partitions_capped_at_session_conf(spark, monkeypatch):
    # a huge source can never exceed the session conf (the cluster knob).
    # Pin the conf for the assertion — the shared suite session's value may
    # have been changed by an earlier module — and restore it after.
    import etl_airflow_adventureworks_spark.streaming.events as se

    monkeypatch.setattr(
        se.os.path, "getsize", lambda p: 10 * 1024 * 1024 * 1024
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        assert _harness_state_partitions(spark, SF) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
