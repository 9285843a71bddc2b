"""Focused tests for the round-17 optimization internals.

- scan-memo lifecycle: ``invalidate_scan_memo`` (dir-scoped eviction),
  stopped-session sweep, and the sinks.write_table wiring (a same-session
  overwrite + re-read must see the fresh listing);
- minhash ``%``-for-``pmod`` identity (ADVICE r16): one signature column
  computed both ways over the fixture corpus must be value-identical.
- distribution-suite scan posture: the suite keeps four dedicated
  column-pruned scans and NO persist — both r17 fold candidates
  (GROUPING SETS for hist+pct; rhist riding the profile aggregate)
  measured slower under paired fresh-JVM A/Bs and were reverted.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_airflow_adventureworks_spark.operators import dedup
from etl_airflow_adventureworks_spark.sinks import write_table
from etl_airflow_adventureworks_spark.sources import load_table
from etl_airflow_adventureworks_spark.sources.parquet import (
    _SCAN_MEMO,
    invalidate_scan_memo,
)

SF = "/root/testdata/sf0.001"


def test_invalidate_scan_memo_by_dir(spark):
    a = load_table(spark, SF, "region")
    invalidate_scan_memo(SF)
    b = load_table(spark, SF, "region")
    assert b is not a  # fresh handle: listing/footer re-read
    # and untouched dirs keep their handles
    c = load_table(spark, SF, "nation")
    invalidate_scan_memo("/some/other/dir")
    assert load_table(spark, SF, "nation") is c


def test_write_table_invalidates_overwritten_dir(spark, tmp_path):
    wh = tmp_path / "wh"
    wh.mkdir()
    link = str(tmp_path / "wh_link")
    os.symlink(wh, link)
    # same-session in-place overwrite: without eviction the memoized plan
    # would serve the OLD file listing (VERDICT r16 #4) — whichever spelling
    # of the dir the write and the read use (the memo keys normalized paths)
    spellings = [
        (str(wh), str(wh)),
        (str(wh), f"{wh}/"),
        (f"{tmp_path}/./wh", str(wh)),
        (str(wh), link),
        (link, str(wh)),
    ]
    for n, (write_dir, read_dir) in enumerate(spellings, start=3):
        write_table(spark.range(n).selectExpr("id AS n_nationkey"), f"{write_dir}/nation.parquet")
        assert load_table(spark, read_dir, "nation").count() == n
    # a writer that bypasses the sinks (another process) is caught by the
    # table's change stamp
    spark.range(9).selectExpr("id AS n_nationkey").write.mode("overwrite").parquet(
        f"{wh}/nation.parquet"
    )
    assert load_table(spark, str(wh), "nation").count() == 9


def test_stopped_session_entries_swept(spark):
    class _Stopped:  # looks like a session whose SparkContext was stopped
        _sc = None

    # swept on every load_table call, not only on a new session's first one
    load_table(spark, SF, "region")
    _SCAN_MEMO[-1] = (_Stopped(), {})
    load_table(spark, SF, "region")
    assert -1 not in _SCAN_MEMO
    # ... and on every invalidate_scan_memo call
    _SCAN_MEMO[-1] = (_Stopped(), {})
    invalidate_scan_memo("/some/other/dir")
    assert -1 not in _SCAN_MEMO


def test_distribution_suite_plans_four_scans_no_cache(spark):
    """VERDICT r16 #6 measured and REJECTED: both scan folds ran slower
    (plans/r17/ab_distribution_suite{,_final}.json — Expand feeds the
    exact-percentile buffers / the 10 histogram sums to grouping-set
    duplicated rows for more than a column-pruned 150k-row scan costs).
    Pin the deliberate shape: four dedicated scans, no persist (every
    rep recomputes from parquet)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ext_distribution_suite"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 4
    assert "InMemoryTableScan" not in plan


def test_minhash_mod_matches_pmod(spark):
    """ADVICE r16: assert the (a*h+b) % p hot loop is value-identical to
    pmod on the real shingle-hash distribution (h in [0, p), a,b < 2^30)."""
    a, b = dedup._PERM_A[0], dedup._PERM_B[0]
    p = dedup._MERSENNE_P
    hashed = dedup.hashed_shingle_sets(spark, SF).selectExpr(
        "doc_id", "explode(array_compact(hh)) AS h"
    )
    cmp = hashed.select(
        F.expr(f"({a}L * h + {b}L) % {p}L").alias("m"),
        F.expr(f"pmod({a}L * h + {b}L, {p}L)").alias("pm"),
    )
    assert cmp.filter("m IS DISTINCT FROM pm").count() == 0
    assert cmp.count() > 0
