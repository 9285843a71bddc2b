"""Contract meta-tests: invariants the driver relies on, guarded so future
rounds can't silently drift (names, docstrings, oracle view usage)."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

TABLES = {
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
}


def test_every_query_documented():
    for name, fn in entrymod.queries().items():
        assert fn.__doc__ and len(fn.__doc__) > 20, f"{name} lacks a docstring"


def test_oracles_reference_only_registered_views():
    # every FROM/JOIN target in oracle SQL must be a driver-registered view
    # (or a CTE defined in the same statement)
    for name, sql in entrymod.oracle_sql().items():
        ctes = set(re.findall(r"(\w+)\s+AS\s*\(", sql))
        targets = set(
            t.lower()
            for t in re.findall(r"(?:FROM|JOIN)\s+([A-Za-z_][A-Za-z0-9_]*)", sql, re.I)
        )
        unknown = targets - TABLES - {c.lower() for c in ctes} - {"generate_series"}
        assert not unknown, f"{name}: oracle references unknown tables {unknown}"


def test_names_are_stable_identifiers():
    for name in entrymod.queries():
        assert re.fullmatch(r"[a-z0-9_]+", name), name


def test_entry_uses_registered_query():
    # entry() must stay wired to a declared query (smoke + correctness agree)
    assert "kpi05_top5_products" in entrymod.queries()


def test_bench_merge_records_min_and_median():
    """r14 (VERDICT r13 #3): the bench JSON carries BOTH the min-of-
    passes headline and the per-query median, so round-over-round
    tables can compare like protocol with like (min-vs-min or
    median-vs-median) instead of conflating protocol with code."""
    import bench

    passes = [
        {"metric": "m", "queries": {"a": 1.0, "b": 5.0}, "value": 6.0},
        {"metric": "m", "queries": {"a": 2.0, "b": 3.0}, "value": 5.0},
    ]
    out = bench._merge_passes(passes)
    assert out["queries"] == {"a": 1.0, "b": 3.0}
    assert out["queries_median"] == {"a": 1.5, "b": 4.0}
    assert out["value"] == 4.0
    assert out["passes"] == 2 and "min_over_2" in out["agg"]


def test_bench_final_line_stays_tail_parseable(tmp_path, capsys):
    """r15: the driver tail-captures a bounded stdout window — the r14
    record's line outgrew it once queries_median landed and the round
    record carried parsed:null. The final line must exclude the bulky
    evidence (medians, host telemetry), point at the BENCH_DETAIL.json
    sidecar instead, and stay well under the capture window even with
    the full 41-query registry."""
    import json

    import bench

    out = {
        "metric": "headline_queries_total_wall",
        "value": 20.0,
        "unit": "sec",
        "queries": {f"ext_query_name_{i:02d}": 0.1234 for i in range(41)},
        "queries_median": {f"ext_query_name_{i:02d}": 0.2345
                           for i in range(41)},
        "host": [{"load1": 1.0, "load5": 2.0, "mem_avail_mb": 100_000,
                  "steal_ticks": 5}] * 2,
        "sf": 0.1, "cpus": 32, "reps": 3, "warmup": 1,
        "agg": "min_over_2_fresh_jvm_passes_of_median3", "passes": 2,
    }
    bench._emit_final(dict(out), detail_dir=tmp_path)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) < 1900, len(line)
    slim = json.loads(line)
    assert "queries_median" not in slim and "host" not in slim
    assert slim["queries"] == out["queries"]
    assert slim["value"] == out["value"]
    # r17 (VERDICT r16 #8): the sidecar is round-stamped so a round's
    # records never overwrite the previous round's
    assert re.fullmatch(r"BENCH_DETAIL(_r\d+)?\.json", slim["detail"])
    detail = json.loads((tmp_path / slim["detail"]).read_text())
    assert detail["queries_median"] == out["queries_median"]
    assert detail["host"] == out["host"]
    assert detail["protocol"]["agg"] == out["agg"]


def test_bench_split_spec_rejects_events_and_malformed_entries(monkeypatch):
    """SPARK_GRAFT_BENCH_SPLIT_TABLES: splitting events would break the
    streaming rows (its file count is their trigger schedule), and a
    malformed entry is named in the error instead of failing unpacking."""
    import pytest

    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_SPLIT_TABLES", "lineitem=32, orders=8")
    assert bench._split_spec() == {"lineitem": 32, "orders": 8}
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SPLIT_TABLES", "lineitem=8,events=4")
    with pytest.raises(ValueError, match="cannot split events"):
        bench._split_spec()
    for bad in ("lineitem", "lineitem=8=2", "=4", "orders=x"):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_SPLIT_TABLES", f"part=2,{bad}")
        with pytest.raises(ValueError, match=f"entry '{bad}' is not table=n"):
            bench._split_spec()
