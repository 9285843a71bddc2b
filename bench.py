"""Benchmark harness — runs headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Baseline context (BASELINE.md): the reference's single recorded run does the
full fact pipeline (121k rows) in ~12.6 s single-process pandas; its 10 KPIs
have no published timings. Here the same shapes run on Spark local[N] over
sf0.1 (~600k lineitem rows, ~5x the reference fact table).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from etl_airflow_adventureworks_spark import registry  # noqa: E402
from etl_airflow_adventureworks_spark.operators.sessionize import (  # noqa: E402
    ext_event_funnel_pivot,
    ext_event_window_1h,
)
from etl_airflow_adventureworks_spark.operators.textops import (  # noqa: E402
    ext_bpe_token_count,
    ext_fingerprint,
    ext_lang_id,
)
from etl_airflow_adventureworks_spark.session import get_spark  # noqa: E402
from etl_airflow_adventureworks_spark.streaming.events import (  # noqa: E402
    clear_stream_memo,
)

#: per-query repetitions — the reported time is the MEDIAN, so
#: round-over-round deltas reflect plan changes, not JIT/GC noise
#: (single-shot timing made r02's kpi05-09 look 27-45% slower with
#: byte-identical plans). Overridable for long scaling runs.
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

#: r13 (VERDICT r12 #4 — the headline noise floor): the suite runs in
#: N FRESH-JVM passes (each a subprocess of this script) and the
#: reported per-query number is the MIN of the pass medians. One-session
#: medians on 0.1-1 s queries kept producing 1.4-1.7x phantom
#: round-over-round swings in modules with zero commits (r8, r12 — each
#: exonerated by a paired A/B, r9's AB_DRIFT.json reproduced 1.37-1.68x
#: recorded deltas as 0.83-1.15x under alternating fresh JVMs): a single
#: JVM's code-cache/heap/GC history contaminates later queries, and the
#: median tracks that session state. The min of medians across fresh
#: JVMs estimates the plan's steady-state floor — the quantity that
#: actually changes when a plan changes — and is the statistic the
#: sf10 protocol already uses. PASSES=1 restores the old single-session
#: behavior (scaling snapshots keep using it; their runs are
#: fresh-JVM-per-invocation already).
PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "2"))

#: r7 (skew-harness protocol, VERDICT r6 #8): one UNTIMED warmup execution
#: per query before its timed reps. The hot-corpus harnesses measured
#: fresh-JVM codegen adding up to 2.5x to the first run of a query shape,
#: which a 3-rep median doesn't absorb when the cold run lands first —
#: that's where r6's +-20% round-over-round noise on sub-200 ms queries
#: came from. Disable (=0) only for single-shot scaling runs where total
#: wall-clock is the constraint (the sf10 17-query set).
WARMUP = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))

#: scaling evidence: committed SCALING_SF{M}.json snapshots (the bench's
#: own JSON line from runs at .scale/sf{M} — 10×/100× data generated by
#: tools/gen_scale.py) are merged into BENCH_SCALING.json (a committed
#: side file, refreshed on every sf0.1 run) as `sf{M}_queries` +
#: per-query `sf{M}_ratio`. They are deliberately NOT merged into the
#: stdout line: round 4's merged line overflowed the driver's 2 KB tail
#: capture and the official bench came back `parsed: null`. Stdout stays
#: one compact headline JSON line — the LAST line printed.
SCALE_SNAPSHOTS = {
    "sf1": Path(__file__).resolve().parent / "SCALING_SF1.json",
    "sf10": Path(__file__).resolve().parent / "SCALING_SF10.json",
}

#: library twins kept in the headline for round-over-round comparability
#: even though their registry slot was folded (ext_event_window_1h →
#: ext_stream_window_equiv, round 3; ext_lang_id → ext_quality_score,
#: round 7; ext_bpe_token_count + ext_fingerprint → ext_token_stats and
#: ext_event_funnel_pivot → ext_event_analytics_suite, round 9 — every
#: absorber carries the oracle now).
EXTRA_FNS = {
    "ext_event_window_1h": ext_event_window_1h,
    "ext_lang_id": ext_lang_id,
    "ext_bpe_token_count": ext_bpe_token_count,
    "ext_fingerprint": ext_fingerprint,
    "ext_event_funnel_pivot": ext_event_funnel_pivot,
}

#: headline set — populated as operators land; filtered by availability.
HEADLINE = [
    "kpi_globals",  # r01: kpi01+kpi02+kpi03+kpi04+kpi10 (now one pass)
    "kpi05_top5_products",
    "kpi06_sales_by_category",
    "kpi07_sales_by_country",
    "kpi08_seasonality",
    "kpi09_top10_suppliers",
    "etl_fact_sales",
    "etl_dim_customer_geo",
    "etl_dim_locality",
    "op_join_shapes",
    "ext_exact_dedup_docs",
    "ext_ngram_jaccard",
    "ext_minhash_neardup",
    "ext_simhash_neardup",
    "ext_ann_cosine_topk",
    "ext_ann_lsh_topk",
    "ext_embedding_neardup",
    "ext_token_stats",
    "ext_bpe_token_count",
    "ext_lang_id",
    "ext_quality_score",
    "ext_tfidf_top_terms",
    "ext_fingerprint",
    "ext_interleave_sources",
    "ext_group_cap_sample",
    "ext_session_gap",
    "ext_event_window_1h",
    "ext_json_extract",
    "ext_asof_attribution",
    "ext_asof_twotable",
    "ext_range_join",
    "ext_event_funnel_pivot",
    "ext_event_analytics_suite",
    "ext_gapfill",
    "ext_cohort_retention",
    "ext_window_suite",
    "ext_grouping_sets",  # r01: ext_rollup_revenue (+cube, one pass)
    "ext_distinct_counts",
    "ext_multimodal_features",
    "ext_stream_window_equiv",
    "ext_stream_session_equiv",
]

#: large-result queries are consumed with count() instead of collect() —
#: benching the compute, not driver materialization.
COUNT_ONLY = {
    "etl_fact_sales",
    "etl_dim_customer_geo",
    "op_join_shapes",
    "ext_exact_dedup_docs",
    "ext_token_stats",
    "ext_bpe_token_count",
    "ext_lang_id",
    "ext_quality_score",
    "ext_tfidf_top_terms",
    "ext_fingerprint",
    "ext_interleave_sources",
    "ext_group_cap_sample",
    "ext_session_gap",
    "ext_event_window_1h",
    "ext_json_extract",
    "ext_asof_attribution",
    "ext_asof_twotable",
    "ext_range_join",
    "ext_event_funnel_pivot",
    "ext_event_analytics_suite",
    "ext_gapfill",
    "ext_cohort_retention",
    "ext_window_suite",
    "ext_grouping_sets",
    "ext_distinct_counts",
    "ext_multimodal_features",
    "ext_stream_session_equiv",
}


#: which tables the bench copy splits, and into how many files (r17,
#: measured below — full history in OPTIMIZATION_r17.md §input layout):
#: splitting EVERY table 64-ways parallelized the decimal-agg family
#: (kpi_globals/05/06/09 → 0.49–0.64×) but made most sub-second queries
#: 1.4–2.8× slower (per-file open/footer cost + 64×R tiny shuffle blocks
#: at this SF) and broke the streaming rows outright (their file source
#: reads `pathGlobFilter=events.parquet` with one-file-per-TRIGGER —
#: the file count IS the micro-batch schedule, so events must stay one
#: file). So only the tables whose scan-stage compute dominates are
#: split, into modest file counts; dims/events stay single-file.
#: Chosen by full-protocol A/B at sf0.1 (OPTIMIZATION_r17.md): lineitem=8
#: keeps the merge-pinned fact joins at parity while the decimal-agg KPI
#: family drops 0.57–0.80×; documents=4 keeps tfidf/token suites at
#: parity with the dedup family at 0.95–0.99.
#: Override per run: SPARK_GRAFT_BENCH_SPLIT_TABLES="lineitem=32,orders=8".
_SPLIT_TABLES_DEFAULT = {"lineitem": 8, "documents": 4}


def _split_spec() -> dict[str, int]:
    env = os.environ.get("SPARK_GRAFT_BENCH_SPLIT_TABLES")
    if not env:
        return dict(_SPLIT_TABLES_DEFAULT)
    spec = {}
    for part in env.split(","):
        t, sep, n = part.partition("=")
        t = t.strip()
        if not sep or not t or not n.strip().isdigit():
            raise ValueError(
                f"SPARK_GRAFT_BENCH_SPLIT_TABLES entry {part!r} is not table=n"
            )
        if t == "events":
            # the events file count is the streaming rows' micro-batch
            # schedule (see _SPLIT_TABLES_DEFAULT): events stays one file
            raise ValueError(
                "SPARK_GRAFT_BENCH_SPLIT_TABLES cannot split events: its "
                "file count is the streaming rows' trigger schedule"
            )
        spec[t] = int(n)
    return spec


def _split_input_copy(sf_dir: str) -> str | None:
    """UNTIMED per-invocation multi-file copy of the input tables (r17,
    VERDICT r16 #2/#5): the driver testdata ships each table as ONE
    single-row-group parquet file, so every scan ran as a single task at
    any core count — 8-vs-32-core scaling was unobservable (the driver's
    `suspect_cpus_ignored` flag) and every byte of scan-stage compute
    (shingling, decimal partial aggregation) ran single-threaded. This
    rewrites the tables in ``_split_spec()`` as N row-slice files in the
    original row order (same rows, same global order, same schema —
    LAYOUT only, the shape a real warehouse writer produces) into a fresh
    temp dir and symlinks the rest unchanged. It is rebuilt from the
    driver files on every bench invocation and deleted after: nothing is
    persisted across runs and no result is precomputed — every query
    still computes from parquet. SPARK_GRAFT_BENCH_SPLIT=0 restores the
    single-file layout (the pre-r17 measurement basis; both layouts'
    numbers are recorded in OPTIMIZATION_r17.md)."""
    import glob as _glob
    import math
    import tempfile

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(sf_dir, "*.parquet")))
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        return None  # already a directory layout
    spec = _split_spec()
    out = tempfile.mkdtemp(prefix="bench_split_")
    for f in files:
        name = os.path.basename(f)
        n_files = spec.get(name.removesuffix(".parquet"), 1)
        if n_files <= 1:
            os.symlink(os.path.abspath(f), Path(out) / name)
            continue
        tbl = pq.read_table(f)
        d = Path(out) / name
        d.mkdir()
        step = max(1, math.ceil(tbl.num_rows / n_files))
        for i, off in enumerate(range(0, tbl.num_rows, step)):
            pq.write_table(tbl.slice(off, step), d / f"part-{i:05d}.parquet")
    return out


def _round_tag() -> str | None:
    """Round stamp for the detail sidecar (r17, VERDICT r16 #8):
    SPARK_GRAFT_ROUND wins; otherwise one past the highest committed
    BENCH_r{N}.json (the driver writes that record only after a round
    ends, so during a round max+1 IS the current round)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return env
    ns = [
        int(m.group(1))
        for p in Path(__file__).resolve().parent.glob("BENCH_r*.json")
        if (m := re.match(r"BENCH_r(\d+)", p.name))
    ]
    return str(max(ns) + 1) if ns else None


def _write_side_files(out: dict) -> None:
    """Committed side records, written only for the FINAL (merged or
    single-pass) result: FULLBENCH.json on `SPARK_GRAFT_QUERIES=all`
    runs; BENCH_SCALING.json when explicitly refreshing the scaling
    curve (OPT-IN since r10 — the curve's three points must be measured
    under ONE session condition, ADVICE r8, so a routine headline run
    must not silently splice into the committed same-day sweep)."""
    timings = out["queries"]
    if os.environ.get("SPARK_GRAFT_QUERIES") == "all":
        full_path = Path(__file__).resolve().parent / "FULLBENCH.json"
        full_path.write_text(json.dumps(out, indent=1) + "\n")
        print(f"[bench] wrote full-registry run to {full_path}",
              file=sys.stderr)
    elif out.get("sf") == 0.1 and \
            os.environ.get("SPARK_GRAFT_REFRESH_SCALING") == "1":
        scaling = {"headline": out}
        for tag, snap_path in SCALE_SNAPSHOTS.items():
            if not snap_path.exists():
                continue
            snap = json.loads(snap_path.read_text())
            snap_q = snap.get("queries", {})
            scaling[f"{tag}_queries"] = snap_q
            scaling[f"{tag}_ratio"] = {
                n: round(snap_q[n] / timings[n], 2)
                for n in timings
                if n in snap_q and timings[n] > 0
            }
            scaling[f"{tag}_total"] = snap.get("value")
            scaling[f"{tag}_meta"] = snap.get("meta", {})
        scaling_path = Path(__file__).resolve().parent / "BENCH_SCALING.json"
        scaling_path.write_text(json.dumps(scaling, indent=1) + "\n")
        print(f"[bench] wrote scaling curve to {scaling_path}",
              file=sys.stderr)


def _emit_final(out: dict, detail_dir: "Path | None" = None) -> None:
    """Print the ONE stdout JSON line for the FINAL result, slimmed
    (r15): the driver tail-captures a bounded window of stdout — the
    r14 record's line outgrew it once ``queries_median`` landed and the
    round record carried ``parsed: null``. Bulky evidence (cross-pass
    medians, per-pass host telemetry) moves to ``BENCH_DETAIL.json``
    next to this script; the line keeps the headline metric + per-query
    mins + protocol fields and points at the sidecar by name."""
    detail = {k: out[k] for k in ("queries_median", "host") if k in out}
    slim = {k: v for k, v in out.items()
            if k not in ("queries_median", "host")}
    if detail:
        detail["protocol"] = {
            k: out.get(k) for k in ("agg", "passes", "reps", "warmup",
                                    "sf", "cpus", "master",
                                    "default_parallelism", "input_layout")
        }
        tag = _round_tag()
        detail_name = f"BENCH_DETAIL_r{tag}.json" if tag \
            else "BENCH_DETAIL.json"
        path = (detail_dir or Path(__file__).resolve().parent) \
            / detail_name
        path.write_text(json.dumps(detail, indent=1) + "\n")
        slim["detail"] = path.name
        print(f"[bench] wrote median/host detail to {path}",
              file=sys.stderr)
    print(json.dumps(slim, separators=(",", ":")))


def _host_snapshot() -> dict:
    """Host telemetry captured at pass start (r15, VERDICT r14 #4): the
    r9/r14 phantom-drift adjudications showed same-code bench records
    swinging 1.1-1.5x with host windows; recording loadavg / available
    memory / cumulative steal ticks INTO the bench JSON turns that
    exoneration from prose-backed to data-backed — a regression table
    can check both sides ran on a comparably idle machine."""
    snap: dict = {}
    try:
        l1, l5, l15 = os.getloadavg()
        snap["load1"] = round(l1, 2)
        snap["load5"] = round(l5, 2)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    snap["mem_avail_mb"] = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        # cpu  user nice system idle iowait irq softirq steal ...
        if parts and parts[0] == "cpu" and len(parts) > 8:
            snap["steal_ticks"] = int(parts[8])
    except (OSError, ValueError):
        pass
    return snap


def _merge_passes(passes: list[dict]) -> dict:
    """Fold N single-pass results into the reported line: per-query MIN
    of the pass medians (the steady-state floor), total = sum of the
    mins, protocol recorded in ``agg``/``passes`` so round-over-round
    comparisons know what they are comparing. ``queries_median`` (r14,
    VERDICT r13 #3) records the MEDIAN across passes alongside, so a
    table built against a pre-r13 median-protocol record can compare
    median-vs-median instead of conflating protocol with code."""
    import statistics

    out = dict(passes[0])
    queries = {}
    queries_median = {}
    for name in passes[0]["queries"]:
        vals = [p["queries"][name] for p in passes if name in p["queries"]]
        queries[name] = min(vals)
        queries_median[name] = round(statistics.median(vals), 4)
    out["queries"] = queries
    out["queries_median"] = queries_median
    out["value"] = round(sum(queries.values()), 4)
    out["passes"] = len(passes)
    out["agg"] = f"min_over_{len(passes)}_fresh_jvm_passes_of_median{REPS}"
    # per-pass host snapshots (r15): idle-machine evidence travels WITH
    # the record, so a later drift adjudication is data-backed
    hosts = [p["host"] for p in passes if p.get("host")]
    if hosts:
        out["host"] = hosts
    return out


def main() -> None:
    if PASSES > 1 and os.environ.get("_SPARK_GRAFT_BENCH_CHILD") != "1":
        # fresh-JVM passes: re-exec this script once per pass and merge
        # (a stopped SparkSession reuses the gateway JVM in-process, so
        # a true fresh JVM needs a fresh interpreter)
        import shutil
        import subprocess

        # build the split input copy ONCE for all passes (untimed, temp
        # dir, removed below — see _split_input_copy)
        split_dir = None
        if os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "1") != "0" and \
                "_SPARK_GRAFT_BENCH_SPLIT_DIR" not in os.environ:
            split_dir = _split_input_copy(
                os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            )
        try:
            results = []
            for i in range(PASSES):
                env = dict(os.environ)
                env["_SPARK_GRAFT_BENCH_CHILD"] = "1"
                if split_dir:
                    env["_SPARK_GRAFT_BENCH_SPLIT_DIR"] = split_dir
                print(f"[bench] pass {i + 1}/{PASSES} (fresh JVM)",
                      file=sys.stderr)
                proc = subprocess.run(
                    [sys.executable, str(Path(__file__).resolve())],
                    env=env, stdout=subprocess.PIPE, text=True,
                )
                if proc.returncode != 0:
                    raise SystemExit(f"bench pass {i + 1} failed "
                                     f"(exit {proc.returncode})")
                line = proc.stdout.strip().splitlines()[-1]
                results.append(json.loads(line))
        finally:
            if split_dir:
                shutil.rmtree(split_dir, ignore_errors=True)
        out = _merge_passes(results)
        _write_side_files(out)
        _emit_final(out)
        return
    host = _host_snapshot()  # before the JVM starts inflating the numbers
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # multi-file input layout (r17, VERDICT r16 #2): queries read a fresh
    # per-invocation split copy so scans have >1 task and core-count
    # scaling is observable; `sf` above stays parsed from the driver dir.
    # A parent pass shares its copy via env; a standalone (PASSES=1) run
    # builds and removes its own.
    bench_dir, own_split = sf_dir, None
    if os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "1") != "0":
        shared = os.environ.get("_SPARK_GRAFT_BENCH_SPLIT_DIR")
        if shared:
            bench_dir = shared
        else:
            own_split = _split_input_copy(sf_dir)
            if own_split:
                bench_dir = own_split

    # try/finally: a failed query must not leak the per-run split copy
    # (multi-GB at sf10), mirroring the parent-pass cleanup above
    try:
        # local-bench knob: the testdata tables are single ~10 MB parquet files,
        # which the 128 MB default split turns into single-task scans; 8 MB
        # splits let local[N] parallelize them. A real cluster keeps the default
        # (its files are rowgroup-sized already).
        spark = get_spark(
            app_name="bench",
            cpus=cpus,
            shuffle_partitions=cpus,
            extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
        )
        registry.load_all()

        # JVM / codegen / parquet-footer warmup outside the timed region:
        # a small decimal aggregation over each big table compiles the same
        # codegen shapes the headline queries use (steady-state measurement;
        # JIT warmup is not the thing under test)
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        registry.QUERIES["kpi_globals"](
            spark, bench_dir
        ).collect()  # warms lineitem scan + decimal agg codegen paths

        names = [n for n in HEADLINE if n in registry.QUERIES or n in EXTRA_FNS]
        # scaling runs restrict to a subset (comma-separated) — e.g. the heavy
        # families at sf10, where timing all 36 would mostly measure fixed
        # overhead 3× over. SPARK_GRAFT_QUERIES=all instead EXTENDS the set to
        # every registry query (r7, VERDICT r6 #6: the cheap suites outside the
        # headline had never had a recorded number) — non-headline queries are
        # consumed with count() (they're library-surface suites; the compute is
        # the thing timed, not driver materialization).
        subset = os.environ.get("SPARK_GRAFT_QUERIES")
        count_only = set(COUNT_ONLY)
        if subset == "all":
            extra = sorted(set(registry.QUERIES) - set(names))
            count_only |= set(extra)
            names = names + extra
        elif subset:
            keep = {s.strip() for s in subset.split(",") if s.strip()}
            unknown = keep - set(names) - set(registry.QUERIES)
            if unknown:
                raise SystemExit(f"unknown queries in SPARK_GRAFT_QUERIES: {sorted(unknown)}")
            # non-headline registry queries may be named too (r17: lets the
            # paired-A/B tool target them); they keep FULLBENCH's count()
            # consumption so subset numbers stay comparable with "all" runs.
            extra = sorted(keep - set(names))
            count_only |= set(extra)
            names = [n for n in names if n in keep] + extra
        timings: dict[str, float] = {}
        total = 0.0
        for name in names:
            fn = registry.QUERIES.get(name) or EXTRA_FNS[name]
            samples: list[float] = []
            for _ in range(WARMUP):
                clear_stream_memo()
                df = fn(spark, bench_dir)
                df.count() if name in count_only else df.collect()
            for _ in range(REPS):
                # streaming queries memoize their materialized result; forget it
                # so every rep re-drives the engine (no-op for batch queries)
                clear_stream_memo()
                t0 = time.perf_counter()
                df = fn(spark, bench_dir)
                if name in count_only:
                    df.count()
                else:
                    df.collect()
                samples.append(time.perf_counter() - t0)
            dt = sorted(samples)[len(samples) // 2]
            timings[name] = round(dt, 4)
            total += dt
            # progress to stderr (stdout stays the one JSON line) — long scaling
            # runs are otherwise a wall of stage bars with no query attribution
            print(f"[bench] {name}: {dt:.2f}s (median of {REPS})", file=sys.stderr)

        out = {
            "metric": "headline_queries_total_wall",
            "value": round(total, 4),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "cpus": cpus,
            "reps": REPS,
            "warmup": WARMUP,
            "agg": "median",
            "host": host,
            # scaling-contract evidence (r17, VERDICT r16 #2/#5): the record
            # itself proves the bench honors $SPARK_GRAFT_CPUS and says which
            # input layout the queries actually scanned
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "input_layout": (
                "split:" + ",".join(f"{t}={n}" for t, n in sorted(_split_spec().items()))
                if bench_dir != sf_dir
                else "driver-files"
            ),
        }
        final = os.environ.get("_SPARK_GRAFT_BENCH_CHILD") != "1"
        if final:
            _write_side_files(out)
        # stop the JVM BEFORE printing: the executor JVM shares stdout and its
        # async GC warnings (seen at sf10: "[gc,alloc] ... GCLocker") could
        # otherwise interleave after the JSON line the driver tail-parses
        spark.stop()
    finally:
        if own_split:
            import shutil

            shutil.rmtree(own_split, ignore_errors=True)
    # the ONE stdout JSON line — compact separators, printed LAST, nothing
    # after it (driver tail-captures stdout; keep this line small). A
    # child pass prints the FULL dict (the parent merge consumes it);
    # the final line is slimmed via _emit_final (r15)
    if final:
        _emit_final(out)
    else:
        print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
