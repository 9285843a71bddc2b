"""Stream-stream interval join: strict batch-equality oracles.

The impressions ⋈ clicks shape: two file-replayed streams joined on
user_id with the click constrained to [impression ts, +1 h], watermark
2 h on both sides.  Three legs:

1. INNER: emitted pairs == the batch interval join, exactly (inner
   stream-stream joins emit eagerly; with watermark delay > interval
   width nothing near the horizon is dropped).  The corpus is asserted
   to exercise matches, non-matches on both sides, AND cross-file
   (cross-micro-batch) matches — the case that needs join state.
2. LEFT OUTER: matched pairs == batch matched pairs, and NULL-extended
   rows == exactly the batch-unmatched left rows whose join window the
   final watermark closed (l_ts + upper < wm) — emitting an open row,
   dropping a closed one, or duplicating either fails.
3. Checkpoint kill-and-restart: the query is stopped mid-corpus (left
   state holding impressions whose clicks arrive only after the
   restart), a new query resumes from the same checkpoint, and the total
   emitted output (parquet sink, _spark_metadata manifest) must still be
   exactly the batch join — cross-restart matches prove the join state
   itself was recovered, not just source offsets.

Charter scope (SURVEY §2 E5 streaming leg): the reference is batch-only
Airflow; stream-stream joins are engine breadth, pytest-gated like the
other streaming side-effect paths (driver oracle contract covers batch
queries only).
"""

from __future__ import annotations

import datetime as dt
import time

import pytest

from pyspark.sql import functions as F

from etl_airflow_adventureworks_spark.streaming.joins import (
    interval_join_batch,
    stream_interval_join,
)
from tests.test_streaming import _reveal, _wm_us

IMP_SCHEMA = "imp_id long, ts timestamp, user_id long, campaign string"
CLK_SCHEMA = "click_id long, ts timestamp, user_id long, device string"
N_DAYS = 6
US_DAY = 86_400 * 1_000_000
UPPER_US = 3_600 * 1_000_000  # join upper bound, 1 hour


def _corpus(spark, n_days=N_DAYS, per_day=3_000, n_users=80, seed=11):
    """Deterministic two-stream corpus: impressions per day; ~30% spawn a
    click 0–90 min later (the 60–90 min tail falls OUTSIDE the 1 h join
    bound → unmatched clicks; late-day parents push clicks across the
    midnight file boundary → cross-batch matches); plus orphan clicks on
    users no impression ever uses."""
    import numpy as np

    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2025, 5, 1)
    imps, clks = [], []
    iid = cid = 0
    for d in range(n_days):
        offs = np.sort(rng.integers(0, US_DAY, per_day))
        users = rng.integers(0, n_users, per_day)
        for o, u in zip(offs.tolist(), users.tolist()):
            ts = t0 + dt.timedelta(days=d, microseconds=o)
            imps.append((iid, ts, int(u), f"c{iid % 7}"))
            if rng.random() < 0.3:
                delta = int(rng.integers(0, 90 * 60 * 1_000_000))
                clks.append(
                    (cid, ts + dt.timedelta(microseconds=delta), int(u), "mobile")
                )
                cid += 1
            iid += 1
        for _ in range(40):  # orphan clicks: right-side non-matches
            o = int(rng.integers(0, US_DAY))
            clks.append(
                (
                    cid,
                    t0 + dt.timedelta(days=d, microseconds=o),
                    int(n_users + rng.integers(0, 10)),
                    "bot",
                )
            )
            cid += 1
    return (
        spark.createDataFrame(imps, IMP_SCHEMA),
        spark.createDataFrame(clks, CLK_SCHEMA),
        t0,
    )


def _write_day_files(df, t0, staging, n_days):
    """One standalone parquet file per day (by row ts), oldest first —
    returns ordered paths. Days past the nominal range (clicks spilling
    over the last midnight) get their own trailing file."""
    import glob
    import os
    import shutil

    # materialized once: a frame built from a local list re-runs the
    # Python row conversion on every action, in ONE task under coalesce(1)
    df = df.localCheckpoint()
    paths = []
    for d in range(n_days + 1):
        day0 = t0 + dt.timedelta(days=d)
        day1 = day0 + dt.timedelta(days=1)
        part = df.filter((F.col("ts") >= day0) & (F.col("ts") < day1))
        if part.limit(1).count() == 0:
            continue
        part_dir = os.path.join(staging, f"_day{d:02d}")
        part.coalesce(1).write.parquet(part_dir)
        (f,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dest = os.path.join(staging, f"day{d:02d}.parquet")
        shutil.move(f, dest)
        paths.append(dest)
    return paths


@pytest.fixture(scope="module")
def join_corpus(spark, tmp_path_factory):
    """Corpus + revealed source dirs, shared by the two full-drive tests
    (the restart test reveals incrementally so it builds its own dirs)."""
    root = tmp_path_factory.mktemp("sjoin")
    imp_df, clk_df, t0 = _corpus(spark)
    imp_files = _write_day_files(imp_df, t0, str(root / "imp_stage"), N_DAYS)
    clk_files = _write_day_files(clk_df, t0, str(root / "clk_stage"), N_DAYS)
    imp_src, clk_src = str(root / "imp_src"), str(root / "clk_src")
    _reveal(imp_files, imp_src)
    _reveal(clk_files, clk_src)
    return {
        "imp_files": imp_files,
        "clk_files": clk_files,
        "imp_src": imp_src,
        "clk_src": clk_src,
        "t0": t0,
    }


def _read_streams(spark, imp_src, clk_src):
    imp = (
        spark.readStream.schema(IMP_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_src)
    )
    clk = (
        spark.readStream.schema(CLK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(clk_src)
    )
    return imp, clk


def _join(imp, clk, how):
    return stream_interval_join(
        imp,
        clk,
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
        watermark="2 hours",
        how=how,
    )


def _batch_join(spark, corpus, how):
    return interval_join_batch(
        spark.read.parquet(*corpus["imp_files"]),
        spark.read.parquet(*corpus["clk_files"]),
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
        how=how,
    )


def _drive_to_memory(df, name, flush=False):
    """Append-mode drive to a memory sink; with flush=True, poll for the
    trailing no-data batch (processAllAvailable only awaits source data;
    outer-join NULL-extensions for the last watermark advance are emitted
    by that flush batch). Returns the final watermark in epoch µs."""
    q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        if flush:
            # wait for QUIESCENCE, not just the first no-data batch: in a
            # multi-stateful-operator query a downstream operator evicts
            # with the PREVIOUS batch's watermark, so the engine may need
            # several chained no-data batches before all closed results
            # are out (batchId stops advancing once state is settled)
            deadline = time.time() + 60
            seen_flush = False
            last_bid, stable_since = None, time.time()
            while time.time() < deadline:
                lp = q.lastProgress
                if lp is not None:
                    if lp["numInputRows"] == 0:
                        seen_flush = True
                    if lp["batchId"] != last_bid:
                        last_bid, stable_since = lp["batchId"], time.time()
                if seen_flush and time.time() - stable_since > 3.0:
                    break
                time.sleep(0.2)
            else:
                raise AssertionError("no-data flush batches never settled")
        wm = q.lastProgress["eventTime"]["watermark"]
    finally:
        q.stop()
    return _wm_us(wm)


def test_inner_stream_join_equals_batch(spark, join_corpus):
    imp, clk = _read_streams(spark, join_corpus["imp_src"], join_corpus["clk_src"])
    _drive_to_memory(_join(imp, clk, "inner"), "ssj_inner")
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.sql("SELECT imp_id, click_id FROM ssj_inner").collect()
    }
    batch = _batch_join(spark, join_corpus, "inner")
    expect_rows = batch.select("imp_id", "ts", "click_id", "ts_r").collect()
    expect = {(r["imp_id"], r["click_id"]) for r in expect_rows}

    # the corpus must exercise every regime or equality is weak:
    n_imp = spark.read.parquet(*join_corpus["imp_files"]).count()
    n_clk = spark.read.parquet(*join_corpus["clk_files"]).count()
    matched_imps = {i for i, _ in expect}
    matched_clks = {c for _, c in expect}
    assert expect, "no matches planted"
    assert len(matched_imps) < n_imp, "every impression matched"
    assert len(matched_clks) < n_clk, "every click matched"
    cross_file = [
        r
        for r in expect_rows
        if r["ts"].date() != r["ts_r"].date()  # match spans the midnight file cut
    ]
    assert cross_file, "no cross-micro-batch match — join state untested"

    assert got == expect


def test_left_outer_stream_join_closed_oracle(spark, join_corpus):
    imp, clk = _read_streams(spark, join_corpus["imp_src"], join_corpus["clk_src"])
    wm_us = _drive_to_memory(_join(imp, clk, "left_outer"), "ssj_louter", flush=True)
    rows = spark.sql(
        "SELECT imp_id, ts, click_id FROM ssj_louter"
    ).collect()
    got_matched = {(r["imp_id"], r["click_id"]) for r in rows if r["click_id"] is not None}
    got_null = [r["imp_id"] for r in rows if r["click_id"] is None]
    assert len(got_null) == len(set(got_null)), "NULL-extension emitted twice"

    batch = _batch_join(spark, join_corpus, "left_outer")
    brows = batch.select("imp_id", "ts", "click_id").collect()
    exp_matched = {(r["imp_id"], r["click_id"]) for r in brows if r["click_id"] is not None}
    unmatched = [(r["imp_id"], r["ts"]) for r in brows if r["click_id"] is None]
    closed_null = {
        i
        for i, ts in unmatched
        if int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) + UPPER_US
        < wm_us
    }
    open_null = {i for i, _ in unmatched} - closed_null
    assert exp_matched and closed_null and open_null, (
        len(exp_matched),
        len(closed_null),
        len(open_null),
    )
    assert got_matched == exp_matched
    assert set(got_null) == closed_null


def test_checkpoint_restart_inner_join_exact(spark, tmp_path):
    """Kill-and-restart across the JOIN: phase 1 reveals days 0–2 of both
    streams, the query is stopped, days 3+ are revealed, and a new query
    resumes from the same checkpoint. Matches whose impression arrived
    before the kill and whose click arrives after MUST still be emitted —
    that requires the recovered join state, not just recovered offsets —
    and the manifest-read sink must hold each pair exactly once."""
    imp_df, clk_df, t0 = _corpus(spark)
    imp_files = _write_day_files(imp_df, t0, str(tmp_path / "imp_stage"), N_DAYS)
    clk_files = _write_day_files(clk_df, t0, str(tmp_path / "clk_stage"), N_DAYS)
    imp_src, clk_src = str(tmp_path / "imp_src"), str(tmp_path / "clk_src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        imp, clk = _read_streams(spark, imp_src, clk_src)
        q = (
            _join(imp, clk, "inner")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            prog = list(q.recentProgress)
        finally:
            q.stop()
        return sum(1 for p in prog if p["numInputRows"] > 0)

    _reveal(imp_files[:3], imp_src)
    _reveal(clk_files[:3], clk_src)
    nb1 = drain()
    _reveal(imp_files[3:], imp_src)
    _reveal(clk_files[3:], clk_src)
    nb2 = drain()
    assert nb1 >= 2 and nb2 >= 2, (nb1, nb2)

    emitted = spark.read.parquet(out).select("imp_id", "click_id").collect()
    pairs = [(r["imp_id"], r["click_id"]) for r in emitted]
    assert len(pairs) == len(set(pairs)), "pair emitted twice across restart"

    batch = interval_join_batch(
        spark.read.parquet(*imp_files),
        spark.read.parquet(*clk_files),
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
        how="inner",
    )
    boundary = t0 + dt.timedelta(days=3)
    brows = batch.select("imp_id", "ts", "click_id", "ts_r").collect()
    expect = {(r["imp_id"], r["click_id"]) for r in brows}
    cross_restart = [
        r for r in brows if r["ts"] < boundary and r["ts_r"] >= boundary
    ]
    assert cross_restart, "no match spans the kill — state recovery untested"
    assert set(pairs) == expect


def _us(ts):
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def test_full_outer_stream_join_closed_oracle(spark, join_corpus):
    """Both NULL-extension sets, strictly: left-null rows == exactly the
    batch-unmatched impressions whose match window the final watermark
    closed (imp ts + upper < wm), right-null rows == exactly the
    batch-unmatched clicks past their own closing bound (clk ts - lower
    < wm). The orphan 'bot' clicks planted by the corpus are the
    right-side set."""
    imp, clk = _read_streams(spark, join_corpus["imp_src"], join_corpus["clk_src"])
    wm_us = _drive_to_memory(_join(imp, clk, "full_outer"), "ssj_fouter", flush=True)
    rows = spark.sql(
        "SELECT imp_id, ts, click_id, ts_r FROM ssj_fouter"
    ).collect()
    got_matched = {
        (r["imp_id"], r["click_id"])
        for r in rows
        if r["imp_id"] is not None and r["click_id"] is not None
    }
    got_lnull = [r["imp_id"] for r in rows if r["click_id"] is None]
    got_rnull = [r["click_id"] for r in rows if r["imp_id"] is None]
    assert len(got_lnull) == len(set(got_lnull)), "left NULL-extension duplicated"
    assert len(got_rnull) == len(set(got_rnull)), "right NULL-extension duplicated"

    batch = _batch_join(spark, join_corpus, "full_outer")
    brows = batch.select("imp_id", "ts", "click_id", "ts_r").collect()
    exp_matched = {
        (r["imp_id"], r["click_id"])
        for r in brows
        if r["imp_id"] is not None and r["click_id"] is not None
    }
    closed_lnull = {
        r["imp_id"]
        for r in brows
        if r["click_id"] is None and _us(r["ts"]) + UPPER_US < wm_us
    }
    closed_rnull = {
        r["click_id"]
        for r in brows
        if r["imp_id"] is None and _us(r["ts_r"]) < wm_us  # lower bound is 0
    }
    assert exp_matched and closed_lnull and closed_rnull
    assert got_matched == exp_matched
    assert set(got_lnull) == closed_lnull
    assert set(got_rnull) == closed_rnull


def test_right_outer_stream_join_closed_oracle(spark, join_corpus):
    """right_outer == the right-side half of full_outer: matched pairs
    plus exactly the watermark-closed unmatched clicks."""
    imp, clk = _read_streams(spark, join_corpus["imp_src"], join_corpus["clk_src"])
    wm_us = _drive_to_memory(_join(imp, clk, "right_outer"), "ssj_router", flush=True)
    rows = spark.sql("SELECT imp_id, click_id, ts_r FROM ssj_router").collect()
    got_matched = {
        (r["imp_id"], r["click_id"]) for r in rows if r["imp_id"] is not None
    }
    got_rnull = [r["click_id"] for r in rows if r["imp_id"] is None]
    assert len(got_rnull) == len(set(got_rnull)), "right NULL-extension duplicated"

    batch = _batch_join(spark, join_corpus, "right_outer")
    brows = batch.select("imp_id", "click_id", "ts_r").collect()
    exp_matched = {
        (r["imp_id"], r["click_id"]) for r in brows if r["imp_id"] is not None
    }
    closed_rnull = {
        r["click_id"]
        for r in brows
        if r["imp_id"] is None and _us(r["ts_r"]) < wm_us
    }
    assert exp_matched and closed_rnull
    assert got_matched == exp_matched
    assert set(got_rnull) == closed_rnull


def test_inner_join_state_plateaus(spark, tmp_path):
    """Bounded-state evidence: at a steady arrival rate the join
    operator's state-store footprint PLATEAUS as the stream advances
    (the watermark+interval eviction horizon ≈ admission), while
    cumulative input grows linearly. An unbounded-state join would grow
    rows monotonically with the stream and this test would fail."""
    from etl_airflow_adventureworks_spark.streaming.joins import (
        join_state_per_batch,
    )

    n_days = 10
    imp_df, clk_df, t0 = _corpus(spark, n_days=n_days, per_day=3_000)
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _write_day_files(imp_df, t0, imp_dir, n_days)
    _write_day_files(clk_df, t0, clk_dir, n_days)

    curve = join_state_per_batch(
        spark,
        imp_dir,
        clk_dir,
        left_schema=IMP_SCHEMA,
        right_schema=CLK_SCHEMA,
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
        watermark="2 hours",
    )
    assert len(curve) >= n_days - 1, curve
    rows = [b["rows"] for b in curve]
    total_in = sum(b["input"] for b in curve)
    removed = sum(b["removed"] for b in curve)
    # warm-up is the first two batches (nothing evicted until the
    # watermark first advances); the tail batches are the spill files
    # (clicks past the last midnight), so the steady region is [3:n-1).
    # The watermark the engine evicts with lags one batch, so the
    # plateau is ~one day of admission + the 3 h horizon — the claim is
    # flatness there, and that no batch ever exceeds ~1.5 days' worth.
    steady = rows[3 : n_days - 1]
    assert len(steady) >= 4, rows
    assert max(steady) <= 1.3 * min(steady), rows
    assert max(rows) <= 1.5 * (total_in / n_days), (max(rows), total_in)
    assert rows[-1] <= max(steady), rows
    # and the evicted mass accounts for (almost) everything admitted
    assert removed >= 0.7 * total_in, (removed, total_in)


def test_rejects_bad_arguments(spark, join_corpus):
    imp = spark.read.parquet(*join_corpus["imp_files"])
    clk = spark.read.parquet(*join_corpus["clk_files"])
    with pytest.raises(ValueError, match="how must be"):
        stream_interval_join(imp, clk, on="user_id", how="cross")
    with pytest.raises(ValueError, match="interval offset"):
        stream_interval_join(imp, clk, on="user_id", upper="next tuesday")
    with pytest.raises(ValueError, match="lacks column"):
        stream_interval_join(imp, clk, on="nope")
    with pytest.raises(ValueError, match="at least one equi-key"):
        stream_interval_join(imp, clk, on=[])
    with pytest.raises(ValueError, match="still collides"):
        stream_interval_join(
            imp, clk.withColumnRenamed("device", "ts_r"), on="user_id"
        )


def test_negative_lower_bound_batch_twin(spark, join_corpus):
    """Signed interval offsets work (click within ±30 min): the batch twin
    against a DuckDB-style explicit-predicate recomputation."""
    imp = spark.read.parquet(*join_corpus["imp_files"])
    clk = spark.read.parquet(*join_corpus["clk_files"])
    got = {
        (r["imp_id"], r["click_id"])
        for r in interval_join_batch(
            imp, clk, on="user_id", lower="-30 minutes", upper="30 minutes"
        )
        .select("imp_id", "click_id")
        .collect()
    }
    j = imp.alias("i").join(
        clk.alias("c"),
        (F.col("i.user_id") == F.col("c.user_id"))
        & (F.unix_micros(F.col("c.ts")) >= F.unix_micros(F.col("i.ts")) - 1_800_000_000)
        & (F.unix_micros(F.col("c.ts")) <= F.unix_micros(F.col("i.ts")) + 1_800_000_000),
    )
    expect = {(r["imp_id"], r["click_id"]) for r in j.select("imp_id", "click_id").collect()}
    assert got and got == expect


def test_stream_static_join_stateless_equality(spark, join_corpus):
    """Stream ⋈ static dim: every emitted row equals the batch left join
    (stateless — emissions are immediate, no watermark), NULLs appear for
    exactly the dim-missing campaign, and the join holds NO state."""
    from etl_airflow_adventureworks_spark.streaming.joins import (
        stream_static_join,
    )

    # c6 deliberately absent -> left-NULL rows; 'ts' collides -> rsuffix
    dim = spark.createDataFrame(
        [(f"c{i}", f"Campaign {i}", 1000.0 * i, dt.datetime(2025, 1, 1)) for i in range(6)],
        "campaign string, name string, budget double, ts timestamp",
    )
    imp = (
        spark.readStream.schema(IMP_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(join_corpus["imp_src"])
    )
    j = stream_static_join(imp, dim, on="campaign", how="left")
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_enrich")
        .start()
    )
    try:
        q.processAllAvailable()
        state_ops = (q.lastProgress or {}).get("stateOperators")
    finally:
        q.stop()
    assert state_ops == [], state_ops  # stateless: no state store at all

    got = {
        (r["imp_id"], r["name"], r["budget"], r["ts_r"])
        for r in spark.sql(
            "SELECT imp_id, name, budget, ts_r FROM ss_enrich"
        ).collect()
    }
    batch = spark.read.parquet(*join_corpus["imp_files"])
    expect_df = stream_static_join(batch, dim, on="campaign", how="left")
    expect = {
        (r["imp_id"], r["name"], r["budget"], r["ts_r"])
        for r in expect_df.select("imp_id", "name", "budget", "ts_r").collect()
    }
    nulls = {t for t in expect if t[1] is None}
    assert nulls and len(nulls) < len(expect), "corpus must mix hit and miss"
    assert got == expect

    # the batch twin must broadcast the dim (the stream side never shuffles)
    plan = expect_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    # semi/anti partition the stream exactly
    semi = stream_static_join(batch, dim, on="campaign", how="left_semi")
    anti = stream_static_join(batch, dim, on="campaign", how="left_anti")
    n_semi, n_anti, n_all = semi.count(), anti.count(), batch.count()
    assert n_semi + n_anti == n_all and n_anti == len(nulls)


def test_stream_static_join_rejects_bad_arguments(spark, join_corpus):
    from etl_airflow_adventureworks_spark.streaming.joins import (
        stream_static_join,
    )

    imp = spark.read.parquet(*join_corpus["imp_files"])
    dim = spark.createDataFrame([("c0", "x")], "campaign string, name string")
    with pytest.raises(ValueError, match="how must be"):
        stream_static_join(imp, dim, on="campaign", how="full_outer")
    with pytest.raises(ValueError, match="at least one equi-key"):
        stream_static_join(imp, dim, on=[])
    with pytest.raises(ValueError, match="stream lacks key"):
        stream_static_join(imp, dim, on="nope")
    with pytest.raises(ValueError, match="static side lacks key"):
        stream_static_join(imp, dim.drop("campaign"), on="campaign")
    with pytest.raises(ValueError, match="still collides"):
        stream_static_join(
            imp,
            dim.withColumn("ts", F.lit(1)).withColumn("ts_r", F.lit(2)),
            on="campaign",
        )


def test_chained_three_stream_join_equals_batch(spark, tmp_path):
    """Attribution funnel: impressions ⋈ clicks ⋈ conversions as TWO
    chained stream-stream interval joins (click in [imp, +1 h], conv in
    [click, +2 h]) — a multi-stateful-operator pipeline. The second join
    re-watermarks the first join's OUTPUT on the click timestamp (ts_r),
    which is what makes chaining legal; emitted triples must equal the
    chained batch twin exactly, including funnels whose legs span
    micro-batch (midnight file) boundaries."""
    import numpy as np

    rng = np.random.default_rng(23)
    t0 = dt.datetime(2025, 7, 1)
    n_days, per_day, n_users = 4, 2_000, 60
    imps, clks, convs = [], [], []
    iid = cid = vid = 0
    for d in range(n_days):
        offs = np.sort(rng.integers(0, US_DAY, per_day))
        users = rng.integers(0, n_users, per_day)
        for o, u in zip(offs.tolist(), users.tolist()):
            ts = t0 + dt.timedelta(days=d, microseconds=o)
            imps.append((iid, ts, int(u), f"c{iid % 7}"))
            if rng.random() < 0.4:
                c_ts = ts + dt.timedelta(
                    microseconds=int(rng.integers(0, 90 * 60 * 1_000_000))
                )
                clks.append((cid, c_ts, int(u), "mobile"))
                if rng.random() < 0.5:
                    v_ts = c_ts + dt.timedelta(
                        microseconds=int(rng.integers(0, 3 * 3_600 * 1_000_000))
                    )
                    convs.append((vid, v_ts, int(u), round(float(rng.random()) * 90, 2)))
                    vid += 1
                cid += 1
            iid += 1
    imp_df = spark.createDataFrame(imps, IMP_SCHEMA)
    clk_df = spark.createDataFrame(clks, CLK_SCHEMA)
    conv_df = spark.createDataFrame(
        convs, "conv_id long, ts timestamp, user_id long, amount double"
    )
    # conversions reach up to +90min +3h past the last midnight
    imp_files = _write_day_files(imp_df, t0, str(tmp_path / "is"), n_days)
    clk_files = _write_day_files(clk_df, t0, str(tmp_path / "cs"), n_days)
    conv_files = _write_day_files(conv_df, t0, str(tmp_path / "vs"), n_days)
    srcs = {}
    for name, files in (("imp", imp_files), ("clk", clk_files), ("conv", conv_files)):
        srcs[name] = str(tmp_path / f"{name}_src")
        _reveal(files, srcs[name])

    CONV_SCHEMA = "conv_id long, ts timestamp, user_id long, amount double"

    def read(name, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcs[name])
        )

    j1 = stream_interval_join(
        read("imp", IMP_SCHEMA),
        read("clk", CLK_SCHEMA),
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
        watermark="4 hours",
    )
    j2 = stream_interval_join(
        j1,
        read("conv", CONV_SCHEMA),
        on="user_id",
        left_ts="ts_r",  # the CLICK timestamp anchors the second leg
        lower="0 seconds",
        upper="2 hours",
        watermark="4 hours",
        rsuffix="_c",
    )
    q = (
        j2.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_chain")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["imp_id"], r["click_id"], r["conv_id"])
        for r in spark.sql(
            "SELECT imp_id, click_id, conv_id FROM ssj_chain"
        ).collect()
    }

    b1 = interval_join_batch(
        spark.read.parquet(*imp_files),
        spark.read.parquet(*clk_files),
        on="user_id",
        lower="0 seconds",
        upper="1 hour",
    )
    b2 = interval_join_batch(
        b1,
        spark.read.parquet(*conv_files),
        on="user_id",
        left_ts="ts_r",
        lower="0 seconds",
        upper="2 hours",
        rsuffix="_c",
    )
    brows = b2.select("imp_id", "ts", "click_id", "ts_r", "conv_id", "ts_c").collect()
    expect = {(r["imp_id"], r["click_id"], r["conv_id"]) for r in brows}
    assert expect, "no complete funnels planted"
    # both legs must individually cross a file boundary somewhere
    assert any(r["ts"].date() != r["ts_r"].date() for r in brows), "leg 1 never crosses"
    assert any(r["ts_r"].date() != r["ts_c"].date() for r in brows), "leg 2 never crosses"
    assert got == expect


def test_join_then_window_aggregation_closed_oracle(spark, join_corpus):
    """Stream-stream join FOLLOWED BY a windowed aggregation (clicks per
    campaign per hour) — two stateful operators in one query. The join
    output anchors event time on the impression ts (the click-side tag is
    demoted), the downstream tumbling window aggregates on it, and in
    append mode the emitted windows must equal the batch aggregate
    restricted to watermark-closed windows: exactly, per (campaign,
    window, count). Closure rule: watermark PROPAGATION through a
    time-interval join delays the downstream watermark by the join's
    upper bound (a joined row's left ts can trail the input watermark by
    up to ``upper``), so a window is closed iff
    ``w.end + upper <= wm`` — using the raw input watermark here would
    wrongly expect the last hour's windows."""
    imp, clk = _read_streams(spark, join_corpus["imp_src"], join_corpus["clk_src"])
    joined = _join(imp, clk, "inner")
    agg = joined.groupBy(
        F.window("ts", "1 hour").alias("w"), "campaign"
    ).agg(F.count(F.lit(1)).alias("n_clicks"))
    wm_us = _drive_to_memory(agg, "ssj_jagg", flush=True)
    got = {
        (r["w"]["start"], r["campaign"], r["n_clicks"])
        for r in spark.sql("SELECT w, campaign, n_clicks FROM ssj_jagg").collect()
    }

    batch = _batch_join(spark, join_corpus, "inner")
    brows = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "campaign")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .collect()
    )
    closed = {
        (r["w"]["start"], r["campaign"], r["n_clicks"])
        for r in brows
        if _us(r["w"]["end"]) + UPPER_US <= wm_us
    }
    still_open = {t for t in {(r["w"]["start"], r["campaign"], r["n_clicks"]) for r in brows}} - closed
    assert closed and still_open, (len(closed), len(still_open))
    assert got == closed
