"""CLI surface tests (argument handling; heavy paths covered elsewhere)."""

from __future__ import annotations

from etl_airflow_adventureworks_spark.cli import main


def test_list_and_errors(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "kpi05_top5_products" in out and "ext_minhash_neardup" in out
    assert main(["kpi", "nope", "--sf-dir", "/x"]) == 2
    assert main(["query", "nope", "--sf-dir", "/x"]) == 2


def test_query_runs(spark, capsys):
    # reuses the session via getOrCreate inside the CLI
    assert main(["query", "op26_topk", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "o_totalprice" in capsys.readouterr().out


def test_compact_subcommand(spark, tmp_path, capsys):
    out = str(tmp_path / "t")
    spark.range(10000).repartition(8).write.parquet(out)
    assert main(["compact", "--path", out, "--target-mb", "512"]) == 0
    assert "compacted to 1 file(s)" in capsys.readouterr().out
    assert spark.read.parquet(out).count() == 10000


def test_curate_subcommand(spark, tmp_path, capsys):
    out = str(tmp_path / "curated")
    assert main([
        "curate", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        "--scrub-pii", "--max-top-token-frac", "0.9",
        "--splits", "train=0.9,val=0.1",
    ]) == 0
    report = capsys.readouterr().out
    for stage in ("input", "quality", "repetition", "pii", "exact_dedup",
                  "near_dup", "split"):
        assert f"{stage}:" in report, report
    curated = spark.read.parquet(out)
    assert "split" in curated.columns
    assert 0 < curated.count() <= 500


def test_index_subcommands_round_trip(spark, tmp_path, capsys):
    """r6 (VERDICT r5 #6): the IVF serving path is CLI-reachable —
    build-index commits a version, query-index serves from it with the
    staleness probe surfaced; pinning an older version after a rebuild
    still works (versioned layout)."""
    idx = str(tmp_path / "ivf")
    sf = "/root/testdata/sf0.001"
    assert main(["build-index", "--sf-dir", sf, "--index", idx, "--k-cells", "8"]) == 0
    assert "committed IVF index version 1" in capsys.readouterr().out
    assert main(["query-index", "--sf-dir", sf, "--index", idx, "--nprobe", "3"]) == 0
    out = capsys.readouterr().out
    assert "index staleness" in out and "query_id" in out
    # rebuild + pinned-version query
    assert main(["build-index", "--sf-dir", sf, "--index", idx, "--k-cells", "4"]) == 0
    capsys.readouterr()
    assert main([
        "query-index", "--sf-dir", sf, "--index", idx, "--version", "1",
    ]) == 0
    assert "query_id" in capsys.readouterr().out


def test_sessionize_dispatcher_routes_by_skew(spark, tmp_path, capsys):
    """VERDICT r7 #5: the skew dispatchers have a shipped consumer. The CLI
    probes the hot-key share ONCE, prints the routing decision, and reuses
    the share for --attribution. Uniform corpus → user_window; planted
    hot-user corpus → sharded; session output identical to the hard-wired
    sharded form either way."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_airflow_adventureworks_spark.operators.sessionize import (
        session_gap_sharded,
    )
    from etl_airflow_adventureworks_spark.sources import load_table

    rng = np.random.default_rng(41)
    n = 30_000  # big enough that the 1% sampled probe is stable

    def write_events(dirname, user):
        ts = 1_735_689_600_000_000 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
        d = tmp_path / dirname
        d.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(user.astype(np.int64)),
                "event_type": pa.array(["view"] * n),
                "value": pa.array(rng.random(n)),
                "props": pa.array(["{}"] * n),
            }),
            d / "events.parquet",
        )
        return d

    # uniform: 500 equally-likely users (max share ~0.002, threshold 1/8)
    uni_dir = write_events("uniform", rng.integers(1, 500, n))
    out_u = str(tmp_path / "sess_uniform")
    assert main([
        "sessionize", "--sf-dir", str(uni_dir), "--out", out_u, "--attribution",
    ]) == 0
    text = capsys.readouterr().out
    assert "dispatch: max user share" in text
    assert "-> user_window" in text
    want = session_gap_sharded(load_table(spark, str(uni_dir), "events")).count()
    assert spark.read.parquet(out_u).count() == want

    # skewed: user 0 holds ~60% of events
    hot_dir = write_events(
        "hot", np.where(rng.random(n) < 0.6, 0, rng.integers(1, 500, n))
    )
    out_h = str(tmp_path / "sess_hot")
    assert main(["sessionize", "--sf-dir", str(hot_dir), "--out", out_h]) == 0
    text = capsys.readouterr().out
    assert "-> sharded" in text
    want_hot = session_gap_sharded(load_table(spark, str(hot_dir), "events"))
    assert spark.read.parquet(out_h).count() == want_hot.count()


def test_dedup_index_subcommands_round_trip(spark, tmp_path, capsys):
    """r8: build-dedup-index -> dedup-check finds the planted batch-vs-
    corpus dup -> --accept appends (idempotent under --token replay) ->
    a re-check of the same batch now also collides with its accepted
    twin ids."""
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i} eta theta iota kappa")
         for i in range(30)],
        "doc_id long, text string",
    )
    cdir = str(tmp_path / "corpus")
    corpus.write.parquet(cdir)
    # batch doc 100 duplicates corpus doc 7 exactly; 101 is fresh text
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta doc 7 eta theta iota kappa"),
         (101, "totally different words nothing shared here at all")],
        "doc_id long, text string",
    )
    bdir = str(tmp_path / "batch")
    batch.write.parquet(bdir)
    idx = str(tmp_path / "idx")

    assert main(["build-dedup-index", "--docs", cdir, "--index", idx]) == 0
    assert "version 1" in capsys.readouterr().out

    out = str(tmp_path / "pairs")
    assert main([
        "dedup-check", "--batch", bdir, "--index", idx, "--out", out,
        "--accept", "--token", "b1",
    ]) == 0
    text = capsys.readouterr().out
    assert "version 2" in text
    rows = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
    assert (7, 100) in rows
    assert all(101 not in p for p in rows)

    # replaying the accept with the same token must NOT create version 3
    assert main([
        "dedup-check", "--batch", bdir, "--index", idx, "--accept",
        "--token", "b1",
    ]) == 0
    assert "version 2" in capsys.readouterr().out


def test_ingest_subcommand_gate_and_replay(spark, tmp_path, capsys):
    """r8: the `ingest` subcommand admits a batch through the near-dup
    gate (dup rejected, fresh accepted, both tables advanced as ONE
    epoch) and a replayed --epoch is a version-stable no-op."""
    from etl_airflow_adventureworks_spark.table import VersionedTable

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12))) for i in range(20)],
        "doc_id long, text string",
    )
    cdir = str(tmp_path / "corpus")
    corpus.write.parquet(cdir)
    idx = str(tmp_path / "idx")
    cor = str(tmp_path / "cor")
    assert main(["build-dedup-index", "--docs", cdir, "--index", idx]) == 0
    capsys.readouterr()

    batch = spark.createDataFrame(
        [(100, " ".join(f"c7w{j}" for j in range(12)) + " zz"),  # dup of 7
         (101, " ".join(f"n101w{j}" for j in range(12)))],       # fresh
        "doc_id long, text string",
    )
    bdir = str(tmp_path / "batch")
    batch.write.parquet(bdir)
    args = ["ingest", "--batch", bdir, "--index", idx, "--corpus", cor,
            "--epoch", "1"]
    assert main(args) == 0
    assert "accepted 1, rejected 1" in capsys.readouterr().out
    assert {r.doc_id for r in VersionedTable(spark, cor).read().collect()} == {101}

    vers = [VersionedTable(spark, p).versions() for p in (idx, cor)]
    assert main(args) == 0  # replayed epoch
    assert [VersionedTable(spark, p).versions() for p in (idx, cor)] == vers


def test_validate_subcommand_report_and_quarantine(spark, tmp_path, capsys):
    """r8: the `validate` subcommand runs a JSON check spec (incl. an
    in-dir foreign_key ref), --strict exit-codes on failure, and
    --quarantine writes the good/bad split."""
    import json

    spec = [
        {"kind": "not_null", "col": "l_shipdate"},
        {"kind": "in_range", "col": "l_discount", "lo": 0, "hi": 0.05},
        {"kind": "foreign_key", "col": "l_orderkey",
         "ref_table": "orders", "ref_col": "o_orderkey"},
    ]
    cpath = str(tmp_path / "checks.json")
    with open(cpath, "w") as fh:
        json.dump(spec, fh)
    qdir = str(tmp_path / "quar")
    args = ["validate", "--sf-dir", "/root/testdata/sf0.001",
            "--table", "lineitem", "--checks", cpath, "--quarantine", qdir]
    assert main(args) == 0          # non-strict: reports but exits 0
    out = capsys.readouterr().out
    assert "FAILED checks: in_range(l_discount)" in out
    assert main(args + ["--strict"]) == 1
    good = spark.read.parquet(f"{qdir}/good")
    bad = spark.read.parquet(f"{qdir}/bad")
    total = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
    assert good.count() + bad.count() == total
    assert "_failed" in bad.columns and bad.count() > 0


def test_explain_subcommand_prints_plan(spark, capsys):
    """r8: `explain` prints the physical plan of any declared query."""
    assert main(["explain", "kpi05_top5_products",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out
    assert main(["explain", "nope", "--sf-dir", "/root/testdata/sf0.001"]) == 2


def test_table_info_subcommand(spark, tmp_path, capsys):
    from etl_airflow_adventureworks_spark.table import VersionedTable

    path = str(tmp_path / "t")
    assert main(["table-info", "--path", path]) == 1  # nothing committed yet
    capsys.readouterr()
    t = VersionedTable(spark, path)
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    t.commit(df, stats_cols=["k"])
    t.commit(df.selectExpr("k + 100 AS k", "v"), mode="append",
             idempotency_token="epoch:1")
    assert main(["table-info", "--path", path]) == 0
    out = capsys.readouterr().out
    assert "v1:" in out and "v2:" in out
    assert "token='epoch:1'" in out
    assert "on ['k']" in out


def test_optimize_table_subcommand(spark, tmp_path, capsys):
    from etl_airflow_adventureworks_spark.table import VersionedTable

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    df = spark.range(5000).selectExpr("id AS k", "id % 97 AS b", "id * 2 AS v")
    t.commit(df.repartition(12))
    assert main(["optimize-table", "--path", path,
                 "--zorder", "k,b", "--files", "4"]) == 0
    assert "version 2" in capsys.readouterr().out
    man = t.manifest()
    assert len(man["files"]) == 4 and len(man["stats"]) == 4
    assert t.read().count() == 5000


def test_simjoin_subcommand_matches_library(spark, tmp_path, capsys):
    """The simjoin CLI writes the same pair set the library returns."""
    from etl_airflow_adventureworks_spark.operators.simjoin import (
        text_similarity_join,
    )

    left = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "q r s t u v"), (3, "x y z w k m")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(10, "a b c d e f"), (11, "a b c d e g"), (12, "n o p n o p")],
        "doc_id long, text string",
    )
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lpath)
    right.write.parquet(rpath)
    out = str(tmp_path / "pairs")
    assert main([
        "simjoin", "--left", lpath, "--right", rpath,
        "--threshold", "0.4", "--out", out,
    ]) == 0
    assert "pair(s)" in capsys.readouterr().out
    got = {
        (r["doc_id"], r["doc_id_r"])
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r["doc_id"], r["doc_id_r"])
        for r in text_similarity_join(left, right, threshold=0.4).collect()
    }
    assert got == expect and (1, 10) in got


def test_delete_rows_subcommand(spark, tmp_path, capsys):
    """r8: delete-rows = DELETE WHERE + optional --erase vacuum."""
    import glob

    from etl_airflow_adventureworks_spark.table import VersionedTable

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    df = spark.range(1000).selectExpr("id AS k", "id % 7 AS v")
    t.commit(df.repartitionByRange(4, "k"), stats_cols=["k"])

    assert main(["delete-rows", "--path", path,
                 "--where", "k between 10 and 29"]) == 0
    out = capsys.readouterr().out
    assert "deleted 20 row(s) into version 2" in out
    assert "1 file(s) rewritten" in out and "3 carried" in out
    assert t.read().count() == 980

    # no-match: reported, no new version
    assert main(["delete-rows", "--path", path, "--where", "k = -1"]) == 0
    assert "no rows matched" in capsys.readouterr().out
    assert t.versions() == [1, 2]

    # --erase leaves no retained file holding the deleted rows
    assert main(["delete-rows", "--path", path,
                 "--where", "k < 5", "--erase"]) == 0
    out = capsys.readouterr().out
    assert "into version 3" in out and "erased" in out
    assert t.versions() == [3]
    assert t.read().count() == 975
    files_on_disk = glob.glob(str(tmp_path / "t" / "data" / "*" / "*.parquet"))
    assert {f"data/{p.split('/data/')[1]}" for p in files_on_disk} == set(
        t.manifest()["files"]
    )

    # op metrics surface in table-info
    assert main(["table-info", "--path", path]) == 0
    assert "'rows_deleted': 5" in capsys.readouterr().out


def test_densify_subcommand(spark, tmp_path, capsys):
    """r8: densify = bucketize + gapfill over events, written as parquet."""
    out = str(tmp_path / "dense")
    assert main(["densify", "--sf-dir", "/root/testdata/sf0.001",
                 "--step", "21600", "--fill", "zero", "--out", out]) == 0
    msg = capsys.readouterr().out
    assert "densified" in msg
    dense = spark.read.parquet(out)
    from pyspark.sql import functions as F

    from etl_airflow_adventureworks_spark.operators.timeseries import bucketize
    from etl_airflow_adventureworks_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sparse = bucketize(ev, "ts", 21600).select("user_id", "bucket_ts").distinct()
    assert dense.count() > sparse.count()          # gaps actually filled
    assert dense.filter("n_events is null").count() == 0  # zero-filled
    # per-key grid completeness: rows per user == their bucket span
    span = sparse.groupBy("user_id").agg(
        ((F.max("bucket_ts") - F.min("bucket_ts")) / 21600 + 1).alias("want"))
    got = dense.groupBy("user_id").count()
    assert got.join(span, "user_id").filter("count <> want").count() == 0


def test_index_pq_flags_build_and_serve(spark, tmp_path, capsys):
    """r8: --pq-m rides the build; --pq serves through ADC + re-rank."""
    idx = str(tmp_path / "idx")
    assert main(["build-index", "--sf-dir", "/root/testdata/sf0.001",
                 "--index", idx, "--k-cells", "4",
                 "--pq-m", "16", "--pq-k", "64"]) == 0
    assert "(PQ m=16 k=64)" in capsys.readouterr().out
    assert main(["query-index", "--sf-dir", "/root/testdata/sf0.001",
                 "--index", idx, "--nprobe", "4", "--pq",
                 "--refine", "8"]) == 0
    out = capsys.readouterr().out
    assert "staleness" in out and "query_id" in out and "cos_sim" in out


def test_funnel_subcommand(spark, tmp_path, capsys):
    """r8: the funnel CLI prints monotone reached-per-step counts and
    writes the per-key table."""
    out = str(tmp_path / "funnel")
    assert main(["funnel", "--sf-dir", "/root/testdata/sf0.001",
                 "--steps", "view,click,purchase",
                 "--within-hours", "6", "--out", out]) == 0
    msg = capsys.readouterr().out
    assert "step 1 view:" in msg and "step 3 purchase:" in msg
    import re

    ns = [int(m) for m in re.findall(r"step \d \w+: (\d+)", msg)]
    assert len(ns) == 3 and ns[0] >= ns[1] >= ns[2] > 0
    f = spark.read.parquet(out)
    assert {"t_1", "t_2", "t_3", "steps_completed"} <= set(f.columns)
    assert f.count() == ns[0]

    # r9: the overall conversion window — vs the UNBOUNDED funnel (which
    # completes fully on this dense corpus), a 2h total window must bite
    assert main(["funnel", "--sf-dir", "/root/testdata/sf0.001",
                 "--steps", "view,click,purchase"]) == 0
    free = [int(m) for m in re.findall(r"step \d \w+: (\d+)",
                                       capsys.readouterr().out)]
    assert main(["funnel", "--sf-dir", "/root/testdata/sf0.001",
                 "--steps", "view,click,purchase",
                 "--within-total-hours", "2"]) == 0
    ns2 = [int(m) for m in re.findall(r"step \d \w+: (\d+)",
                                      capsys.readouterr().out)]
    assert len(ns2) == 3 and ns2[0] == free[0]  # step 1 unaffected
    assert all(b <= a for a, b in zip(free, ns2))
    assert ns2[2] < free[2]  # the 2h total really bites on this corpus


def test_table_changes_and_index_staleness_subcommands(spark, tmp_path, capsys):
    """r10: `table-changes` tails the row-level (Delta-CDF) feed across
    an upsert; `index-staleness` classifies a versioned-base dedup index
    and exits nonzero once the corpus is rewritten."""
    from etl_airflow_adventureworks_spark.table import VersionedTable

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"))                # v1
    t.upsert(spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"), key="k")       # v2

    assert main(["table-changes", "--path", path, "--since", "1"]) == 0
    out = capsys.readouterr().out
    assert "insert=1" in out and "update_preimage=1" in out \
        and "update_postimage=1" in out

    out_pq = str(tmp_path / "delta")
    assert main(["table-changes", "--path", path, "--since", "1",
                 "--out", out_pq]) == 0
    assert "3 change row(s)" in capsys.readouterr().out
    assert spark.read.parquet(out_pq).count() == 3

    # dedup index vs its corpus: unchanged -> rewritten (exit 1)
    corpus = str(tmp_path / "corpus")
    cvt = VersionedTable(spark, corpus)
    cvt.commit(spark.createDataFrame(
        [(i, f"some text body number {i} for shingling purposes here")
         for i in range(8)],
        "doc_id long, text string"))
    docs_pq = str(tmp_path / "docs_pq")
    cvt.read().write.parquet(docs_pq)
    idx = str(tmp_path / "idx")
    assert main(["build-dedup-index", "--docs", docs_pq, "--index", idx,
                 "--base", corpus]) == 0
    capsys.readouterr()
    assert main(["index-staleness", "--index", idx, "--kind", "dedup"]) == 0
    assert "UNCHANGED" in capsys.readouterr().out
    cvt.upsert(spark.createDataFrame(
        [(3, "entirely rewritten document text")],
        "doc_id long, text string"), key="doc_id")
    assert main(["index-staleness", "--index", idx, "--kind", "dedup"]) == 1
    assert "rebuild" in capsys.readouterr().out
    assert main(["index-staleness", "--index", idx, "--kind", "dedup",
                 "--allow-rewritten"]) == 1
    assert "REWRITTEN" in capsys.readouterr().out


def test_sync_dedup_index_subcommand(spark, tmp_path, capsys):
    """r10: sync-dedup-index = one CDC apply driven by the corpus's
    row-level change feed; staleness goes rewritten -> unchanged."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        build_neardup_index,
        neardup_index_entries,
    )
    from etl_airflow_adventureworks_spark.table import VersionedTable

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    cvt = VersionedTable(spark, corpus)
    cvt.commit(spark.createDataFrame(
        [(i, f"document body {i} with enough words to shingle cleanly")
         for i in range(6)],
        "doc_id long, text string"))
    build_neardup_index(spark, cvt.read(), idx, base_path=corpus)
    cvt.upsert(spark.createDataFrame(
        [(2, "replacement text entirely different from before")],
        "doc_id long, text string"), key="doc_id")
    cvt.delete_where("doc_id = 4")
    assert main(["index-staleness", "--index", idx, "--kind", "dedup"]) == 1
    capsys.readouterr()
    assert main(["sync-dedup-index", "--index", idx,
                 "--token", "job:42"]) == 0
    assert "synced to its corpus" in capsys.readouterr().out
    assert main(["index-staleness", "--index", idx, "--kind", "dedup"]) == 0

    def snap(df):
        return {(r["doc_id"], tuple(sorted(r["hh"])), tuple(r["sig"]))
                for r in df.collect()}

    assert snap(VersionedTable(spark, idx).read()) == snap(
        neardup_index_entries(cvt.read()))


def test_sync_index_subcommand(spark, tmp_path, capsys):
    """r11: sync-index = the IVF mirror of sync-dedup-index — one CDC
    apply on the VersionedTable layout driven by the base's row-level
    change feed; staleness goes rewritten -> unchanged and query-index
    serves again."""
    from pyspark.sql import functions as F

    SF_SMOKE = "/root/testdata/sf0.001"

    from etl_airflow_adventureworks_spark.sources import load_table
    from etl_airflow_adventureworks_spark.table import VersionedTable

    base = str(tmp_path / "emb")
    idx = str(tmp_path / "ivf")
    cvt = VersionedTable(spark, base)
    cvt.commit(load_table(spark, SF_SMOKE, "embeddings"))
    assert main(["build-index", "--sf-dir", SF_SMOKE, "--index", idx,
                 "--k-cells", "4", "--base", base,
                 "--base-version", "1"]) == 0
    capsys.readouterr()
    cvt.upsert(
        cvt.read().limit(1).withColumn(
            "embedding", F.expr("transform(embedding, x -> float(0.5))")
        ),
        key="vec_id",
    )
    assert main(["index-staleness", "--index", idx, "--kind", "ivf"]) == 1
    capsys.readouterr()
    assert main(["sync-index", "--index", idx, "--token", "job:7",
                 "--optimize-layout"]) == 0
    out = capsys.readouterr().out
    assert "synced to its base" in out and "re-clustered" in out
    assert main(["index-staleness", "--index", idx, "--kind", "ivf"]) == 0
    assert main(["query-index", "--sf-dir", SF_SMOKE, "--index", idx,
                 "--nprobe", "2", "--limit", "3"]) == 0
    capsys.readouterr()
    # standalone re-cluster (r12, ADVICE r11): recovers a crashed
    # 'sync-index --optimize-layout' run — the replayed sync no-ops on
    # its token, so the combined command would skip the re-cluster
    assert main(["optimize-index-layout", "--index", idx,
                 "--num-files", "4"]) == 0
    assert "re-clustered" in capsys.readouterr().out
    assert main(["query-index", "--sf-dir", SF_SMOKE, "--index", idx,
                 "--nprobe", "2", "--limit", "3"]) == 0
    capsys.readouterr()
    # refit leg: rebuild-index retrains from the current base and serves
    cvt.delete_where("vec_id = 11")
    assert main(["rebuild-index", "--index", idx]) == 0
    assert "refit from its base" in capsys.readouterr().out
    assert main(["index-staleness", "--index", idx, "--kind", "ivf"]) == 0


def test_query_index_refuses_rewritten_base(spark, tmp_path, capsys):
    """r10: query-index on a versioned-base IVF build reports the rowset
    probe and REFUSES to serve (exit 1) once the base was rewritten."""
    from pyspark.sql import functions as F

    from etl_airflow_adventureworks_spark.sources import load_table
    from etl_airflow_adventureworks_spark.table import VersionedTable

    sf = "/root/testdata/sf0.001"
    corpus = str(tmp_path / "emb")
    cvt = VersionedTable(spark, corpus)
    cvt.commit(load_table(spark, sf, "embeddings"))
    idx = str(tmp_path / "ivf")
    assert main(["build-index", "--sf-dir", sf, "--index", idx,
                 "--k-cells", "4", "--base", corpus]) == 0
    capsys.readouterr()
    assert main(["query-index", "--sf-dir", sf, "--index", idx,
                 "--nprobe", "2", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "unchanged since v1" in out
    cvt.upsert(
        load_table(spark, sf, "embeddings").limit(1)
        .withColumn("embedding", F.expr("transform(embedding, x -> float(0.0))")),
        key="vec_id",
    )
    assert main(["query-index", "--sf-dir", sf, "--index", idx,
                 "--nprobe", "2", "--limit", "3"]) == 1
    assert "rebuild the index" in capsys.readouterr().out


def test_replicate_table_subcommand(spark, tmp_path, capsys):
    """r10: replicate-table = the delta-cost mirror CLI."""
    from etl_airflow_adventureworks_spark.table import VersionedTable

    src_p, dst_p = str(tmp_path / "src"), str(tmp_path / "dst")
    src = VersionedTable(spark, src_p)
    src.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    assert main(["replicate-table", "--src", src_p, "--dst", dst_p,
                 "--key", "k"]) == 0
    assert "replica-of:v1" in capsys.readouterr().out
    src.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
               key="k")
    src.delete_where("k = 1")
    assert main(["replicate-table", "--src", src_p, "--dst", dst_p,
                 "--key", "k"]) == 0
    assert "replica-of:v3" in capsys.readouterr().out
    assert sorted(map(tuple, VersionedTable(spark, dst_p).read().collect())) \
        == [(2, "B"), (3, "c")]


def test_vacuum_table_subcommand(spark, tmp_path, capsys):
    """r10: vacuum-table with --dry-run preview then the real sweep."""
    from etl_airflow_adventureworks_spark.table import VersionedTable

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert main(["vacuum-table", "--path", path, "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert "would delete" in out and t.versions() == [1, 2]
    assert main(["vacuum-table", "--path", path]) == 0
    assert "deleted" in capsys.readouterr().out
    assert t.versions() == [2]


def test_maintain_table_subcommand(spark, tmp_path, capsys):
    """r15: the generic table-maintenance policy is CLI-reachable —
    dry-run prints the plan, the real run compacts a trickle-ingested
    layout and sweeps retention."""
    from etl_airflow_adventureworks_spark.table import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(0, 10).selectExpr("id AS k", "id AS v")
             .coalesce(1), stats_cols=["k"])
    for i in range(1, 10):
        t.commit(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id AS k", "id AS v").coalesce(1),
            mode="append", stats_cols=["k"],
        )
    assert main(["maintain-table", "--table", t.path, "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert "would run ['compact']" in out and "trickle-ingest" in out
    assert len(t.manifest()["files"]) == 10  # dry run touched nothing
    assert main(["maintain-table", "--table", t.path,
                 "--vacuum-retain", "1"]) == 0
    out = capsys.readouterr().out
    assert "ran ['compact', 'vacuum']" in out
    assert len(t.manifest()["files"]) < 10
    assert len(t.versions()) == 1
    assert main(["maintain-table", "--table", t.path]) == 0
    assert "ran ['nothing']" in capsys.readouterr().out
    # a retention below 1 is refused with exit code 2, as on the other
    # maintain-* subcommands, not raised out of main
    assert main(["maintain-table", "--table", t.path,
                 "--vacuum-retain", "0"]) == 2
    assert "--vacuum-retain must be >= 1" in capsys.readouterr().out
