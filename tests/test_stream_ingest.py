"""Streaming ingestion gate: per-micro-batch near-dup admission against
the persisted MinHash index, exactly-once across kill-and-restart.

Pins the composition contract of `streaming/ingest.py`:
- greedy keep-lowest admission (index partner always wins; lower-id
  batch partner wins; chains reject transitively within a batch);
- the accepted corpus NEVER contains a near-dup pair at the threshold,
  across batch AND restart boundaries;
- each epoch applies to each table exactly once (idempotent replay of
  a completed epoch is a version-stable no-op);
- a killed-and-restarted streaming query resumes from the checkpoint
  (no re-ingest of already-processed files, no lost batch).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from etl_airflow_adventureworks_spark.operators.dedup import (
    hashed_shingle_sets_df,
    minhash_neardup_pairs,
)
from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
    build_neardup_index,
    neardup_index_entries,
)
from etl_airflow_adventureworks_spark.streaming.ingest import (
    ingest_batch_with_dedup,
    stream_ingest_with_dedup,
)
from etl_airflow_adventureworks_spark.table import VersionedTable


def _text(i: int, extra: str = "") -> str:
    """12 tokens unique to doc ``i`` (no cross-doc shingle overlap), so
    the only near-dup pairs are the ones a test plants explicitly."""
    base = " ".join(f"w{i}x{j}" for j in range(12))
    return f"{base} {extra}".strip() if extra else base


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bootstrap(spark, tmp_path, n=20):
    """Corpus docs 0..n-1, committed to the corpus table and the index."""
    corpus = _docs(spark, [(i, _text(i)) for i in range(n)])
    idx = str(tmp_path / "idx")
    cor = str(tmp_path / "cor")
    build_neardup_index(spark, corpus, idx)
    VersionedTable(spark, cor).commit(corpus, mode="overwrite")
    return corpus, idx, cor


def _corpus_ids(spark, cor):
    return {r.doc_id for r in VersionedTable(spark, cor).read().collect()}


def test_batch_gate_greedy_and_pairfree(spark, tmp_path):
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    audit = str(tmp_path / "audit")

    # 100 dups corpus doc 7; 101 fresh; 102 dups 101 (within-batch,
    # lower id wins); 103 fresh
    b1 = _docs(spark, [
        (100, _text(7, "zz1")), (101, _text(101)),
        (102, _text(101, "zz2")), (103, _text(103)),
    ])
    r1 = ingest_batch_with_dedup(b1, idx, cor, 1, audit_path=audit)
    assert r1 == {"accepted": 2, "rejected": 2}
    assert _corpus_ids(spark, cor) == set(range(20)) | {101, 103}

    # 104 dups 101 (vs the now-updated index, across batches); 105 fresh;
    # 106 dups 105 (within-batch); 107 dups 106 (chain: rejected for the
    # lower-id partner 106 even though 106 itself was rejected)
    b2 = _docs(spark, [
        (104, _text(101, "zz3")), (105, _text(105)),
        (106, _text(105, "zz4")), (107, _text(105, "zz4 zz5")),
    ])
    r2 = ingest_batch_with_dedup(b2, idx, cor, 2, audit_path=audit)
    assert r2 == {"accepted": 1, "rejected": 3}
    final = set(range(20)) | {101, 103, 105}
    assert _corpus_ids(spark, cor) == final

    # the admission invariant: the accepted corpus is pair-free
    accepted = VersionedTable(spark, cor).read()
    assert minhash_neardup_pairs(hashed_shingle_sets_df(accepted)).count() == 0

    # index contents track the corpus exactly
    idx_ids = {r.doc_id for r in VersionedTable(spark, idx).read().collect()}
    assert idx_ids == final

    # audit trail carries the detected pairs with their epoch
    got = {(r.doc_a, r.doc_b, r.epoch)
           for r in VersionedTable(spark, audit).read().collect()}
    assert (7, 100, 1) in got and (101, 102, 1) in got
    assert (101, 104, 2) in got and (105, 106, 2) in got and (106, 107, 2) in got

    # replaying a completed epoch is a no-op on every table
    vers = [VersionedTable(spark, p).versions() for p in (idx, cor, audit)]
    ingest_batch_with_dedup(b2, idx, cor, 2, audit_path=audit)
    assert [VersionedTable(spark, p).versions() for p in (idx, cor, audit)] == vers
    assert _corpus_ids(spark, cor) == final


def _reveal(paths, dest_dir):
    """Copy staged files into the stream dir with increasing mtimes (the
    FileStreamSource same-millisecond ordering hazard, as in
    test_streaming._reveal)."""
    os.makedirs(dest_dir, exist_ok=True)
    existing = [os.path.getmtime(os.path.join(dest_dir, f))
                for f in os.listdir(dest_dir)]
    t = max(existing) if existing else None
    for p in paths:
        dest = os.path.join(dest_dir, os.path.basename(p))
        shutil.copy(p, dest)
        t = os.path.getmtime(dest) if t is None else t + 1.0
        os.utime(dest, (t, t))


def _stage_file(spark, staging, name, rows):
    one = str(staging / f"{name}_dir")
    _docs(spark, rows).coalesce(1).write.mode("overwrite").parquet(one)
    part = next(f for f in os.listdir(one) if f.endswith(".parquet"))
    dest = str(staging / f"{name}.parquet")
    shutil.copy(os.path.join(one, part), dest)
    return dest


def test_stream_gate_kill_restart_exactly_once(spark, tmp_path):
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    staging = tmp_path / "staging"
    os.makedirs(staging, exist_ok=True)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    f1 = _stage_file(spark, staging, "f1", [
        (100, _text(7, "zz1")),          # dup of corpus doc 7
        (101, _text(101)),               # fresh
        (102, _text(101, "zz2")),        # within-batch dup of 101
    ])
    f2 = _stage_file(spark, staging, "f2", [
        (103, _text(101, "zz3")),        # dup of 101 (prior micro-batch)
        (104, _text(104)),               # fresh
    ])
    f3 = _stage_file(spark, staging, "f3", [
        (105, _text(105)),               # fresh
        (106, _text(104, "zz4")),        # dup of 104 — ACROSS the restart
    ])

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_ingest_with_dedup(stream, idx, cor, ckpt)

    # phase 1: two files, one micro-batch each, then KILL
    _reveal([f1, f2], src)
    q = start()
    q.processAllAvailable()
    batches1 = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    q.stop()
    assert batches1 >= 2
    mid = set(range(20)) | {101, 104}
    assert _corpus_ids(spark, cor) == mid

    # phase 2: reveal the last file, new query on the SAME checkpoint
    _reveal([f3], src)
    q2 = start()
    q2.processAllAvailable()
    time.sleep(0.2)
    q2.stop()

    final = mid | {105}
    accepted = VersionedTable(spark, cor).read()
    ids = [r.doc_id for r in accepted.select("doc_id").collect()]
    # exactly-once: no doc admitted twice across the restart, none lost,
    # and phase-1 files were NOT re-ingested by the restarted query
    assert len(ids) == len(set(ids))
    assert set(ids) == final
    idx_ids = [r.doc_id for r in VersionedTable(spark, idx).read()
               .select("doc_id").collect()]
    assert len(idx_ids) == len(set(idx_ids)) and set(idx_ids) == final
    # and the admitted corpus is still pair-free across every boundary
    assert minhash_neardup_pairs(hashed_shingle_sets_df(accepted)).count() == 0


def test_batch_with_duplicate_ids_fails_before_commit(spark, tmp_path):
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    vers = VersionedTable(spark, idx).versions()
    bad = _docs(spark, [(100, _text(100)), (100, _text(100, "zz"))])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate doc_id 100"):
        ingest_batch_with_dedup(bad, idx, cor, 1)
    assert VersionedTable(spark, idx).versions() == vers  # untouched


#: Spark jobs one small `ingest_batch_with_dedup` epoch may run; the
#: gate computes each batch-sized frame once and scans the index once
EPOCH_JOB_BUDGET = 16


def test_batch_gate_job_budget(spark, tmp_path):
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    batch = _docs(spark, [
        (100, _text(7, "zz1")), (101, _text(101)), (102, _text(101, "zz2")),
    ])
    sc = spark.sparkContext
    group = "test-ingest-epoch-budget"
    sc.setJobGroup(group, "one ingest epoch")
    try:
        r = ingest_batch_with_dedup(batch, idx, cor, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r == {"accepted": 1, "rejected": 2}
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= EPOCH_JOB_BUDGET, jobs


def test_empty_batch_touches_no_table(spark, tmp_path):
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    vers = [VersionedTable(spark, p).versions() for p in (idx, cor)]
    empty = _docs(spark, [])
    assert ingest_batch_with_dedup(empty, idx, cor, 1) == {
        "accepted": 0, "rejected": 0}
    assert [VersionedTable(spark, p).versions() for p in (idx, cor)] == vers


def test_gate_appends_the_entries_it_probed(spark, tmp_path):
    """One gated epoch over a one-file batch: the index rows it adds are
    exactly the accepted docs' entries (the probe's entries, not a
    recomputation that could drift), rejected docs are absent, and the
    epoch adds one corpus file and one index file, however many
    partitions the gate spreads the batch over."""
    corpus, idx, cor = _bootstrap(spark, tmp_path)
    staging = tmp_path / "staging"
    os.makedirs(staging, exist_ok=True)
    rows = [(100 + i, _text(100 + i)) for i in range(30)]
    rows += [(130, _text(3, "zz1")), (131, _text(104, "zz2"))]  # dup corpus 3, batch 104
    path = _stage_file(spark, staging, "b1", rows)
    before = {p: set(VersionedTable(spark, p).manifest()["files"]) for p in (idx, cor)}

    r = ingest_batch_with_dedup(spark.read.parquet(path), idx, cor, 1)
    assert r == {"accepted": 30, "rejected": 2}
    added = {}
    for p in (idx, cor):
        man = VersionedTable(spark, p).manifest()
        added[p] = sorted(set(man["files"]) - before[p])
        assert len(added[p]) == 1, (p, added[p])
    assert VersionedTable(spark, idx).manifest()["op"] == {"op": "neardup_index_append"}

    def snap(df):
        return sorted((r.doc_id, list(r.hh), list(r.sig))
                      for r in df.select("doc_id", "hh", "sig").collect())

    new_rows = spark.read.parquet(f"{idx}/{added[idx][0]}")
    accepted = spark.read.parquet(f"{cor}/{added[cor][0]}")
    assert {r.doc_id for r in accepted.collect()} == set(range(100, 130))
    assert snap(new_rows) == snap(neardup_index_entries(accepted))
