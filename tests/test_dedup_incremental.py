"""Incremental near-dup dedup (r8): a new batch checked against the
persisted MinHash index must produce EXACTLY the full-corpus batch
operator's pairs restricted to pairs touching the batch — same bands,
same verify, same threshold — without re-running dedup over the corpus."""

from __future__ import annotations

import random

import pytest

from etl_airflow_adventureworks_spark.operators.dedup import (
    hashed_shingle_sets_df,
    minhash_neardup_pairs,
    minhash_signatures,
)
from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
    append_to_neardup_index,
    build_neardup_index,
    minhash_neardup_incremental,
    neardup_index_entries,
)
from etl_airflow_adventureworks_spark.table import VersionedTable

_VOCAB = [f"w{i}" for i in range(60)]


def _doc(rng: random.Random, n: int = 12) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _mutate(text: str, rng: random.Random) -> str:
    words = text.split()
    words[rng.randrange(len(words))] = rng.choice(_VOCAB)
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus_and_batches(spark):
    """corpus ids 0-39, batch1 ids 100-109, batch2 ids 200-205 with
    planted dups: corpus-internal (must NOT surface incrementally),
    batch1→corpus exact + near, batch1-internal, batch2→corpus,
    batch2→batch1 (visible only AFTER batch1 is appended)."""
    rng = random.Random(7)
    corpus = [(i, _doc(rng)) for i in range(40)]
    corpus[5] = (5, corpus[4][1])  # corpus-internal exact dup (4, 5)

    b1 = [(100 + i, _doc(rng)) for i in range(10)]
    b1[0] = (100, corpus[7][1])              # exact dup of corpus 7
    b1[1] = (101, _mutate(corpus[8][1], rng))  # near dup of corpus 8
    b1[3] = (103, b1[2][1])                  # batch1-internal dup (102, 103)

    b2 = [(200 + i, _doc(rng)) for i in range(6)]
    b2[0] = (200, corpus[9][1])              # exact dup of corpus 9
    b2[1] = (201, b1[4][1])                  # exact dup of batch1's 104

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(corpus), mk(b1), mk(b2), corpus, b1, b2


def _pairs(df):
    return {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
    }


def _full_pairs_touching(spark, all_rows, touch_ids):
    full = minhash_neardup_pairs(
        hashed_shingle_sets_df(
            spark.createDataFrame(all_rows, "doc_id long, text string")
        )
    )
    return {
        p for p in _pairs(full) if p[0] in touch_ids or p[1] in touch_ids
    }


def test_row_local_signatures_match_groupby_form(spark, corpus_and_batches):
    corpus_df = corpus_and_batches[0]
    ent = neardup_index_entries(corpus_df)
    got = {r["doc_id"]: list(r["sig"]) for r in ent.collect()}
    sig = minhash_signatures(hashed_shingle_sets_df(corpus_df))
    want = {
        r["doc_id"]: [r[f"s{i}"] for i in range(32)] for r in sig.collect()
    }
    assert got == want


def test_incremental_equals_full_restricted_to_batch(
    spark, tmp_path_factory, corpus_and_batches
):
    corpus_df, b1_df, b2_df, corpus, b1, b2 = corpus_and_batches
    idx = str(tmp_path_factory.mktemp("nd") / "index")
    v1 = build_neardup_index(spark, corpus_df, idx)
    assert v1 == 1

    got1 = _pairs(minhash_neardup_incremental(spark, b1_df, idx))
    want1 = _full_pairs_touching(
        spark, corpus + b1, {i for i, _ in b1}
    )
    assert got1 == want1
    # the planted pairs really are in there (exact dups always collide)
    found = {(a, b) for a, b, _ in got1}
    assert (7, 100) in found          # batch → corpus exact
    assert (102, 103) in found        # batch-internal
    # corpus-internal dup (4, 5) must NOT surface
    assert (4, 5) not in found

    # second batch after appending batch1: sees corpus AND batch1
    append_to_neardup_index(spark, b1_df, idx, idempotency_token="b1")
    got2 = _pairs(minhash_neardup_incremental(spark, b2_df, idx))
    want2 = _full_pairs_touching(
        spark, corpus + b1 + b2, {i for i, _ in b2}
    )
    assert got2 == want2
    found2 = {(a, b) for a, b, _ in got2}
    assert (9, 200) in found2         # batch2 → corpus
    assert (104, 201) in found2       # batch2 → batch1 (cross-batch)


def test_incremental_replay_over_indexed_batch_docs(
    spark, tmp_path, corpus_and_batches
):
    """A batch whose docs are partly in the index already — the state a
    crashed ingest epoch leaves after its index append — still yields
    exactly the full-corpus pairs touching the batch: the doc_ids shared
    by batch and index are one document (no self pair), and a pair
    reached from both the index side and the batch side is emitted once."""
    corpus_df, b1_df, _b2, corpus, b1, _r2 = corpus_and_batches
    idx = str(tmp_path / "index")
    build_neardup_index(spark, corpus_df, idx)
    # 100 (dup of corpus 7) and 102/103 (batch-internal dup) land in the
    # index before the batch is probed again
    append_to_neardup_index(
        spark, b1_df.filter("doc_id < 105"), idx, idempotency_token="b1"
    )
    rows = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_neardup_incremental(spark, b1_df, idx).collect()
    ]
    assert len(rows) == len(set(rows))
    assert all(a < b for a, b, _ in rows)
    assert set(rows) == _full_pairs_touching(spark, corpus + b1, {i for i, _ in b1})
    found = {(a, b) for a, b, _ in rows}
    assert (7, 100) in found and (102, 103) in found


def test_append_is_idempotent_under_token_replay(
    spark, tmp_path, corpus_and_batches
):
    corpus_df, b1_df = corpus_and_batches[0], corpus_and_batches[1]
    idx = str(tmp_path / "index")
    build_neardup_index(spark, corpus_df, idx)
    v2 = append_to_neardup_index(spark, b1_df, idx, idempotency_token="batch-1")
    v_replay = append_to_neardup_index(
        spark, b1_df, idx, idempotency_token="batch-1"
    )
    assert v_replay == v2
    vt = VersionedTable(spark, idx)
    assert vt.read().count() == corpus_df.count() + b1_df.count()


def test_append_sizes_output_files_by_batch_bytes(
    spark, tmp_path, corpus_and_batches
):
    """r12 (ADVICE r11): a large append batch no longer lands as ONE file
    spanning the whole batch key range (which every later copy-on-write
    sync would rewrite wholesale) — num_files is byte-derived (in-memory
    batches stay at 1) and overridable."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        _batch_num_files,
    )

    corpus_df, b1_df = corpus_and_batches[0], corpus_and_batches[1]
    idx = str(tmp_path / "index")
    build_neardup_index(spark, corpus_df, idx)
    # in-memory batch: byte derivation has no input files -> 1
    assert _batch_num_files(spark, b1_df) == 1
    vt = VersionedTable(spark, idx)
    n_before = len(vt.manifest()["files"])
    append_to_neardup_index(spark, b1_df, idx, idempotency_token="b1")
    assert len(vt.manifest()["files"]) == n_before + 1
    # explicit override: the batch clusters into that many key-local
    # files, each carrying doc_id stats for later sync pruning
    b2_df = corpus_and_batches[2]
    append_to_neardup_index(
        spark, b2_df, idx, idempotency_token="b2", num_files=3
    )
    man = vt.manifest()
    new_files = [f for f in man["files"] if f not in set(
        vt.manifest(man["version"] - 1)["files"])]
    assert len(new_files) == 3
    assert all("doc_id" in (man["stats"].get(f) or {}) for f in new_files)
    # a parquet-backed batch derives from its input bytes (tiny -> 1)
    pq = str(tmp_path / "batch.parquet")
    b2_df.write.parquet(pq)
    assert _batch_num_files(spark, spark.read.parquet(pq)) == 1


def test_threshold_and_validation(spark, tmp_path, corpus_and_batches):
    corpus_df, b1_df = corpus_and_batches[0], corpus_and_batches[1]
    idx = str(tmp_path / "index")
    build_neardup_index(spark, corpus_df, idx)
    loose = _pairs(minhash_neardup_incremental(spark, b1_df, idx, threshold=0.3))
    tight = _pairs(minhash_neardup_incremental(spark, b1_df, idx, threshold=0.99))
    assert tight <= loose
    assert all(j >= 0.99 for _, _, j in tight) and tight  # exact dups survive
    with pytest.raises(ValueError, match="doc_id, text"):
        minhash_neardup_incremental(
            spark, b1_df.withColumnRenamed("text", "body"), idx
        )


def test_incremental_plan_is_python_free(spark, tmp_path, corpus_and_batches):
    corpus_df, b1_df = corpus_and_batches[0], corpus_and_batches[1]
    idx = str(tmp_path / "index")
    build_neardup_index(spark, corpus_df, idx)
    df = minhash_neardup_incremental(spark, b1_df, idx)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_index_staleness_across_optimize_append_upsert(
    spark, tmp_path, corpus_and_batches
):
    """r10 (VERDICT r9 #8): a versioned-base dedup index survives the
    corpus's OPTIMIZE (rowset-preserving -> 'unchanged', incremental
    results byte-identical), reports un-ingested appends as catch-up
    work, and LOUDLY rejects an upsert that rewrites an indexed
    document's text (its stored signature would be silently wrong)."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        neardup_index_staleness,
    )

    corpus_df, b1, _b2, _c, _r1, _r2 = corpus_and_batches
    cpath, ipath = str(tmp_path / "corpus"), str(tmp_path / "idx")
    cvt = VersionedTable(spark, cpath)
    cvt.commit(corpus_df)                                         # v1
    build_neardup_index(spark, cvt.read(), ipath, base_path=cpath)
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"

    # OPTIMIZE: rowset-preserving -> index stays valid, results identical
    before = _pairs(minhash_neardup_incremental(spark, b1, ipath))
    assert before  # planted dups exist
    cvt.optimize(num_files=1)                                     # v2
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"
    assert _pairs(minhash_neardup_incremental(spark, b1, ipath)) == before

    # corpus append the index has not ingested -> catch-up work
    cvt.commit(b1, mode="append")                                 # v3
    st = neardup_index_staleness(spark, ipath)
    assert st["kind"] == "appended" and st["current_base_version"] == 3
    # ingesting the batch with a base-stamped append re-syncs
    append_to_neardup_index(spark, b1, ipath, base_path=cpath)
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"

    # UPSERT rewrites an indexed doc's text -> loud reject, then rebuild
    cvt.upsert(
        spark.createDataFrame([(7, "totally different text now by upsert")],
                              "doc_id long, text string"),
        key="doc_id",
    )                                                             # v4
    with pytest.raises(ValueError, match="rebuild with build_neardup_index"):
        neardup_index_staleness(spark, ipath)
    st = neardup_index_staleness(spark, ipath, allow_rewritten=True)
    assert st["kind"] == "rewritten"
    build_neardup_index(spark, cvt.read(), ipath, base_path=cpath)
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"

    # a plain-dir index has no base to walk — explicit error
    plain = str(tmp_path / "plain_idx")
    build_neardup_index(spark, corpus_df, plain)
    with pytest.raises(ValueError, match="not built with base_path"):
        neardup_index_staleness(spark, plain)


def test_sync_neardup_index_from_corpus_change_feed(
    spark, tmp_path, corpus_and_batches
):
    """r10: after mixed corpus maintenance (append + upsert mutating an
    indexed doc + keyed delete + OPTIMIZE), ONE `sync_neardup_index`
    consumes the corpus's row-level change feed and leaves the index
    ROW-IDENTICAL to a from-scratch rebuild — staleness returns to
    'unchanged' and the incremental checker agrees with the full-corpus
    operator again (including NOT pairing against the deleted doc)."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        neardup_index_staleness,
        sync_neardup_index,
    )

    corpus_df, b1, b2, corpus_rows, b1_rows, b2_rows = corpus_and_batches
    cpath, ipath = str(tmp_path / "corpus"), str(tmp_path / "idx")
    cvt = VersionedTable(spark, cpath)
    cvt.commit(corpus_df)                                          # v1
    build_neardup_index(spark, cvt.read(), ipath, base_path=cpath)

    cvt.commit(b1, mode="append")                                  # v2
    cvt.upsert(
        spark.createDataFrame(
            [(7, "entirely new text for doc seven after the upsert")],
            "doc_id long, text string"),
        key="doc_id",
    )                                                              # v3
    cvt.delete_where("doc_id = 9")                                 # v4
    cvt.optimize(num_files=1)                                      # v5
    with pytest.raises(ValueError, match="rebuild with build_neardup_index"):
        neardup_index_staleness(spark, ipath)

    v = sync_neardup_index(spark, ipath, idempotency_token="sync:1")
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"

    def snap(df):
        return {
            (r["doc_id"], tuple(sorted(r["hh"])), tuple(r["sig"]))
            for r in df.collect()
        }

    idx = VersionedTable(spark, ipath)
    assert snap(idx.read()) == snap(neardup_index_entries(cvt.read()))
    # re-sync while level: version-stable no-op
    assert sync_neardup_index(spark, ipath) == v

    # the incremental checker agrees with the full-corpus op on a new
    # batch — b2[0] duplicates the DELETED doc 9, so that pair must be
    # gone; b2[1] duplicates b1's 104, which the sync ingested
    got = _pairs(minhash_neardup_incremental(spark, b2, ipath))
    cur_rows = [(r["doc_id"], r["text"]) for r in cvt.read().collect()]
    want = _full_pairs_touching(
        spark, cur_rows + b2_rows, {r[0] for r in b2_rows}
    )
    assert got == want
    assert not any(9 in (a, b) for a, b, _ in got)
    assert any({a, b} == {104, 201} for a, b, _ in got)


def test_clustered_index_range_local_sync_prunes_files(spark, tmp_path):
    """r11 (VERDICT r10 #3): the index is written key-clustered (range-
    partitioned + sorted by doc_id, per-file min/max stats), so a
    range-local maintenance window's CDC apply probes AND rewrites only
    the files whose key range admits the changed docs — the r10
    whole-index-rewrite cost term becomes a touched-file term — while
    the synced rowset stays identical to a rebuild."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        sync_neardup_index,
    )

    rng = random.Random(11)
    rows = [(i, _doc(rng)) for i in range(200)]
    cpath, ipath = str(tmp_path / "corpus"), str(tmp_path / "idx")
    cvt = VersionedTable(spark, cpath)
    cvt.commit(spark.createDataFrame(rows, "doc_id long, text string"))
    build_neardup_index(spark, cvt.read(), ipath, base_path=cpath,
                        num_files=8)
    idx = VersionedTable(spark, ipath)
    man = idx.manifest()
    assert len(man["files"]) == 8
    assert all("doc_id" in (man["stats"].get(f) or {}) for f in man["files"])

    # range-local window: mutate docs 0..9 — one clustered key range
    cvt.upsert(
        spark.createDataFrame([(i, _doc(rng)) for i in range(10)],
                              "doc_id long, text string"),
        key="doc_id",
    )
    sync_neardup_index(spark, ipath, idempotency_token="sync:r11")
    op = idx.manifest()["op"]
    assert op["files_probed"] <= 2, op      # stats pruned the probe scan
    assert op["files_rewritten"] <= 2, op   # cow rewrite ∝ touched range
    assert op["files_carried"] >= 6, op

    def snap(df):
        return {
            (r["doc_id"], tuple(sorted(r["hh"])), tuple(r["sig"]))
            for r in df.collect()
        }

    assert snap(idx.read()) == snap(neardup_index_entries(cvt.read()))


def test_dedup_index_recluster_after_scattered_syncs(spark, tmp_path):
    """r11: a scattered sync window writes a patch file whose doc_id
    range straddles the clustered layout; optimize(cluster_by=
    ["doc_id"]) re-clusters it as one rowset-preserving version —
    single-key pruning restored, entries unchanged, the index's
    staleness contract untouched, and the next sync still applies."""
    from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
        neardup_index_staleness,
        sync_neardup_index,
    )

    rng = random.Random(13)
    rows = [(i, _doc(rng)) for i in range(120)]
    cpath, ipath = str(tmp_path / "corpus"), str(tmp_path / "idx")
    cvt = VersionedTable(spark, cpath)
    cvt.commit(spark.createDataFrame(rows, "doc_id long, text string"))
    build_neardup_index(spark, cvt.read(), ipath, base_path=cpath,
                        num_files=4)
    # scattered mutation: one doc per quarter of the key space
    cvt.upsert(
        spark.createDataFrame(
            [(i, _doc(rng)) for i in (3, 33, 63, 93)],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    sync_neardup_index(spark, ipath)
    idx = VersionedTable(spark, ipath)

    def files_for(doc_id):
        return len(idx.read_where({"doc_id": (doc_id, doc_id)}).inputFiles())

    assert files_for(3) >= 2  # build file + wide-range patch file

    idx.optimize(cluster_by=["doc_id"], num_files=4)
    assert files_for(3) == 1
    assert neardup_index_staleness(spark, ipath)["kind"] == "unchanged"

    def snap(df):
        return {
            (r["doc_id"], tuple(sorted(r["hh"])), tuple(r["sig"]))
            for r in df.collect()
        }

    assert snap(idx.read()) == snap(neardup_index_entries(cvt.read()))
    # later maintenance still syncs incrementally on the compacted index
    cvt.delete_where("doc_id = 63")
    sync_neardup_index(spark, ipath)
    assert snap(idx.read()) == snap(neardup_index_entries(cvt.read()))


def test_batch_num_files_measures_the_batch_not_its_input_files(
    spark, tmp_path, monkeypatch
):
    """r13 (ADVICE r12): sizing derives from the batch's MEASURED text
    volume — a low-count batch of very large documents shards by bytes
    (the old row cap collapsed it to one oversized key-spanning file),
    and a filtered read of a big table sizes by the surviving rows, not
    the scanned input files."""
    import etl_airflow_adventureworks_spark.operators.dedup_incremental as di
    import etl_airflow_adventureworks_spark.table as table

    monkeypatch.setattr(table, "TARGET_FILE_BYTES", 64 * 1024)
    # 40 docs x ~4 KiB text: entry estimate ~40*(384 + 1.6*4096) ≈ 277 KiB
    # -> several files despite the tiny row count
    fat = spark.createDataFrame(
        [(i, ("w%d " % i) * 1024) for i in range(40)],
        "doc_id long, text string",
    )
    n = di._batch_num_files(spark, fat)
    assert n >= 3
    # filtered read of a bigger table: only the survivors count
    pq = str(tmp_path / "big.parquet")
    fat.write.parquet(pq)
    assert di._batch_num_files(
        spark, spark.read.parquet(pq).filter("doc_id = 7")
    ) == 1
    # the appended files actually cluster and carry stats at that count
    idx = str(tmp_path / "idx")
    build_neardup_index(spark, fat.filter("doc_id < 2"), idx, num_files=1)
    append_to_neardup_index(spark, fat.filter("doc_id >= 2"), idx,
                            idempotency_token="fat")
    vt = VersionedTable(spark, idx)
    man = vt.manifest()
    new_files = [f for f in man["files"]
                 if f not in set(vt.manifest(1)["files"])]
    assert len(new_files) >= 3
    assert all("doc_id" in (man["stats"].get(f) or {}) for f in new_files)
