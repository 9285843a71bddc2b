"""Incremental near-duplicate dedup: a NEW batch checked against a
PERSISTED MinHash index of the corpus — without re-running dedup over the
corpus.

At 100 TB the full-corpus MinHash pass (`dedup.minhash_neardup_pairs`)
is a build-time job; ingestion is incremental — a daily batch must be
deduped against everything already accepted. Re-running the full pass
per batch re-shuffles the whole corpus for every arrival. This module
persists the reusable per-document state once — hashed shingle sets
(`hh`, for the exact-Jaccard verify) and the 32-permutation MinHash
signature (`sig`, for LSH banding) — as a `VersionedTable`
(atomic manifests, time travel, idempotent appends), and checks each
new batch with a plan that SCANS the corpus once and never shuffles it:
one column-pruned (doc_id, sig, hh) pass over the index builds band rows,
probes the batch's band rows (tiny, BROADCAST) and verifies each
collision's exact Jaccard against the batch's broadcast shingle sets in
the same stage — candidate generation and verification are one pipeline,
and its output is ∝ LSH collisions.

A batch's entries are ONE (doc_id, text, hh, sig) frame
(`neardup_batch_entries`) that the probe and the append read as is, or
derive once from (doc_id, text); build and append share one commit tail
(`_publish_entries`).

Signatures here are computed per-row (`array_min(transform(...))`) —
identical values to `dedup.minhash_signatures`'s explode+groupBy form
(same permutation coefficients, same Mersenne modulus, min over the same
distinct shingle set) but with zero shuffle, which is the right trade for
a build-once index write and for small batches. The agreement is pinned
in tests, and the end-to-end contract is exact: **incremental pairs ==
the full-corpus batch operator's pairs restricted to pairs touching the
new batch** (same candidates, same verify, same threshold).

No reference counterpart (the reference has no dedup at all); charter E2
extension, sibling of `operators/similarity.build_ivf_index`'s persisted
serving artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import (
    FRAG_DEPTH_MAX,
    Maintained,
    VersionedTable,
    files_for_bytes,
    maintain,
)
from .dedup import (
    JACCARD_THRESHOLD,
    _MERSENNE_P,
    _N_BANDS,
    _PERM_A,
    _PERM_B,
    with_hashed_shingles,
)

#: band keys from the stored signature array — value-identical strings to
#: the batch op's ``concat(s{2b}, ',', s{2b+1})`` over its signature columns
_BANDS_EXPR = (
    f"transform(sequence(0, {_N_BANDS - 1}),"
    " b -> concat(element_at(sig, 2*b + 1), ',', element_at(sig, 2*b + 2)))"
)

#: the 32-long row-local MinHash signature of ``hh``, as ONE expression
#: (one parse per plan instead of one per permutation)
_SIG_EXPR = "array({}) AS sig".format(", ".join(
    f"array_min(transform(hh, h -> pmod({a}L * h + {b}L, {_MERSENNE_P}L)))"
    for a, b in zip(_PERM_A, _PERM_B)
))


def _require_doc_frame(docs: DataFrame, what: str) -> None:
    missing = {"doc_id", "text"} - set(docs.columns)
    if missing:
        raise ValueError(f"{what} needs columns doc_id, text (missing {sorted(missing)})")


def neardup_batch_entries(docs: DataFrame) -> DataFrame:
    """(doc_id, text, hh, sig) — ``docs`` with their dedup state.

    ``hh`` = distinct hashed 3-token shingles (`hashed_shingle_sets_df`);
    ``sig`` = 32-long MinHash signature computed row-locally:
    ``sig[i] = min over h in hh of (a_i*h + b_i) mod p`` — the same
    formula and coefficients as ``dedup.minhash_signatures``, so bands
    built from either source collide identically. Row-local (no explode /
    groupBy shuffle): right for the one-time index write and for small
    ingest batches; the explode+groupBy twin stays the right shape for
    full-corpus jobs where codegen'd partial mins win.
    """
    _require_doc_frame(docs, "neardup_batch_entries")
    return with_hashed_shingles(docs.select("doc_id", "text")).selectExpr(
        "*", _SIG_EXPR
    )


def neardup_index_entries(docs: DataFrame) -> DataFrame:
    """(doc_id, hh, sig) — the persisted per-document dedup state
    (`neardup_batch_entries` without the text)."""
    return neardup_batch_entries(docs).drop("text")


def _entries_of(docs: DataFrame, what: str) -> DataFrame:
    """``docs`` when it already is a `neardup_batch_entries` frame, else
    that frame computed once (both callers read it more than once)."""
    _require_doc_frame(docs, what)
    if {"hh", "sig"} <= set(docs.columns):
        return docs
    return neardup_batch_entries(docs).localCheckpoint(eager=True)


def _publish_entries(
    spark: SparkSession, entries: DataFrame, index_path: str, mode: str,
    op: str, num_files: int | None, base_path: str | None,
    base_version: int | None, idempotency_token: str | None = None,
) -> int:
    """The commit tail of build and append: resolve the base stamp,
    key-cluster by ``doc_id`` into ``num_files`` files (per-file min/max
    stats when numeric, so ``apply_cdc`` prunes a range-local sync),
    commit, then register on the base — after the commit, so a failed
    commit leaves no phantom entry; best-effort: the registry is advisory."""
    from ..table import numeric_stats_types, resolve_base_stamp

    base = (
        resolve_base_stamp(spark, base_path, base_version)
        if base_path is not None
        else None
    )
    parts = [num_files] if num_files else []
    clustered = (
        entries.select("doc_id", "hh", "sig")
        .repartitionByRange(*parts, "doc_id")
        .sortWithinPartitions("doc_id")
    )
    dtype = entries.schema["doc_id"].dataType
    stats = ["doc_id"] if isinstance(dtype, numeric_stats_types()) else None
    # an append records its op even without a base stamp (the maintain
    # policy's fragmentation baseline must classify appends as PATCHES);
    # a build records one only with its base
    op_info = {"op": op} if base or mode == "append" else None
    if base:
        op_info["base"] = base
    v = VersionedTable(spark, index_path).commit(
        clustered, mode=mode, stats_cols=stats,
        idempotency_token=idempotency_token, op_info=op_info,
    )
    if base:
        VersionedTable(spark, base["path"]).register_consumer(
            index_path, best_effort=True
        )
    return v


def build_neardup_index(
    spark: SparkSession, docs: DataFrame, index_path: str,
    base_path: str | None = None,
    base_version: int | None = None,
    num_files: int | None = None,
) -> int:
    """Build (or rebuild) the persisted dedup index from the current
    corpus — one atomic `VersionedTable` commit; returns the version.

    Layout: entries are written KEY-CLUSTERED (``num_files`` files;
    default ``spark.sql.shuffle.partitions``) by the shared commit tail
    `_publish_entries`, so a sync rewrites only the files it touches.

    ``base_path``: when ``docs`` is the CURRENT snapshot of a corpus
    kept as a ``VersionedTable`` (``VersionedTable(spark,
    base_path).read()``), the build records (path, version) so
    ``neardup_index_staleness`` can classify corpus movement from
    manifests alone — an UPSERT/DELETE that changes a document's text
    makes its stored entry silently wrong, and is rejected loudly
    instead. Pass ``base_version`` (the version ``docs`` was read at)
    when concurrent corpus writers are possible: resolving the current
    version here would stamp over a racing rewrite (see
    ``table.resolve_base_stamp``)."""
    return _publish_entries(
        spark, neardup_index_entries(docs), index_path, "overwrite",
        "neardup_index_build", num_files, base_path, base_version,
    )


#: estimated stored-entry bytes per byte of document TEXT: `hh` holds
#: one 8-byte hash per distinct 3-token shingle (≈ one per ~5-char
#: token), so entry bytes track text bytes at roughly 8/5 = 1.6×
#: pre-compression (parquet wins some of that back; the sizing only
#: needs the right order of magnitude)
_ENTRY_BYTES_PER_TEXT_BYTE = 1.6

#: per-row fixed entry bytes: the 32×8-byte `sig` array + doc_id +
#: parquet framing overhead
_ENTRY_FIXED_BYTES = 384


def _num_files_for(rows: int, text_bytes: int) -> int:
    """Output file count for an append of ``rows`` documents holding
    ``text_bytes`` of text: the estimated stored entry bytes through
    ``table.files_for_bytes``, so a LARGE batch lands as several
    key-local files, not one key-spanning file every later sync would
    rewrite wholesale. Used by `_batch_num_files` and the ingest gate."""
    return files_for_bytes(
        rows * _ENTRY_FIXED_BYTES
        + int(text_bytes * _ENTRY_BYTES_PER_TEXT_BYTE)
    )


def _batch_num_files(spark: SparkSession, docs: DataFrame) -> int:
    """`_num_files_for` over the batch's MEASURED text volume: one
    ``(count, sum(length(text)))`` agg over the rows actually in the
    batch (an input-file-bytes proxy over-counts a FILTERED read of a
    big table; a row cap would hide low-count batches of very large
    documents). `append_to_neardup_index` sizes with it when no
    ``num_files`` is given."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("tb")
    ).first()
    return _num_files_for(int(row["n"] or 0), int(row["tb"] or 0))


def append_to_neardup_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    idempotency_token: str | None = None,
    base_path: str | None = None,
    base_version: int | None = None,
    num_files: int | None = None,
) -> int:
    """Append an accepted batch's entries (``docs``: see `_entries_of`)
    to the index as a new version. Pass the batch id as
    ``idempotency_token`` for exactly-once semantics under retries (a
    replayed commit is a no-op returning the existing version).
    ``base_path`` / ``base_version`` re-record the corpus sync point, as
    in `build_neardup_index`. ``num_files`` sizes the batch's
    key-clustered output (default: `_batch_num_files`)."""
    entries = _entries_of(docs, "append_to_neardup_index")
    if num_files is None:
        num_files = _batch_num_files(spark, entries)
    return _publish_entries(
        spark, entries, index_path, "append", "neardup_index_append",
        num_files, base_path, base_version, idempotency_token,
    )


def neardup_index_staleness(
    spark: SparkSession, index_path: str, allow_rewritten: bool = False
) -> dict:
    """Manifest-only staleness of a versioned-base dedup index (r10,
    VERDICT r9 #8): find the most recent base sync point recorded in
    the index's manifests (build, or a base-stamped append) and
    classify the corpus's movement since
    (``VersionedTable.rowset_change_kind``):

    - ``'unchanged'`` — nothing moved (OPTIMIZE included: signatures
      are content-derived, a compaction changes no document);
    - ``'appended'`` — new documents the index has not ingested: run
      the incremental flow (`minhash_neardup_incremental` +
      `append_to_neardup_index`) over `changes()` to catch up;
    - ``'rewritten'`` — some already-indexed document's row was
      replaced or removed: its stored shingle set / signature is WRONG
      (false accepts / misses, silently) — RAISES unless
      ``allow_rewritten=True``; rebuild with ``build_neardup_index``
      or sync incrementally with ``sync_neardup_index``.

    Conservative by design: the streaming ingest gate
    (`streaming/ingest.py`) appends to index AND corpus per epoch but
    does not move the sync stamp (stamping the corpus version it
    EXPECTS would mis-point under a concurrent foreign writer — a
    skipped rewrite is worse than a false 'appended'), so gate-managed
    pairs read 'appended' even when level; `sync_neardup_index` across
    such a window is safe — its CDC apply upserts by doc_id, so
    already-ingested docs are idempotently re-written, never
    duplicated.

    No data read — one manifest walk on each table."""
    from ..table import latest_base_stamp

    idx = VersionedTable(spark, index_path)
    base = latest_base_stamp(idx)
    if not base:
        raise ValueError(
            f"dedup index at {index_path} was not built with base_path= — "
            "no versioned corpus to walk"
        )
    vt = VersionedTable(spark, base["path"])
    kind = vt.rowset_change_kind(base["version"])
    out = {
        "kind": kind,
        "base_path": base["path"],
        "synced_at_base_version": base["version"],
        "current_base_version": vt.manifest()["version"],
    }
    if kind == "rewritten" and not allow_rewritten:
        raise ValueError(
            f"dedup index at {index_path} is INVALID: corpus "
            f"{base['path']} was rewritten (v{base['version']} -> "
            f"v{out['current_base_version']}) — stored shingle sets / "
            "signatures no longer match the documents; rebuild with "
            "build_neardup_index before gating ingest on it"
        )
    return out


def sync_neardup_index(
    spark: SparkSession,
    index_path: str,
    idempotency_token: str | None = None,
) -> int:
    """Bring a versioned-base dedup index level with its corpus by
    consuming the corpus's ROW-LEVEL change feed (r10 — the composition
    that turns `neardup_index_staleness`'s 'rewritten' verdict from
    "rebuild the index" into one incremental CDC apply):

    1. read ``row_changes(synced, current)`` from the corpus (delta /
       change files only — the corpus is never rescanned);
    2. resolve each doc_id's FINAL state across the window (last commit
       wins; within a commit the postimage wins over its preimage —
       apply_cdc's one-op-per-key contract guarantees no other tie);
    3. recompute entries for live finals (the same row-local
       `neardup_index_entries` path the build uses, so a synced index is
       row-identical to a rebuilt one) and emit deletes for dropped
       doc_ids;
    4. apply as ONE atomic CDC batch on the index table (its own
       copy-on-write touched-file rewrite), stamping the new base sync
       point in the same commit.

    Requires the index built/stamped with ``base_path`` and one row per
    doc_id in the corpus (the documents-table contract). An UNRECORDED
    corpus rewrite (plain overwrite) still fails loud in `row_changes` —
    rebuild with `build_neardup_index`. A window with nothing relevant
    (e.g. only OPTIMIZE) is a no-op returning the current index version.
    Returns the index version after the sync.

    Cost shape (SCALING.md "Dedup-index sync"): ∝ changed docs — a
    range-local 1% window at 500k docs probed 1 of 32 index files and
    synced 3.5× faster than a rebuild; at 50k docs rebuild still wins
    (0.6-0.8×, `MAINTAIN_REBUILD_BELOW_BYTES`). Either way the result is
    row-identical to a rebuild (asserted in tests and by the tool)."""
    from ..table import collapse_row_changes, latest_base_stamp

    idx = VersionedTable(spark, index_path)
    base = latest_base_stamp(idx)
    if not base:
        raise ValueError(
            f"dedup index at {index_path} was not built with base_path= — "
            "sync_neardup_index needs the recorded corpus sync point"
        )
    corpus = VersionedTable(spark, base["path"])
    # self-register (r13) — the index exists (it recorded the stamp), so
    # this is also how pre-r13 artifacts adopt the registry; best-effort
    corpus.register_consumer(index_path, best_effort=True)
    v_now = corpus.manifest()["version"]
    if v_now <= base["version"]:
        return idx.manifest()["version"]  # already level
    # final state per doc across the window — the shared last-commit-wins
    # collapse (`table.collapse_row_changes`, also the replication path)
    final = collapse_row_changes(
        corpus.row_changes(base["version"], v_now)
        .select("doc_id", "text", "_change_type", "_commit_version"),
        "doc_id",
    ).localCheckpoint(eager=True)  # batch-sized; reused twice below
    live = final.filter(F.col("op") == "upsert").select("doc_id", "text")
    dead = final.filter(F.col("op") == "delete").select("doc_id")
    cdc = neardup_index_entries(live).withColumn("op", F.lit("upsert"))
    cdc = cdc.unionByName(
        dead.select(
            "doc_id",
            F.lit(None).cast("array<bigint>").alias("hh"),
            F.lit(None).cast("array<bigint>").alias("sig"),
            F.lit("delete").alias("op"),
        )
    )
    if not final.take(1):
        return idx.manifest()["version"]
    return idx.apply_cdc(
        cdc,
        key="doc_id",
        idempotency_token=idempotency_token,
        op_extra={"base": {"path": base["path"], "version": v_now}},
    )


#: below this corpus size a REBUILD typically beats sync (the measured
#: SCALING.md "Dedup-index sync" table: 50k-doc corpora 0.6–0.8× —
#: re-shingling is cheap and sync's ~10 fixed Spark jobs dominate;
#: 500k-doc corpora 3.5–3.9× in sync's favor, where rebuild's
#: re-shingle-everything term has grown with the corpus)
MAINTAIN_REBUILD_BELOW_BYTES = 16 * 1024 * 1024


class _NeardupIndex(Maintained):
    """A versioned-base dedup index under ``table.maintain``: layout
    table = the index, cluster key ``doc_id``, compact =
    ``optimize(cluster_by=["doc_id"])``, vacuum = the index table's own
    version sweep (a derived artifact: its history has no consumers)."""

    what = "index"

    def __init__(self, spark, index_path, rebuild_below_bytes,
                 idempotency_token):
        self.spark, self.path = spark, index_path
        self.idx = VersionedTable(spark, index_path)
        self.rebuild_below_bytes = rebuild_below_bytes
        self.token = idempotency_token
        self.kind = None

    def classify(self, dry_run):
        st = neardup_index_staleness(self.spark, self.path,
                                     allow_rewritten=True)
        self.kind, self.base_path = st["kind"], st["base_path"]
        self.corpus = VersionedTable(self.spark, st["base_path"])
        below = self.rebuild_below_bytes
        if st["kind"] == "unchanged":
            return None, [
                f"base unchanged since v{st['synced_at_base_version']} — "
                "no content action"
            ]
        if self.corpus.visible_bytes(stop_at=below) < below:
            return "rebuild", [
                f"base {st['kind']} and corpus < {below >> 20} MiB — "
                "re-shingling a small corpus beats sync's fixed job "
                "chain (SCALING.md: 0.6-0.8x at 50k docs)"
            ]
        return "sync", [
            f"base {st['kind']} and corpus >= {below >> 20} MiB — sync at "
            "change-feed cost (SCALING.md: 3.5-3.9x over rebuild at 500k "
            "docs)"
        ]

    def run(self, action):
        if action == "rebuild":
            v_now = self.corpus.manifest()["version"]
            build_neardup_index(
                self.spark, self.corpus.read(v_now), self.path,
                base_path=self.base_path, base_version=v_now,
            )
        else:
            sync_neardup_index(self.spark, self.path,
                               idempotency_token=self.token)

    def layout(self):
        return self.idx, "doc_id"

    def compact(self):
        self.idx.optimize(cluster_by=["doc_id"])

    def vacuum(self, retain_last):
        return self.idx.vacuum(retain_last=retain_last)


def maintain_neardup_index(
    spark: SparkSession,
    index_path: str,
    dry_run: bool = False,
    rebuild_below_bytes: int = MAINTAIN_REBUILD_BELOW_BYTES,
    frag_depth_max: int = FRAG_DEPTH_MAX,
    idempotency_token: str | None = None,
    vacuum_retain_last: int | None = None,
) -> dict:
    """``table.maintain`` for a versioned-base dedup index, with the
    measured SCALING.md decision table ("Dedup-index sync vs rebuild")
    as its content classifier:

    - base ``unchanged`` since the sync point → no content action;
    - base ``appended``/``rewritten`` and the corpus is under
      ``rebuild_below_bytes`` (default 16 MiB ≈ the measured ~50k-doc
      regime where rebuild wins 0.6–0.8×) → ``build_neardup_index``
      from the current snapshot;
    - otherwise → ``sync_neardup_index`` (change-feed cost; 3.5–3.9×
      faster than rebuild at 500k docs).

    The layout leg re-clusters on ``doc_id`` (skipped when no file has
    doc_id stats: non-numeric keys prune nothing either way). Returns
    ``{"actions", "reasons", "kind", "frag_depth", "frag_floor",
    "dry_run"[, "index_version"]}``."""
    art = _NeardupIndex(spark, index_path, rebuild_below_bytes,
                        idempotency_token)
    rep = maintain(art, dry_run=dry_run, frag_depth_max=frag_depth_max,
                   vacuum_retain_last=vacuum_retain_last)
    out = {"actions": rep["actions"], "reasons": rep["reasons"],
           "kind": art.kind, "frag_depth": rep["frag_depth"],
           "frag_floor": rep["frag_floor"], "dry_run": dry_run}
    if not dry_run:
        out["index_version"] = art.idx.manifest()["version"]
    return out


def _bands(entries: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, *carry, band_idx, band_key) — one row per LSH band."""
    return entries.select(
        "doc_id", *carry,
        F.posexplode(F.expr(_BANDS_EXPR)).alias("band_idx", "band_key"),
    )


def _incremental_pairs(
    spark: SparkSession,
    new: DataFrame,
    index_path: str,
    version: int | None = None,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Unordered core of `minhash_neardup_incremental` (the ingest gate
    consumes it directly) over the batch's materialized entries ``new``
    (doc_id, hh, sig): (doc_a, doc_b, jaccard), each pair once."""
    idx = VersionedTable(spark, index_path).read(version)
    nb = _bands(new)
    sh = new.select("doc_id", "hh")

    def verified(pairs: DataFrame, sh_a: str, sh_b: str) -> DataFrame:
        inter = F.size(F.array_intersect(sh_a, sh_b))
        jac = inter.cast("double") / (F.size(sh_a) + F.size(sh_b) - inter)
        return pairs.filter(jac >= threshold).select(
            "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
        )

    # batch vs index: ONE pass over the index — its band rows carry the
    # stored shingle set, probe the broadcast batch bands, and are
    # verified against the broadcast batch shingle sets in the same stage
    cross = (
        _bands(idx.select("doc_id", "sig", F.col("hh").alias("sh_old")), "sh_old")
        .withColumnRenamed("doc_id", "old_id")
        .join(F.broadcast(nb.withColumnRenamed("doc_id", "new_id")),
              ["band_idx", "band_key"])
        .filter(F.col("new_id") != F.col("old_id"))
        .join(F.broadcast(sh.toDF("new_id", "sh_new")), "new_id")
        .select(
            F.least("new_id", "old_id").alias("doc_a"),
            F.greatest("new_id", "old_id").alias("doc_b"),
            "sh_old", "sh_new",
        )
    )
    # batch-internal pairs from the batch's own entries only: same
    # in-bucket expansion as the batch op
    within = (
        nb.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .selectExpr(
            "explode(flatten(transform(sequence(1, size(ids) - 1),"
            " i -> transform(slice(ids, i + 1, size(ids) - i),"
            " y -> named_struct('doc_a', element_at(ids, i), 'doc_b', y))))) AS pair"
        )
        .select("pair.doc_a", "pair.doc_b")
        .join(F.broadcast(sh.toDF("doc_a", "sh_a")), "doc_a")
        .join(F.broadcast(sh.toDF("doc_b", "sh_b")), "doc_b")
    )
    # a pair colliding in several bands (or, on a replayed batch whose
    # docs are already indexed, reached from both sides with identical
    # shingle sets) verifies to the same row: distinct keeps it once
    return (
        verified(cross, "sh_old", "sh_new")
        .unionByName(verified(within, "sh_a", "sh_b"))
        .distinct()
    )


def minhash_neardup_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    version: int | None = None,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs involving the NEW batch, against index ``version``
    (default latest) — batch-vs-corpus AND batch-internal pairs, exactly
    the full-corpus operator's output restricted to pairs that touch the
    batch: (doc_a, doc_b, jaccard) with doc_a < doc_b, Jaccard ≥
    ``threshold``, verified exactly on the stored shingle sets, ordered
    by (doc_a, doc_b).

    Plan: one column-pruned (doc_id, sig, hh) scan of the index builds
    band rows, probes the batch's broadcast band rows (the corpus never
    shuffles; matches ∝ collisions), drops self pairs and runs the exact
    Jaccard filter against the batch's broadcast shingle sets in the
    same stage. Batch-internal candidates come from in-bucket expansion
    of the batch's own bands (tiny). The one BOUNDED frame the plan
    reuses is the batch's entries (`_entries_of`: pass them,
    materialized, to reuse them for a following append); nothing corpus-
    or collision-sized is materialized.

    A doc_id present in BOTH the batch and the index is treated as the
    same document (self-pairs excluded, each pair emitted once) — append
    batches with fresh ids, or replay a batch an interrupted ingest had
    already appended.
    """
    return _incremental_pairs(
        spark, _entries_of(new_docs, "minhash_neardup_incremental"),
        index_path, version, threshold,
    ).orderBy("doc_a", "doc_b")
