"""Streaming document ingestion with an incremental near-dup gate.

The ingestion shape a 100 TB training-data pipeline actually runs: new
documents ARRIVE continuously; each micro-batch must be deduped against
everything already accepted BEFORE it is admitted, without ever
re-shuffling the corpus. This composes three proven pieces:

- `operators.dedup_incremental`: batch-vs-index near-dup pairs whose
  only corpus access is ONE column-pruned SCAN of the persisted MinHash
  index, candidates verified in the same pass (never a corpus shuffle),
  and the index's one commit tail — the gate computes the batch's
  MinHash entries ONCE and probes, rejects and commits from them;
- `table.VersionedTable`: atomic manifests with idempotency tokens, so
  a crash-replayed micro-batch is a detected no-op per table;
- Structured Streaming `foreachBatch` with a checkpoint, so the source
  offsets themselves survive restart.

Admission policy is the curation waterfall's greedy keep-lowest rule
(`operators.curate`): a batch document is REJECTED iff it has a near-dup
partner already in the index, or a lower-id partner within its own
batch. Greedy is deliberately non-transitive (B rejected for duping A
does not protect C who dupes only B — C is still rejected for having
the lower-id partner B, accepted or not), which yields the replay-stable
invariant the test pins: the accepted corpus NEVER contains a near-dup
pair at the threshold, across any batch boundary.

Crash semantics: the three per-epoch commits (index append, corpus
append, audit append) are idempotent per table via the epoch token, and
the rejection decision itself is replay-stable — a replayed batch sees
its previously-accepted docs in the index under the SAME doc_ids, which
the pair generator excludes as self-pairs, so recomputed accept/reject
sets are identical and each table independently converges to exactly
one application of the epoch. No cross-table transaction is needed.

No reference counterpart (the reference is batch-only with no dedup);
charter E2+E5 composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..operators.dedup import JACCARD_THRESHOLD
from ..operators.dedup_incremental import (
    _incremental_pairs,
    _num_files_for,
    _require_doc_frame,
    append_to_neardup_index,
    neardup_batch_entries,
)
from ..table import VersionedTable, files_for_bytes


def rejected_doc_ids(pairs: DataFrame, batch_ids: DataFrame) -> DataFrame:
    """(doc_id) — batch documents the greedy keep-lowest rule rejects,
    given the incremental pair set (every pair touches the batch) and
    the batch's own ids (one column ``doc_id``, broadcast-small).

    A batch member is rejected iff some partner is NOT in the batch
    (i.e. lives in the index — already accepted, always wins) or is a
    lower-id batch member. Pure column algebra over the collision-sized
    pair set, read in ONE pass (each pair yields both of its member
    rows); the corpus is never consulted.
    """
    members = pairs.select(F.inline(F.array(
        F.struct(F.col("doc_a").alias("member"), F.col("doc_b").alias("partner")),
        F.struct(F.col("doc_b").alias("member"), F.col("doc_a").alias("partner")),
    )))
    # one broadcast serves both joins; a repeated id only repeats rows,
    # which the final distinct folds
    ids = F.broadcast(batch_ids.select("doc_id"))
    return (
        members.join(ids.toDF("member"), "member")  # only batch members can be rejected
        .join(ids.toDF("p"), F.col("partner") == F.col("p"), "left")
        .filter(F.col("p").isNull() | (F.col("partner") < F.col("member")))
        .select(F.col("member").alias("doc_id"))
        .distinct()
    )


def ingest_batch_with_dedup(
    batch: DataFrame,
    index_path: str,
    corpus_path: str,
    epoch_id: int,
    threshold: float = JACCARD_THRESHOLD,
    audit_path: str | None = None,
) -> dict:
    """Admit one batch of documents (columns ``doc_id``, ``text``; ids
    fresh w.r.t. the corpus) through the near-dup gate. Returns
    ``{"accepted": n, "rejected": n}``. Usable directly for batch
    (non-streaming) ingestion; `stream_ingest_with_dedup` calls it per
    micro-batch with the streaming epoch as the idempotency basis.

    The batch's entries (`neardup_batch_entries`) are computed once,
    spread over the session's cores, and materialized once: the id
    check, the probe, the rejection and both commits read that frame,
    and the index is scanned once. The jobs that materialize it and the
    accepted rows also observe the counts and text bytes that check the
    ids and size both commits.
    """
    _require_doc_frame(batch, "ingest_batch_with_dedup")
    spark = batch.sparkSession
    token = f"epoch:{epoch_id}"
    # a one-file batch is one partition: spread it by doc_id so its
    # entries are computed on every core, not in one task — and so the
    # per-id count is a partition-local window, not another shuffle
    shape = Observation()
    batch = neardup_batch_entries(
        batch.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("n_id", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .observe(shape, F.count(F.lit(1)).alias("rows"), F.max("n_id").alias("most"))
    ).localCheckpoint(eager=True)
    shape = shape.get
    n = int(shape["rows"])
    if not n:
        # no-data micro-batch: nothing to admit, and skipping the token
        # is safe (a replayed empty batch re-skips identically)
        return {"accepted": 0, "rejected": 0}
    if shape["most"] > 1:
        # a duplicated id inside one batch would append the same doc_id
        # to the corpus twice (the greedy rule accepts/rejects the id as
        # a unit) — fail before any table is touched
        dup = batch.groupBy("doc_id").count().filter("count > 1").first()
        raise ValueError(
            f"ingest batch has duplicate doc_id {dup['doc_id']}; "
            "batch ids must be unique (dedup the batch first)"
        )

    pairs = _incremental_pairs(spark, batch, index_path, threshold=threshold)
    if audit_path is not None:
        pairs = pairs.localCheckpoint(eager=True)  # the audit commit reads it too
    bad = rejected_doc_ids(pairs, batch.select("doc_id"))
    size = Observation()
    accepted = (
        batch.join(F.broadcast(bad), "doc_id", "left_anti")
        .observe(size, F.count(F.lit(1)).alias("rows"),
                 F.sum(F.length("text")).alias("tb"))
        .localCheckpoint(eager=True)
    )
    n_acc, tb = int(size.get["rows"]), int(size.get["tb"] or 0)

    # through the shared append path: key-clustered, with doc_id stats
    # and a patch-op marker, from the entries the probe read
    append_to_neardup_index(spark, accepted, index_path,
                            idempotency_token=token,
                            num_files=_num_files_for(n_acc, tb))
    # sized by its text bytes, not by the spread frame's partitions
    VersionedTable(spark, corpus_path).commit(
        accepted.select("doc_id", "text").coalesce(files_for_bytes(tb)),
        mode="append", idempotency_token=token,
    )
    if audit_path is not None:
        VersionedTable(spark, audit_path).commit(
            pairs.withColumn("epoch", F.lit(int(epoch_id))),
            mode="append",
            idempotency_token=token,
        )
    return {"accepted": n_acc, "rejected": n - n_acc}


def stream_ingest_with_dedup(
    docs_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = JACCARD_THRESHOLD,
    audit_path: str | None = None,
) -> "object":
    """Start the streaming ingestion gate over a streaming frame of
    (doc_id, text) and return the StreamingQuery. Each micro-batch runs
    `ingest_batch_with_dedup` with its epoch id as the idempotency
    token; with a durable ``checkpoint`` the pipeline is exactly-once
    end to end across kill-and-restart (offsets from the checkpoint,
    table commits from the tokens — proven in
    ``tests/test_stream_ingest.py``)."""

    def gate(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch_with_dedup(
            batch_df,
            index_path,
            corpus_path,
            epoch_id,
            threshold=threshold,
            audit_path=audit_path,
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(gate)
        .start()
    )
