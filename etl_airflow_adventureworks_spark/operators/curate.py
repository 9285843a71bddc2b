"""Corpus curation pipeline (charter: large-scale training-data pipeline).

The individual cleaning operators in this package (quality scoring,
language-ID, repetition filtering, PII redaction, exact dedup, MinHash
near-dup, benchmark decontamination, mixture sampling, deterministic
splits) are each declared and gated on their own; a real pretraining-data
run applies them
as ONE flow with an audit trail of what each stage dropped. ``curate_corpus``
is that flow, composed from the same expressions the declared queries use —
every stage stays a lazy Catalyst plan over any (id, text) frame, so the
whole pipeline is one job whose stages fuse where Spark can and the only
shuffles are the ones the stage algorithms inherently need (dedup digest,
near-dup banding).

Order matters and is fixed: row-local filters first (quality, language —
free to evaluate, shrink the corpus before anything shuffles), then exact
dedup (cheap digest shuffle), then near-dup (the expensive stage runs on
the smallest surviving corpus), then split assignment LAST so train/val/
test frequencies are computed over what actually ships.

Near-dup drop policy: from every verified near-dup pair (a < b), the
greater id is dropped. Greedy pair-drop, not connected components — at
threshold 0.35 the pair graph's components are overwhelmingly size-2, a
transitive chain can at worst keep one middle element extra, and the
policy needs no iterative join (a CC pass at 100 TB is its own job; see
SCALING.md). Deterministic by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import decontaminate
from .dedup import hashed_shingle_sets_df, minhash_neardup_pairs
from .linededup import remove_boilerplate_lines
from .scrub import redact_pii, repetition_filter
from .textops import STOPWORDS, _LANG_ORDER, _lang_pred_case
from .textprep import sample_to_mixture, split_by_hash


def with_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the [0,1] ``quality`` heuristic of ``ext_quality_score``
    (length / punctuation / stopword-ratio / lexical diversity, C4-Gopher
    style) to ``docs``, keeping every input column. One codegen'd
    projection. Degenerate text (empty/NULL) scores NULL — which fails any
    ``quality >= x`` floor, i.e. is dropped, the right curation outcome —
    and keeps the expression bit-identical to ``ext_quality_score``."""
    en = f"array({', '.join(repr(w) for w in STOPWORDS['en'])})"
    staged = docs.withColumn("__toks", F.expr(rf"split(trim({text_col}), '\\s+')")) \
        .withColumn(
            "__n_punct",
            F.expr(f"length(regexp_replace({text_col}, '[a-zA-Z0-9 ]', ''))"),
        ) \
        .withColumn("__len", F.expr(f"length({text_col})"))
    quality = f"""(CASE WHEN size(__toks) >= 10 THEN 0.25D ELSE 0.0D END
        + CASE WHEN CAST(__n_punct AS DOUBLE) / __len < 0.1 THEN 0.25D ELSE 0.0D END
        + CASE WHEN CAST(size(filter(__toks, x -> array_contains({en}, x))) AS DOUBLE)
                    / size(__toks) BETWEEN 0.05 AND 0.6 THEN 0.25D ELSE 0.0D END
        + CASE WHEN CAST(size(array_distinct(__toks)) AS DOUBLE) / size(__toks) > 0.3
               THEN 0.25D ELSE 0.0D END)"""
    return (
        staged.withColumn("quality", F.expr(quality))
        .drop("__toks", "__n_punct", "__len")
    )


def with_lang_pred(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``lang_pred`` — the stopword-hit argmax classifier of
    ``ext_lang_id`` — keeping every input column."""
    score = {
        lang: (
            f"size(filter(split(trim({text_col}), '\\\\s+'),"
            f" x -> array_contains(array({', '.join(repr(w) for w in STOPWORDS[lang])}), x)))"
        )
        for lang in _LANG_ORDER
    }
    return docs.withColumn("lang_pred", F.expr(_lang_pred_case(score)))


def exact_dedup_keep_first(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Drop exact-content duplicates, keeping the lowest id per md5 digest
    (the deterministic keep-first of ``ext_exact_dedup_docs``), with all
    input columns preserved. One shuffle on the digest."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(text_col)).orderBy(id_col)
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def drop_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    policy: str = "greedy",
) -> DataFrame:
    """Drop near-duplicates found by the declared ``ext_minhash_neardup``
    path (banding candidates + exact Jaccard verify).

    ``policy="greedy"`` (default): drop the greater id of every pair — no
    extra job, at worst keeps one extra member of a transitive chain.
    ``policy="components"``: resolve the pair graph to connected
    components first and keep exactly one doc (the min id) per cluster —
    the principled form when chains matter, at the cost of the iterative
    CC job (``operators.graph``)."""
    base = docs
    if id_col != "doc_id" or text_col != "text":
        base = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    pairs = minhash_neardup_pairs(hashed_shingle_sets_df(base))
    if policy == "components":
        from .graph import drop_near_dup_components

        return drop_near_dup_components(docs, pairs, id_col)
    if policy != "greedy":
        raise ValueError(f"unknown near-dup policy {policy!r}")
    doomed = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(doomed, id_col, "left_anti")


@dataclass
class CurationResult:
    """Lazy stage outputs of ``curate_corpus``. ``curated`` is the final
    plan; ``report()`` triggers one count per stage and returns the
    waterfall (stage, rows, dropped) — an action, priced accordingly.
    A counted stage stays persisted until the next one is counted, so
    each stage is computed once, from its predecessor."""

    curated: DataFrame
    stages: list[tuple[str, DataFrame]] = field(default_factory=list)

    def report(self) -> list[dict]:
        out = []
        prev = held = None
        for name, df in self.stages:
            mine = not df.is_cached
            n = (df.persist() if mine else df).count()
            if held is not None:
                held.unpersist()
            held = df if mine else None
            out.append(
                {"stage": name, "rows": n, "dropped": (prev - n) if prev is not None else 0}
            )
            prev = n
        if held is not None:
            held.unpersist()
        return out


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.5,
    languages: tuple[str, ...] | None = ("en",),
    max_repetition: dict[str, float] | None = None,
    scrub_pii: bool = False,
    boilerplate_min_docs: int | None = None,
    near_dup: bool = True,
    near_dup_policy: str = "greedy",
    eval_set: DataFrame | None = None,
    decontam_ngram: int = 8,
    mixture_weights: dict[str, float] | None = None,
    source_col: str = "source",
    split_weights: dict[str, float] | None = None,
    split_seed: int = 0,
) -> CurationResult:
    """The standard pretraining curation waterfall over any (id, text)
    frame: quality floor → language allowlist → repetition filter → PII
    redaction → line-level boilerplate removal (``boilerplate_min_docs``:
    drop every line recurring in at least that many distinct documents —
    C4/CCNet style, see ``linededup``) → exact dedup → near-dup drop →
    benchmark decontamination →
    mixture downsampling → deterministic split assignment. Any stage can
    be disabled (None/False — only exact dedup always runs); the result
    records each stage's lazy frame so callers can audit drops
    (``report()``) or branch off intermediates.

    Stage-order rationale: row-local filters shrink the corpus before
    anything shuffles; PII redaction runs BEFORE dedup so duplicates
    differing only in redacted spans collapse together; decontamination
    (broadcast semi-join against the benchmark-sized ``eval_set``) runs on
    the deduped corpus; mixture sampling second-to-last so target shares
    are computed over what survived cleaning; splits last so train/val/
    test frequencies describe what actually ships.

    ``max_repetition`` maps ``repetition_filter`` thresholds (e.g.
    ``{"max_dup_2gram_frac": 0.2}``); ``mixture_weights`` are target
    source shares for ``sample_to_mixture``."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    cur = docs
    if min_quality is not None:
        cur = (
            with_quality(cur, text_col)
            .filter(F.col("quality") >= F.lit(min_quality))
        )
        stages.append(("quality", cur))
    if languages is not None:
        allow = ", ".join(repr(l) for l in languages)
        cur = with_lang_pred(cur, text_col).filter(
            F.expr(f"lang_pred IN ({allow})")
        )
        stages.append(("language", cur))
    if max_repetition is not None:
        cur = repetition_filter(cur, id_col, text_col, **max_repetition)
        stages.append(("repetition", cur))
    if scrub_pii:
        cur = redact_pii(cur, text_col).drop(
            "n_email", "n_ssn", "n_ipv4", "n_phone"
        )
        stages.append(("pii", cur))
    if boilerplate_min_docs is not None:
        # line-level boilerplate removal BEFORE dedup for the same reason
        # PII runs before it: documents differing only in shared banners/
        # footers collapse to one in the digest pass once those lines go
        cur = remove_boilerplate_lines(
            cur, id_col, text_col, min_docs=boilerplate_min_docs
        )
        stages.append(("boilerplate", cur))
    cur = exact_dedup_keep_first(cur, id_col, text_col)
    stages.append(("exact_dedup", cur))
    if near_dup:
        cur = drop_near_dups(cur, id_col, text_col, policy=near_dup_policy)
        stages.append(("near_dup", cur))
    if eval_set is not None:
        cur = decontaminate(
            cur, eval_set, n=decontam_ngram, id_col=id_col, text_col=text_col
        )
        stages.append(("decontam", cur))
    if mixture_weights is not None:
        cur = sample_to_mixture(
            cur, mixture_weights, key=id_col, source_col=source_col, seed=split_seed
        )
        stages.append(("mixture", cur))
    if split_weights is not None:
        cur = split_by_hash(cur, id_col, split_weights, seed=split_seed)
        stages.append(("split", cur))
    return CurationResult(curated=cur, stages=stages)
