"""Incremental rollup refresh — continuous aggregates maintained from
the VersionedTable change feed at delta cost.

The materialized-view shape every event warehouse runs: a rollup table
(`dims × additive measures`) kept current as the source table receives
appends. A naive refresh re-aggregates the WHOLE source per run; at
100 TB that is the difference between a refresh that reads yesterday's
partition and one that reads the lake. This operator does the
incremental algebra instead:

    delta   = source.changes(v_reflected)          # ONLY the new files
    partial = delta.groupBy(dims).agg(measures)    # delta-sized
    rollup' = re-agg( current_rollup ∪ partial )   # rollup-sized merge

which is exact for DECOMPOSABLE aggregates — count/sum re-merge with
SUM, min/max with MIN/MAX (avg = sum+count, derived at read time).
COUNT DISTINCT is not decomposable, which is the classic continuous-
aggregate limitation; the ``approx_distinct`` measure closes it with
the mergeable form: the rollup stores a DataSketches HLL sketch
(binary) per (dims) row — `hll_sketch_agg` on the delta, `hll_union_agg`
on the merge — and `finalize_rollup` projects point estimates at read
time. The incremental estimate agrees with a from-scratch sketch
bit-for-bit while sketches are in exact (LIST/SET) mode and within the
HLL error band once they promote to estimation mode — r9 measured that
DataSketches estimates there depend on the merge topology (the same
6000 distincts estimate 5977/6035/6012 under 1/4/32-partition builds),
so "equals from-scratch" is NOT a general invariant; the stated
contract is the usual HLL error vs the true distinct count (~1.6% rsd
at the default lgK=12), which holds at every scale and which the tests
and tools/measure_rollup_refresh.py gate.
QUANTILES are likewise not decomposable; the ``histogram`` measure
(r9) closes them with the mergeable equi-width histogram over a
DECLARED [lo, hi) range: the rollup stores bin counts (array<long> —
underflow/overflow bins clamp out-of-range mass loudly), merge is
elementwise sum (commutative integer addition, so the incremental
state is BIT-IDENTICAL to from-scratch — a stronger guarantee than
HLL's), and ``histogram_quantiles`` projects rank-interpolated
estimates at read time with error bounded by one bin width.
"Exact" means up to SUM's reassociation: integer and decimal sums are
bit-identical to a from-scratch aggregate; double sums can differ in
the last ulp because incremental merging changes the addition order
(sum money as exact decimal — `functions/money.py` — if that matters). The
version of the source each rollup state reflects rides in the rollup
commit's idempotency token (`rollup-of:v<N>`), so refresh is
self-describing, idempotent when already current, and crash-safe: a
refresh that dies before its commit leaves the old token, and the
retry recomputes the same delta.

Rewrites in the window (r10): upsert / delete_where / apply_cdc now
RECORD their row-level deltas (``VersionedTable.row_changes``,
Delta-CDF-style ``_change_type`` rows), and the refresh consumes them
incrementally — retractions subtract from count/sum, decrement the
histogram's integer bins, and drop groups whose row count reaches
zero — still reading only delta/change files. min/max and the HLL
sketch cannot retract (an extremum's history and a sketch cannot
un-see a value): a rewrite window touching those measures takes the
GROUP-LOCAL path (r12) — the affected group keys are extracted from
the change rows and ONLY those groups are re-aggregated from the
source snapshot (stats-pruned to the touched files when a dim is a
bare clustered column OR, since r13, a MONOTONE transform of one —
the canonical ``date_trunc('day', ts)`` bucket prunes by mapping each
file's recorded ts [min, max] through the transform), then spliced
into the untouched rollup rows — cost ∝ the touched groups' source
rows, never the table. An UNRECORDED rewrite
(plain overwrite, schema-drift upsert, pre-r10 history) still fails
loud; pass ``full_rebuild=True`` to re-aggregate from the current
snapshot (same result, full-scan cost) — or call ``maintain_rollup``
(r13), the one-call policy that classifies the window from manifests
and executes the measured rebuild-vs-incremental-vs-group-local
decision table.

The COMMIT side is copy-on-write too (r15, VERDICT r14 #1): every
non-rebuild refresh can land through ``VersionedTable.merge_keyed``
(``cow="auto"``) — only the rollup FILES containing touched groups
are rewritten, the rest carried verbatim with their per-file dim
stats, so the refresh writes O(touched groups) instead of the
O(rollup) full-state overwrite that r14 measured as the dominant
refresh cost ("Measured and rejected", SCALING.md). Dim stats are
recorded at every rebuild/CoW commit, and candidacy above the
touched-key collect cap is a distributed broadcast range-join of file
bounds (exact at any key count). A pure COMPACTION
(`optimize`) is rowset-preserving and the feed skips it since r9, so
continuous refresh survives periodic OPTIMIZE with no rebuild
(tests/test_rollup.py::test_refresh_survives_optimize_reading_only_the_delta).

No reference counterpart (the reference recomputes KPIs from scratch
per run — `KPIs.sql` over the whole warehouse); this is the charter's
scale posture applied to exactly that recompute.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import TableLayout, VersionedTable, maintain

#: measure fn -> (per-delta aggregate, merge aggregate); the measured
#: column is an arbitrary SQL expression (e.g. "length(text)")
_FNS = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (lambda c: F.sum(F.expr(c)), F.sum),
    "min": (lambda c: F.min(F.expr(c)), F.min),
    "max": (lambda c: F.max(F.expr(c)), F.max),
    # mergeable COUNT DISTINCT: the rollup row holds the HLL sketch
    # (binary); estimates are projected by finalize_rollup at read time
    "approx_distinct": (
        lambda c: F.hll_sketch_agg(F.expr(c)),
        F.hll_union_agg,
    ),
    # mergeable QUANTILES (r9): the rollup row holds an equi-width
    # histogram (array<long> of declared-range bin counts) — see
    # _histogram_spec / histogram_quantiles. Merge = elementwise sum,
    # so the incremental sketch is BIT-IDENTICAL to from-scratch
    # (integer counts, commutative addition), unlike percentile_approx,
    # whose internal state Spark does not expose for merging.
    "histogram": (None, None),  # handled structurally below
    # INTERNAL (r11, VERDICT r10 #1): per-sum non-null value counter —
    # count of non-null source values, retractable with the same merge
    # algebra as count. Every user `sum` measure gets a hidden
    # `__nn_<name>` companion so a group whose last non-null value was
    # retracted reads NULL (SQL SUM semantics), not 0 — closing the one
    # place the incremental aggregate could differ from from-scratch.
    "_nncount": (lambda c: F.count(F.expr(c)), F.sum),
}

#: hidden companion-column prefix (dropped by `finalize_rollup`; user
#: measure names may not collide with it)
_NN_PREFIX = "__nn_"


def _expand_measures(measures: dict) -> dict:
    """The INTERNAL measure dict a refresh actually maintains: the user's
    measures plus, for each ``sum``, a hidden ``__nn_<name>`` non-null
    counter (``_nncount``). The counter subtracts/merges exactly like
    count, and the post-merge projection emits NULL for the sum when it
    reaches zero — so the stored rollup is bit-equal to a from-scratch
    aggregate even after the group's last non-null value is retracted."""
    internal = dict(measures)
    for name, (fn, col) in measures.items():
        if fn == "sum":
            internal[f"{_NN_PREFIX}{name}"] = ("_nncount", col)
    return internal


def _histogram_spec(col) -> tuple[str, float, float, int]:
    """Validate a histogram measure's column spec: (expr, lo, hi, nbins).
    ``lo``/``hi`` declare the value range (the caller's contract — the
    same declared-bounds discipline as gapfill's grid); values outside
    land in dedicated underflow/overflow bins so totals still reconcile
    and quantile estimates degrade loudly (clamped to the range edge)
    instead of silently wrong."""
    try:
        expr, lo, hi, nbins = col
    except (TypeError, ValueError):
        raise ValueError(
            "histogram measure needs col = (expr, lo, hi, nbins), "
            f"got {col!r}"
        ) from None
    lo, hi, nbins = float(lo), float(hi), int(nbins)
    if not (hi > lo):
        raise ValueError(f"histogram: hi must be > lo, got [{lo}, {hi})")
    if nbins < 1 or nbins > 4096:
        raise ValueError(f"histogram: nbins must be in [1, 4096], got {nbins}")
    return expr, lo, hi, nbins


def _histogram_agg(col, sign: "F.Column | None" = None) -> "F.Column":
    """Per-delta histogram state: array of nbins+2 counts (index 0 =
    underflow, 1..nbins = range bins, nbins+1 = overflow; NULLs are not
    counted). One array of filtered count aggregates — nbins+2 codegen'd
    sums, no shuffle beyond the rollup's own groupBy. ``sign`` (±1,
    r10) weights each row's contribution — the retraction form the
    row-level change feed consumes (bins DECREMENT for
    preimage/delete rows; integer addition stays commutative, so the
    bit-identity-with-from-scratch guarantee survives retraction)."""
    expr, lo, hi, nbins = _histogram_spec(col)
    width = (hi - lo) / nbins
    x = F.expr(expr).cast("double")
    bucket = (
        F.when(x.isNull(), F.lit(None))
        .when(x < lo, F.lit(0))
        .when(x >= hi, F.lit(nbins + 1))
        .otherwise(F.floor((x - F.lit(lo)) / F.lit(width)).cast("int") + 1)
    )
    inc = F.lit(1) if sign is None else sign
    # when/otherwise (not a bare equality cast): a NULL bucket must count
    # as 0, and a group of only-NULL values must yield a zero array, not
    # NULL entries that would poison the zip_with merge
    return F.array(
        *[
            F.sum(F.when(bucket == i, inc).otherwise(F.lit(0))).cast("long")
            for i in range(nbins + 2)
        ]
    )


def _histogram_merge(name: str, col) -> "F.Column":
    """Merge aggregate: elementwise sum of the per-part states. The
    collect_list is bounded by the number of parts per (dims) group —
    exactly 2 in a refresh (current rollup ∪ delta partial) — never
    data-sized."""
    _expr, _lo, _hi, nbins = _histogram_spec(col)
    return F.expr(
        f"aggregate(collect_list({name}), array_repeat(0L, {nbins + 2}),"
        " (acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
    )


def finalize_rollup(df: DataFrame, measures: dict) -> DataFrame:
    """Project read-time values from a rollup's mergeable state: every
    ``approx_distinct`` sketch column becomes its point estimate (long),
    and the hidden ``__nn_*`` non-null counters (sum-NULL bookkeeping —
    already folded into the stored sums at refresh time) are dropped;
    all other measures are already final (``histogram`` states stay as
    bin-count arrays — project quantiles with ``histogram_quantiles``).
    Keep the STORED rollup in sketch form — estimating is lossy and
    kills mergeability."""
    out = df
    for name, (fn, _col) in measures.items():
        if fn == "approx_distinct":
            out = out.withColumn(name, F.hll_sketch_estimate(F.col(name)))
    return out.drop(*[c for c in out.columns if c.startswith(_NN_PREFIX)])


def histogram_quantiles(
    df: DataFrame, name: str, col, qs: list[float], prefix: str | None = None
) -> DataFrame:
    """Read-time quantile estimates from a ``histogram`` measure column:
    for each q in ``qs`` add ``{prefix or name}_p{q*100:g}`` = linear-
    interpolated value at rank q·total inside the equi-width bins — one
    codegen'd fold per quantile, no shuffle (the rollup is already
    summary-sized). Estimate error is bounded by ONE bin width for any
    quantile landing inside [lo, hi) (asserted in tests against the
    exact percentile); mass in the underflow/overflow bins clamps to
    lo/hi — widen the declared range if that matters. An empty state
    (all-NULL values) yields NULL."""
    expr_, lo, hi, nbins = _histogram_spec(col)
    width = (hi - lo) / nbins
    out = df
    base = prefix or name
    total = f"CAST(aggregate({name}, 0L, (a, x) -> a + x) AS DOUBLE)"
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile must be in [0, 1], got {q}")
        rank = f"({q!r}D * {total})"
        # lambda variables carry the module's reserved __ prefix — a
        # measure column named like a bare lambda var (e.g. "h") would
        # otherwise be shadowed inside the fold
        est = (
            f"CASE WHEN __hq_e.i = 0 THEN {lo!r}D "
            f"WHEN __hq_e.i = {nbins + 1} THEN {hi!r}D "
            f"ELSE {lo!r}D + (__hq_e.i - 1) * {width!r}D "
            f"+ {width!r}D * (({rank} - CAST(__hq_s.cum AS DOUBLE))"
            " / CAST(__hq_e.x AS DOUBLE)) END"
        )
        step = (
            "CASE WHEN __hq_s.ans IS NOT NULL THEN __hq_s.ans "
            f"WHEN __hq_e.x > 0 AND CAST(__hq_s.cum + __hq_e.x AS DOUBLE)"
            f" >= {rank} THEN {est} ELSE CAST(NULL AS DOUBLE) END"
        )
        fold = (
            f"aggregate("
            f"zip_with({name}, sequence(0, {nbins + 1}),"
            " (__hq_x, __hq_i) -> struct(__hq_x AS x, __hq_i AS i)), "
            "struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS DOUBLE) AS ans), "
            f"(__hq_s, __hq_e) -> "
            f"struct(__hq_s.cum + __hq_e.x AS cum, {step} AS ans), "
            "__hq_s -> __hq_s.ans)"
        )
        label = f"{q * 100:g}".replace(".", "_")
        out = out.withColumn(f"{base}_p{label}", F.expr(fold))
    return out


def _aggregate(df: DataFrame, dims: list[str], measures: dict) -> DataFrame:
    aggs = [
        (_histogram_agg(col) if fn == "histogram" else _FNS[fn][0](col)).alias(
            name
        )
        for name, (fn, col) in measures.items()
    ]
    return df.groupBy(*[F.expr(d) for d in dims]).agg(*aggs)


#: measures whose contribution can be SUBTRACTED back out (commutative
#: group structure) — what the row-level change feed's retractions need.
#: min/max lose the evicted extremum's history; an HLL sketch cannot
#: un-see a value. Since r12 a rewrite window touching those measures
#: takes the GROUP-LOCAL path (re-aggregate only the touched groups from
#: the source snapshot) instead of a full rebuild.
_RETRACTABLE = {"count", "sum", "histogram", "_nncount"}

#: touched group keys up to this many get (a) broadcast into the
#: group-local semi-joins and (b) exact per-file stats pruning of the
#: source read — same ≤ ~1 MB driver-memory posture as the table layer's
#: ``_PRUNE_KEYS_COLLECT_MAX``; beyond it the joins shuffle (still
#: groups-sized) and the source read falls back to all files
_GROUP_KEYS_COLLECT_MAX = 100_000

#: a dim expression that is a BARE source column name — prunable
#: directly against the column's per-file min/max stats
_BARE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

#: trailing "AS alias" on a dim expression (what names the rollup's key
#: column) — stripped before monotone-shape matching / bound evaluation
_ALIAS_RE = re.compile(
    r"^(?P<body>.+?)\s+as\s+[A-Za-z_][A-Za-z0-9_]*\s*$", re.I | re.S
)

#: dim shapes AUTO-RECOGNIZED as monotone non-decreasing transforms of
#: one bare source column (r13, VERDICT r12 #1) — the canonical
#: time-bucketing functions. A shape here lets the group-local refresh
#: prune source files on the EXPRESSION dim itself by mapping each
#: file's recorded [min, max] on the inner column through the
#: transform. Deliberately conservative: every listed shape is monotone
#: for every argument (``month()``/``hour()`` are NOT — they cycle);
#: anything else needs an explicit ``monotone_dims`` declaration.
_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_MONOTONE_AUTO = [
    re.compile(rf"^date_trunc\(\s*'[^']+'\s*,\s*({_IDENT})\s*\)$", re.I),
    re.compile(rf"^to_date\(\s*({_IDENT})\s*\)$", re.I),
    re.compile(rf"^year\(\s*({_IDENT})\s*\)$", re.I),
    re.compile(rf"^trunc\(\s*({_IDENT})\s*,\s*'[^']+'\s*\)$", re.I),
    # cast targets are limited to shapes that CANNOT wrap: temporal and
    # float/decimal (a non-ANSI overflow there yields NULL — the bounds
    # evaluator keeps NULL-image files candidate, never skips them).
    # Integral targets are deliberately EXCLUDED: non-ANSI integral
    # narrowing WRAPS (cast(2^31+500 AS INT) goes negative), which
    # breaks monotonicity and could wrongly prune a file; declare such
    # a dim via monotone_dims only if the value range provably fits.
    re.compile(
        rf"^cast\(\s*({_IDENT})\s+as\s+"
        r"(?:date|timestamp(?:_ntz)?"
        r"|float|double|decimal(?:\([^)]*\))?)\s*\)$",
        re.I,
    ),
    re.compile(rf"^unix_timestamp\(\s*({_IDENT})\s*\)$", re.I),
    # the reference's op-34 smart date key (functions.scalar.yyyymmdd_key
    # as SQL): year*10000 + month*100 + day — lexicographic date order,
    # monotone in the one date/timestamp argument
    re.compile(
        rf"^(?:cast\(\s*)?\(?\s*year\(\s*({_IDENT})\s*\)\s*\*\s*10000"
        rf"\s*\+\s*month\(\s*\1\s*\)\s*\*\s*100"
        rf"\s*\+\s*(?:day|dayofmonth)\(\s*\1\s*\)\s*\)?"
        r"(?:\s*as\s+(?:tinyint|smallint|int|bigint|long)\s*\))?$",
        re.I,
    ),
]


def _strip_alias(dim: str) -> str:
    m = _ALIAS_RE.match(dim.strip())
    return (m.group("body") if m else dim).strip()


def _monotone_map(dims: list[str], monotone_dims: dict | None) -> dict:
    """{dim index -> inner source column} for every dim that is a
    monotone transform of one column: explicit ``monotone_dims``
    declarations (keyed by the dim string exactly as passed) first,
    then the auto-recognized shapes (``_MONOTONE_AUTO``). Bare-column
    dims prune directly and are skipped. Unknown declaration keys fail
    loud — a silently ignored declaration would read as pruning."""
    declared = dict(monotone_dims or {})
    out: dict[int, str] = {}
    for i, d in enumerate(dims):
        body = _strip_alias(d)
        if d in declared:
            col = declared.pop(d)
            if not _BARE_IDENT.match(col):
                raise ValueError(
                    f"monotone_dims[{d!r}]: {col!r} is not a bare source "
                    "column name"
                )
            out[i] = col
            continue
        if _BARE_IDENT.match(body):
            continue
        for pat in _MONOTONE_AUTO:
            m = pat.match(body)
            if m:
                out[i] = m.group(1)
                break
    if declared:
        raise ValueError(
            f"monotone_dims keys not found in dims: {sorted(declared)}"
        )
    return out


def _monotone_file_bounds(
    spark: SparkSession,
    src_schema,
    stats: dict,
    files: list[str],
    col: str,
    expr_body: str,
) -> dict | None:
    """Per-file [lo, hi] of a monotone dim expression, computed by
    evaluating the expression at each file's recorded bounds on the
    inner column — one tiny LOCAL job over ≤ 2·files rows, never a
    source read. Returns ``{file -> (lo, hi)}`` in the dim's encoded
    value space (files without inner-column stats are absent, i.e.
    unprunable), or ``None`` when the expression cannot be evaluated
    against the inner column alone (it references other columns — then
    no pruning happens, which is never wrong). Exact for any MONOTONE
    transform, non-decreasing or non-increasing: the two endpoint
    images are min/max'd, and every inner value in [lo, hi] maps
    between them."""
    from pyspark.sql import types as T

    from ..table import _stats_decode, _stats_encode, _widen_float_bounds

    field = next((f for f in src_schema.fields if f.name == col), None)
    if field is None:
        return None
    rows = []
    for f in files:
        ent = stats.get(f) or {}
        if col not in ent:
            continue
        lo, hi = _widen_float_bounds(*ent[col])
        rows.append((f, _stats_decode(lo, field.dataType)))
        rows.append((f, _stats_decode(hi, field.dataType)))
    if not rows:
        return {}
    eval_schema = T.StructType(
        [T.StructField("__gl_file", T.StringType()),
         T.StructField(col, field.dataType)]
    )
    try:
        imgs = (
            spark.createDataFrame(rows, eval_schema)
            .select("__gl_file", F.expr(expr_body).alias("__gl_img"))
            .collect()
        )
    except Exception as e:
        # unresolvable standalone (multi-column expression, bounds the
        # inner type refuses to round-trip) — skip pruning on this dim.
        # Warn (r14, VERDICT r13 #6): fail-open is never WRONG, but a
        # typo'd declaration that always fails would otherwise read
        # everything forever in silence.
        import warnings

        warnings.warn(
            f"monotone-dim pruning: expression {expr_body!r} could not "
            f"be evaluated against its inner column {col!r} alone "
            f"({type(e).__name__}) — no files pruned on this dim; "
            "reads stay exact but FULL. Check the monotone_dims "
            "declaration (does the expression reference other columns?)",
            RuntimeWarning,
            stacklevel=2,
        )
        return None
    raw: dict[str, list] = {}
    null_img = set()
    for r in imgs:
        if r["__gl_img"] is None:
            null_img.add(r["__gl_file"])
        else:
            raw.setdefault(r["__gl_file"], []).append(r["__gl_img"])
    complete = {
        f: vs
        for f, vs in raw.items()
        if f not in null_img and len(vs) == 2
        # a NULL endpoint image: keep the file candidate (absent here)
    }
    # decide encoded-vs-natural ONCE for the whole dim (r14, ADVICE
    # r13): a per-file fallback could put _stats_encode ints and raw
    # values into the SAME bisect and raise TypeError mid-refresh;
    # all-or-nothing keeps the value space homogeneous — and matches
    # _prune_on's whole-set decision on the touched-key side (same
    # expression, same input type, so the two sides' values are the
    # same Python type and take the same branch)
    try:
        return {
            f: tuple(sorted(_stats_encode(v) for v in vs))
            for f, vs in complete.items()
        }
    except (TypeError, ValueError):
        pass
    try:
        return {
            f: tuple(sorted(vs)) for f, vs in complete.items()
        }  # e.g. string images — natural order
    except TypeError:
        return None  # not even naturally orderable: no pruning


def _image_tz_sensitive(spark, src_schema, col: str, expr_body: str) -> bool:
    """Whether a monotone dim's IMAGE type passes through the non-Arrow
    collect's ``fromtimestamp`` (TimestampType) — the one conversion a
    DST PROCESS zone can fold (r15, VERDICT r14 #6). Resolved from the
    expression's analyzed schema over an empty frame: plan-only, no
    job. Unresolvable expressions report sensitive (fail-closed — the
    dim then declines pruning, which is never wrong, and the bounds
    evaluator would have declined it anyway)."""
    from pyspark.sql import types as T

    field = next((f for f in src_schema.fields if f.name == col), None)
    if field is None:
        return True
    try:
        dtype = (
            spark.createDataFrame([], T.StructType([field]))
            .select(F.expr(expr_body))
            .schema.fields[0].dataType
        )
    except Exception:
        return True
    return isinstance(dtype, T.TimestampType)


def _prune_candidates(
    spark: SparkSession,
    src: VersionedTable,
    v_src: int,
    dims: list[str],
    dim_tmp: list[str],
    keys: "DataFrame | None",
    monotone: dict | None,
) -> tuple[list, list, "object"]:
    """The group-local refresh's source-file pruning walk, factored out
    (r14, VERDICT r13 #7) so ``maintain_rollup(dry_run=True)`` can run
    the SAME walk against the current delta window and report the
    predicted ``files_read`` before anything executes. Returns
    ``(pruned_files, all_files, src_schema)`` for the source snapshot
    at ``v_src`` — manifest stats + a ≤2·files-row local endpoint job
    per monotone dim, never a source read. ``keys=None`` (the touched
    key set exceeded the collect cap) skips pruning entirely.

    Bare-column dims with recorded stats prune directly; an expression
    dim declared/recognized as a MONOTONE transform of a stats-covered
    column (r13, VERDICT r12 #1) prunes by mapping each file's recorded
    [min, max] through the transform — what makes the canonical
    time-bucketed rollup (date_trunc('day', ts) on a ts-clustered
    source) read ∝ touched days instead of every file. NULL touched
    keys disable pruning on that dim (file stats ignore NULLs, so any
    file could hold the NULL group's rows)."""
    import bisect

    from ..table import (
        _process_tz_fixed_offset,
        _session_tz_fixed_offset,
        _stats_encode,
        _tz_sensitive_cols,
        _widen_float_bounds,
    )

    man = src.manifest(v_src)
    files = man["files"]
    stats = man.get("stats") or {}
    src_schema = src.read(v_src).schema  # manifest schema, no data read
    src_cols = {f.name for f in src_schema.fields}
    prunable = {
        t: _strip_alias(d)
        for d, t in zip(dims, dim_tmp)
        if _BARE_IDENT.match(_strip_alias(d))
        and _strip_alias(d) in src_cols
    }
    mono = {
        dim_tmp[i]: (col, _strip_alias(dims[i]))
        for i, col in (monotone or {}).items()
        if col in src_cols and dim_tmp[i] not in prunable
    }
    # DST-session guard (see table._session_tz_fixed_offset): wall-clock
    # comparisons on TIMESTAMP values are only instant-ordered under a
    # fixed-offset zone — drop the affected dims from pruning (results
    # stay exact; only the read is wider). Per-column since r14 (VERDICT
    # r13 #1): only a TimestampType INNER column's STORED stats are
    # wall-clock-sensitive; a DATE / numeric inner column decodes
    # zone-free, and the monotone dim's two comparison sides (endpoint
    # images and touched keys) are both computed in THIS process under
    # the same session semantics — order-exact as long as the PROCESS
    # zone is fixed (non-Arrow collect's fromtimestamp must stay
    # monotone for timestamp-typed images/keys; a process-zone DST fold
    # breaks that, so there all monotone dims decline).
    if not _session_tz_fixed_offset(spark):
        ts_cols = _tz_sensitive_cols(src_schema)
        prunable = {t: c for t, c in prunable.items() if c not in ts_cols}
        if _process_tz_fixed_offset():
            mono = {t: ce for t, ce in mono.items() if ce[0] not in ts_cols}
        else:
            # r15 (VERDICT r14 #6): a DST process zone only corrupts
            # values that pass through fromtimestamp — a dim whose
            # INNER column (stats decode) and IMAGE type (endpoint
            # images + touched keys, both collected here) are zone-free
            # (date / numeric) never does; keep those pruning instead
            # of declining wholesale
            mono = {
                t: ce for t, ce in mono.items()
                if ce[0] not in ts_cols
                and not _image_tz_sensitive(spark, src_schema, *ce)
            }
    pruned = files
    if keys is not None and (prunable or mono) and files:
        key_rows = keys.collect()

        def _prune_on(t: str, bounds_of):
            """Keep only files whose [lo, hi] (from ``bounds_of``, in
            the dim's VALUE space; None = unprunable) admit a touched
            key of dim ``t`` — exact per-key bisect on the encoded
            order (temporal values encode to epoch ints; anything the
            encoding doesn't cover compares in its own natural order,
            consistent on both sides)."""
            nonlocal pruned
            vals = [r[t] for r in key_rows]
            if any(v is None for v in vals):
                return
            try:
                vals = sorted({_stats_encode(v) for v in vals})
            except (TypeError, ValueError):
                try:
                    vals = sorted({v for v in vals})
                except TypeError:
                    return  # unorderable key values: no pruning
            def may_contain(f: str) -> bool:
                b = bounds_of(f)
                if b is None:
                    return True  # no stats / no image: never wrongly skipped
                lo, hi = b
                try:
                    i = bisect.bisect_left(vals, lo)
                    return i < len(vals) and vals[i] <= hi
                except TypeError:
                    # keys and bounds landed in different value spaces
                    # (heterogeneous encode fallbacks, ADVICE r13) —
                    # degrade to keeping the file, never crash mid-refresh
                    return True

            pruned = [f for f in pruned if may_contain(f)]

        for t, col in prunable.items():
            def bare_bounds(f, col=col):
                ent = stats.get(f) or {}
                if col not in ent:
                    return None
                return _widen_float_bounds(*ent[col])

            _prune_on(t, bare_bounds)
        for t, (col, expr_body) in mono.items():
            images = _monotone_file_bounds(
                spark, src_schema, stats, pruned, col, expr_body
            )
            if images is None:
                continue  # expression not evaluable standalone: no pruning
            _prune_on(t, lambda f, images=images: images.get(f))
    return pruned, files, src_schema


def _group_local_state(
    spark: SparkSession,
    src: VersionedTable,
    v_src: int,
    current: DataFrame,
    delta: DataFrame,
    dims: list[str],
    internal: dict,
    monotone: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Recompute ONLY the groups the change window touched, from the
    source snapshot AT ``v_src``, and splice them into the untouched
    rollup rows — the r12 refresh path for rewrite windows whose spec
    has non-retractable measures (min / max / approx_distinct), which
    previously forced a full rebuild per refresh (the last
    full-scan-per-epoch cost cliff, VERDICT r11 #1).

    Exactness: every window modification is a change row (``row_changes``
    fails loud otherwise), and every change row's group key — preimage
    AND postimage, so a row that MOVED groups touches both — is in the
    touched set. Untouched groups therefore have bit-identical source
    rows, and their stored state is carried verbatim; touched groups are
    re-aggregated from the source itself, so nothing is "un-seen" — the
    result equals ``full_rebuild=True`` bit-for-bit for every
    deterministic measure (min/max/count/sum/histogram; HLL sketches are
    bit-equal while in exact LIST/SET mode and within the documented
    error band after, since untouched groups keep their stored merge
    topology).

    Cost shape: the touched-group source read is pruned to the files
    whose recorded per-file min/max admit a touched key when a dim is a
    bare stats-covered column (exact per-key bisect, the
    ``_candidate_files`` discipline) — on a dim-clustered source a
    k-group window reads ~k files, not the table. The semi-joins are
    broadcast below ``_GROUP_KEYS_COLLECT_MAX`` keys. Returns
    ``(state_df, re_agg, keys_named, op_metrics)``: the full spliced
    state (a lazy plan — the classic overwrite commit), the
    re-aggregated TOUCHED groups alone, and the touched key frame under
    the output dim names — what the copy-on-write commit path (r15)
    hands to ``merge_keyed`` so only the rollup files containing
    touched groups are rewritten. The caller commits one of the two
    shapes."""
    from functools import reduce

    dim_tmp = [f"__gl_d{i}" for i in range(len(dims))]
    # output key-column names, schema-only (no job)
    dim_names = delta.select(*[F.expr(d) for d in dims]).columns
    keys = (
        delta.select(*[F.expr(d).alias(t) for d, t in zip(dims, dim_tmp)])
        .distinct()
        .localCheckpoint(eager=True)  # read twice (semi + anti join)
    )
    n_groups = keys.count()
    small = n_groups <= _GROUP_KEYS_COLLECT_MAX

    pruned, files, src_schema = _prune_candidates(
        spark, src, v_src, dims, dim_tmp, keys if small else None, monotone
    )
    if pruned:
        src_rows = spark.read.schema(src_schema).parquet(
            *[f"{src.path}/{f}" for f in pruned]
        )
    else:
        src_rows = spark.createDataFrame([], src_schema)
    tagged = src_rows.select(
        "*", *[F.expr(d).alias(t) for d, t in zip(dims, dim_tmp)]
    )
    probe = F.broadcast(keys) if small else keys
    cond = reduce(
        lambda a, b: a & b, [tagged[t].eqNullSafe(keys[t]) for t in dim_tmp]
    )
    re_agg = _aggregate(
        tagged.join(probe, cond, "left_semi").drop(*dim_tmp), dims, internal
    )
    keys_named = keys.toDF(*dim_names)
    probe_named = F.broadcast(keys_named) if small else keys_named
    anti = reduce(
        lambda a, b: a & b,
        [current[n].eqNullSafe(keys_named[n]) for n in dim_names],
    )
    kept = current.join(probe_named, anti, "left_anti")
    metrics = {
        "op": "rollup_refresh",
        "mode": "group_local",
        "groups_touched": n_groups,
        "files_read": len(pruned),
        "files_total": len(files),
    }
    return kept.unionByName(re_agg), re_agg, keys_named, metrics


def _signed_aggregate(
    delta: DataFrame, dims: list[str], measures: dict
) -> DataFrame:
    """Partial aggregate over a ROW-LEVEL change-feed delta
    (``row_changes``): insert/update_postimage rows contribute +1, the
    retractions (update_preimage/delete) contribute −1, so merging the
    partial into the current rollup with the ordinary SUM merge yields
    exactly the post-rewrite aggregate — count and sum subtract, the
    histogram's integer bins decrement. Same delta-sized shuffle as the
    insert-only path; the sign is one codegen'd CASE."""
    from ..table import CHANGE_TYPE_COL

    sign = (
        F.when(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"), F.lit(1)
        )
        .otherwise(F.lit(-1))
    )
    aggs = []
    for name, (fn, col) in measures.items():
        if fn == "count":
            agg = F.sum(sign).cast("long")
        elif fn == "sum":
            x = F.expr(col)
            agg = F.sum(F.when(sign > 0, x).otherwise(-x))
        elif fn == "_nncount":
            # non-null counter retracts like count, gated on the value
            agg = F.sum(
                F.when(F.expr(col).isNotNull(), sign).otherwise(F.lit(0))
            ).cast("long")
        elif fn == "histogram":
            agg = _histogram_agg(col, sign=sign)
        else:  # pragma: no cover — guarded by the caller's _RETRACTABLE gate
            raise ValueError(f"measure {name}: {fn} cannot consume retractions")
        aggs.append(agg.alias(name))
    return delta.groupBy(*[F.expr(d) for d in dims]).agg(*aggs)


def _rollup_change_rows(
    spark: SparkSession,
    current: DataFrame,
    new_state: DataFrame,
    dim_names: list[str],
    touched: "DataFrame | None",
    drop_unchanged: bool = False,
) -> DataFrame:
    """Delta-CDF change rows for a refresh that rewrote ``current``
    into ``new_state`` touching exactly the groups in ``touched``
    (r14): update_preimage + update_postimage for groups present on
    both sides, insert for new groups, delete for emptied ones. The
    caller hands the result to ``commit(changes_df=...)`` so the
    rollup's OWN refresh commits are walkable by ``row_changes`` —
    what lets a replica OF the rollup and a rollup-of-a-rollup sync at
    delta cost instead of failing loud / re-seeding per refresh. At
    100 TB a high-cardinality rollup is itself a big table; without
    this record every downstream sync re-reads it.

    Cost shape: two rollup-side semi-joins against the touched keys
    (outputs are touched-group-sized, checkpointed), then the four
    classify joins run over those small frames only. Exactness: both
    sides carry the FULL stored row (hidden ``__nn_*`` counters
    included), and a group is emitted as changed whether or not its
    aggregate value moved — over-reporting is harmless to both
    consumer algebras (a CDC collapse upserts an equal value; a signed
    re-aggregate nets zero). ``dim_names=[]`` (a GLOBAL spec) is one
    group and one update: a global aggregate is always exactly one
    row on each side.

    HLL sketch columns: the refresh's merge may RE-SERIALIZE an
    untouched group's stored sketch (same element content, different
    slot order), which this delta does not report — so a delta-synced
    replica is CONTENT-equal to the rollup (identical estimates
    through ``finalize_rollup``, the documented read path) but not
    byte-equal on sketch columns. Deterministic measures
    (count/sum/min/max/histogram) are bit-equal.

    ``drop_unchanged`` (r15, VERDICT r14 #7): drop update pairs whose
    pre/post rows are row-identical — a touched group whose aggregate
    value did not actually move (e.g. a wide refresh window brushing
    many groups) adds nothing to either consumer algebra (a CDC
    collapse would upsert an equal value; a signed re-aggregate nets
    zero), so dropping the pair shrinks downstream sync work with no
    semantic change. The CALLER may only enable this when every
    measure is deterministic: an HLL sketch column can change content
    while every other column stays equal, and a bytewise comparison on
    re-serialized sketches would also false-positive — sketch-bearing
    specs keep the documented over-reporting."""
    from functools import reduce

    from ..table import CHANGE_TYPE_COL

    def _filter_unchanged(pre: DataFrame, post: DataFrame):
        """Row-identical pre/post pairs vanish: rollup rows are unique
        per dims, so a pre row multiset-equal to some post row IS its
        own pair (exceptAll groups null-safe, SQL set-op semantics);
        both frames are touched-group-sized."""
        return pre.exceptAll(post), post.exceptAll(pre)

    if not dim_names:
        pre, post = current, new_state
        if drop_unchanged:
            pre, post = _filter_unchanged(pre, post)
        pre = pre.withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
        post = post.withColumn(
            CHANGE_TYPE_COL, F.lit("update_postimage"))
        return pre.unionByName(post).localCheckpoint(eager=True)
    # renamed key frames: new_state derives from current, so joining
    # raw same-named columns would hit self-join lineage ambiguity
    tk = touched.select(
        *[F.col(n).alias(f"__tk_{n}") for n in dim_names]
    ).localCheckpoint(eager=True)

    def _touched_rows(df):
        cond = reduce(
            lambda a, b: a & b,
            [df[n].eqNullSafe(F.col(f"__tk_{n}")) for n in dim_names],
        )
        return df.join(tk, cond, "left_semi").localCheckpoint(eager=True)

    old_t, new_t = _touched_rows(current), _touched_rows(new_state)

    def _tag(side, other, both_type, only_type):
        keys = other.select(
            *[F.col(n).alias(f"__ok_{n}") for n in dim_names]
        )
        cond = reduce(
            lambda a, b: a & b,
            [side[n].eqNullSafe(F.col(f"__ok_{n}")) for n in dim_names],
        )
        both = side.join(keys, cond, "left_semi").withColumn(
            CHANGE_TYPE_COL, F.lit(both_type))
        only = side.join(keys, cond, "left_anti").withColumn(
            CHANGE_TYPE_COL, F.lit(only_type))
        return both.unionByName(only)

    out = _tag(old_t, new_t, "update_preimage", "delete").unionByName(
        _tag(new_t, old_t, "update_postimage", "insert")
    )
    if drop_unchanged:
        pres = out.filter(
            F.col(CHANGE_TYPE_COL) == "update_preimage"
        ).drop(CHANGE_TYPE_COL)
        posts = out.filter(
            F.col(CHANGE_TYPE_COL) == "update_postimage"
        ).drop(CHANGE_TYPE_COL)
        keep_pre, keep_post = _filter_unchanged(pres, posts)
        out = (
            out.filter(F.col(CHANGE_TYPE_COL).isin("insert", "delete"))
            .unionByName(
                keep_pre.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_preimage"))
            )
            .unionByName(
                keep_post.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_postimage"))
            )
        )
    # one materialization: commit() both probes emptiness and writes
    # the files — without the pin the 4-join union would compute twice
    return out.localCheckpoint(eager=True)


def _merge(parts: DataFrame, dim_names: list[str], measures: dict) -> DataFrame:
    aggs = [
        (
            _histogram_merge(name, col) if fn == "histogram" else _FNS[fn][1](name)
        ).alias(name)
        for name, (fn, col) in measures.items()
    ]
    return parts.groupBy(*dim_names).agg(*aggs)


def _classify_window(
    src: VersionedTable, reflected: int, v_src: int
) -> tuple[bool, bool]:
    """(retractions, unrecorded) for the refresh window (reflected,
    v_src] — ONE manifest walk, no data read. ``retractions``: some
    commit recorded row-level change rows (a recorded rewrite);
    ``unrecorded``: some commit replaced files with NO change rows and
    no rowset-preserving mark (plain overwrite / pre-r10 history — the
    row delta is undefined across it). Shared by ``refresh_rollup``'s
    inline decision and ``maintain_rollup``'s policy probe so the two
    can never classify a window differently."""
    retractions = False
    unrecorded = False
    prev = set(src.manifest(reflected)["files"])
    for m in src._walk_range(reflected, v_src):
        cur = set(m["files"])
        if prev <= cur:
            pass  # pure append
        elif m.get("changes") is not None:
            # "changes": [] = recorded ZERO delta (walkable, no rows)
            if m["changes"]:
                retractions = True
        elif (m.get("op") or {}).get("rowset_preserving"):
            pass
        else:
            unrecorded = True
        prev = cur
    return retractions, unrecorded


def _reflected_version(
    rollup: VersionedTable, source_path: str | None = None
) -> int | None:
    from ..table import latest_maintainer_manifest

    # walk back across rowset-preserving rewrites (r14): an operator may
    # OPTIMIZE the rollup table for read layout (cluster its key
    # columns) without bricking the refresh — the sync token sits one
    # (or more) preserving commits below the latest manifest then
    man = latest_maintainer_manifest(rollup, ("rollup-of:v",))
    if man is None:
        return None
    token = man.get("token") or ""
    if not token.startswith("rollup-of:v"):
        raise ValueError(
            f"{rollup.path} is not a rollup table (token {token!r}); "
            "refresh_rollup only maintains tables it created"
        )
    if source_path is not None:
        # source-identity check (r14, ADVICE r13): the bare
        # rollup-of:vN token is meaningless against the WRONG source —
        # trusting it would plant a registry entry on that table (whose
        # vacuum("auto") then fails loud until a manual retire) and
        # read a nonsense delta window. Mirror replicate_table: fail
        # BEFORE registering or refreshing. Pre-r13 manifests without
        # op.source pass unvalidated — refresh once to stamp it.
        from ..table import _norm_table_path

        rec = (man.get("op") or {}).get("source")
        if rec is not None and \
                _norm_table_path(rec) != _norm_table_path(source_path):
            raise ValueError(
                f"rollup at {rollup.path} is derived from {rec}, not "
                f"{source_path} — refusing to refresh or register it "
                "against the wrong source (if these are the SAME "
                "location spelled differently, use one canonical "
                "spelling; to repoint the rollup deliberately, delete "
                "its table directory and bootstrap it fresh)"
            )
    return int(token[len("rollup-of:v"):])


#: below this source size the r9 measurement says a full rebuild is
#: typically FASTER than the incremental merge (fixed per-refresh costs
#: dominate: 0.93× at sf1/1M rows, 1.63× at sf10 — SCALING.md "Round-9
#: incremental-vs-rebuild"); refresh_rollup emits an advisory warning
#: when incrementally refreshing a source smaller than this
REBUILD_ADVISORY_BYTES = 64 * 1024 * 1024

#: the GROUP-LOCAL path's advisory threshold (r12, measured —
#: SCALING.md "Group-local refresh"): its fixed job chain (~8 jobs:
#: delta distinct, pruned read, two broadcast joins, checkpoint,
#: commit) costs ~1.3-1.5 s regardless of source size, while the full
#: rebuild it replaces grows with the source (0.62 s at 1M rows,
#: 0.95 s at 10M) — extrapolated crossover ≈ 20M local rows ≈ 1 GiB.
#: Below it the advisory suggests full_rebuild=True; above it (and at
#: the 100 TB target, where the rebuild term is the lake) group-local
#: wins on the flat-vs-linear trend, by touched-files ∝ touched groups.
GROUP_LOCAL_ADVISORY_BYTES = 1024 * 1024 * 1024

#: the copy-on-write commit path's "auto" size threshold (r15, VERDICT
#: r14 #1): above this STORED-ROLLUP size a file-local refresh commits
#: via ``merge_keyed`` (rewrite only the rollup files containing
#: touched groups) instead of the classic full-state overwrite —
#: converting the last linear-in-state refresh cost, the O(rollup)
#: write, into O(touched files). Measured
#: (tools/measure_cow_refresh.py, fixed ~2000-group window): classic
#: grows with state (1.65 -> 3.58 s narrow / 3.17 -> 9.47 s wide as the
#: rollup grows 0.9 -> 61 / 48 -> 296 MB) while CoW stays ~flat; the
#: local break-even for file-local windows sits between 8 and 61 MB
#: (1.00x at 7.6 MB, 1.47x at 61 MB, 1.88x at 296 MB). 64 MiB is the
#: measured crossover on local NVMe where write bandwidth ≈ read; on
#: object storage (writes far costlier than manifest math) a LOWER
#: threshold is better — tune per deployment.
COW_REFRESH_MIN_BYTES = 64 * 1024 * 1024

#: "auto" CoW also requires the window to be FILE-LOCAL: if the
#: touched keys' candidate files (manifest stats, computed before any
#: data read) exceed this fraction of the rollup's files, a spread
#: window is rewriting most of the state anyway and the classic single
#: overwrite is cheaper than CoW's probe + per-file rewrite (measured
#: 0.40-0.81x across every scale/spec — tools/measure_cow_refresh.py
#: "spread"); an explicit cow=True skips the check (caller's policy)
COW_AUTO_MAX_CANDIDATE_FRACTION = 0.5


def _dim_stats_cols(spark: SparkSession, state_schema, dim_names) -> list:
    """The rollup's dim OUTPUT columns eligible for per-file min/max
    stats (numeric/date/timestamp — ``table.numeric_stats_types``;
    timestamp only under a fixed-offset session zone, the
    ``_validate_stats_cols`` rule). Recorded at every rebuild and CoW
    commit so the NEXT refresh's ``merge_keyed`` can prune the rollup's
    own files by touched group keys — the rollup-side twin of the
    source-side monotone-dim pruning."""
    from ..table import (
        _session_tz_fixed_offset,
        _tz_sensitive_cols,
        numeric_stats_types,
    )

    numeric = numeric_stats_types()
    by = {f.name: f.dataType for f in state_schema.fields}
    out = [n for n in dim_names
           if n in by and isinstance(by[n], numeric)]
    if not _session_tz_fixed_offset(spark):
        ts = _tz_sensitive_cols(state_schema)
        out = [n for n in out if n not in ts]
    return out


def _rollup_touched_read(
    spark: SparkSession, roll: VersionedTable, touched: DataFrame
) -> "tuple[DataFrame, int, int]":
    """Pruned read of ONLY the rollup files that may contain a touched
    group (r15): the CoW refresh's last O(rollup) term was the full
    ``roll.read()`` scan feeding the touched-groups semi-join — but a
    touched group's current row can only live in a file whose recorded
    dim stats admit its key — ``VersionedTable._candidate_files``, the
    one candidacy rule ``merge_keyed`` also uses for its write-side
    probe (exact per key at any touched-group count; files without
    stats stay candidates). The semi-join downstream keeps exactness; this only
    shrinks the READ. On a dims-clustered rollup the whole refresh is
    then touched-sized: read ∝ touched files, write ∝ touched files.
    Returns ``(df, n_candidates, n_files)`` — the counts feed the
    "auto" CoW spread-window stand-down
    (``COW_AUTO_MAX_CANDIDATE_FRACTION``)."""
    import json as _json

    from pyspark.sql import types as T

    man = roll.manifest()
    files = man["files"]
    schema = T.StructType.fromJson(_json.loads(man["schema"]))
    cand = roll._candidate_files(
        files, man.get("stats") or {}, list(touched.columns), touched, schema
    )
    if not cand:
        return spark.createDataFrame([], schema), 0, len(files)
    df = spark.read.schema(schema).parquet(
        *[f"{roll.path}/{f}" for f in cand]
    )
    return df, len(cand), len(files)


def _semi_on_dims(
    df: DataFrame, keys_named: DataFrame, dim_names: list[str],
    broadcast: bool = True,
) -> DataFrame:
    """Null-safe LEFT SEMI of ``df`` against the touched key frame on
    the dim columns (a NULL group key is a real group — SQL GROUP BY
    semantics), with renamed probe columns so a current-state self-join
    cannot hit lineage ambiguity."""
    from functools import reduce

    tk = keys_named.select(
        *[F.col(n).alias(f"__ck_{n}") for n in dim_names]
    )
    probe = F.broadcast(tk) if broadcast else tk
    cond = reduce(
        lambda a, b: a & b,
        [df[n].eqNullSafe(F.col(f"__ck_{n}")) for n in dim_names],
    )
    return df.join(probe, cond, "left_semi")


def refresh_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    dims: list[str],
    measures: dict[str, tuple[str, str | None]],
    full_rebuild: bool = False,
    rebuild_advisory_bytes: int = REBUILD_ADVISORY_BYTES,
    monotone_dims: dict[str, str] | None = None,
    record_changes: "bool | str" = "auto",
    cow: "bool | str" = "auto",
) -> int:
    """Bring the rollup at ``rollup_path`` up to the source's latest
    version and return the rollup version committed (or current).

    Copy-on-write commit (r15, VERDICT r14 #1 — the last
    linear-in-state refresh cost): every non-rebuild refresh mode
    previously REWROTE the whole rollup state per commit even when one
    group changed — measured to dominate refresh wall time at 1M/10M
    groups (SCALING.md r14 "Measured and rejected"). With
    ``cow=True`` (or ``"auto"``, which turns CoW on once the STORED
    rollup exceeds ``COW_REFRESH_MIN_BYTES`` and the spec has dims) the
    refresh computes only the TOUCHED groups' new rows and commits via
    ``VersionedTable.merge_keyed``: rollup files containing no touched
    group are carried verbatim, so the refresh writes O(touched
    groups), not O(rollup). Dim columns that are stats-eligible
    (numeric/date/timestamp) get per-file min/max recorded at every
    rebuild and CoW commit, so the next refresh's file probe prunes by
    touched keys — a dims-clustered rollup rewrites ~k files for a
    k-group window. Results are bit-identical to the classic overwrite
    for every deterministic measure (the merge algebra is unchanged —
    only WHICH rows get rewritten differs); sketch columns keep their
    stored bytes on untouched groups (strictly closer to from-scratch
    than the classic path, which re-serializes them).

    ``dims`` are SQL expressions (aliased ones become the rollup's key
    columns — e.g. ``["event_type", "date_trunc('hour', ts) AS hour"]``);
    ``measures`` maps output column -> (fn, source column), fn one of
    count/sum/min/max/approx_distinct (col ignored for count;
    approx_distinct stores a mergeable HLL sketch — read through
    ``finalize_rollup``). First call bootstraps
    from the full source snapshot; later calls read ONLY the delta files
    plus the current rollup. Refreshing an already-current rollup is a
    no-op returning the existing version.

    Rewrites in the window (r10, VERDICT r9 #1): if every commit since
    the reflected version either appended or RECORDED row-level change
    rows (upsert / delete_where / apply_cdc — ``row_changes``), and
    every measure is retractable (count / sum / histogram) with at
    least one ``count`` measure present (it detects emptied groups),
    the refresh stays incremental: retractions subtract, histogram
    bins decrement, groups whose row count reaches zero are dropped —
    still reading only the delta. Non-retractable measures (min / max /
    approx_distinct: an extremum's history and an HLL sketch cannot
    un-see a value) take the GROUP-LOCAL path instead (r12, VERDICT
    r11 #1): the touched group keys come from the change rows, only
    those groups are re-aggregated from the source snapshot at the
    stamped version (file-pruned via the manifest's per-file min/max
    when a dim is a bare stats-covered column — exact per-key bisect),
    and the untouched rollup rows are carried verbatim; the result is
    bit-equal to ``full_rebuild=True`` at touched-groups cost, and the
    manifest's ``op`` records ``{mode: group_local, groups_touched,
    files_read, files_total}``. An UNRECORDED rewrite (plain
    overwrite, pre-r10 history) still fails loud — pass
    ``full_rebuild=True``.

    Expression dims prune too (r13, VERDICT r12 #1): a dim that is a
    MONOTONE transform of one stats-covered column — the canonical
    ``date_trunc('day', ts)`` bucket on a ts-clustered source — maps
    each file's recorded [min, max] through the transform and prunes
    on the transformed bounds, so the time-bucketed rollup reads
    ∝ touched buckets instead of every file. ``date_trunc`` /
    ``to_date`` / ``year`` / ``trunc`` / monotone ``cast`` /
    ``unix_timestamp`` shapes are auto-recognized; declare anything
    else via ``monotone_dims={dim_string: inner_column}`` (the
    CALLER asserts monotonicity — non-decreasing or non-increasing in
    that single column; a false declaration can wrongly skip files).
    Timestamp/date columns carry per-file stats since r13
    (``table.numeric_stats_types``), so the inner column needs no
    manual widening.

    NULL-sum exactness (r11, VERDICT r10 #1): each ``sum`` measure
    carries a hidden ``__nn_<name>`` counter of non-null source values
    (retractable, count's algebra); when it reaches zero the stored sum
    is projected to NULL, so a group whose last non-null value was
    retracted reads NULL exactly like SQL SUM / a from-scratch rebuild
    — the former 0-vs-NULL caveat is closed. The hidden columns live in
    the stored rollup (``finalize_rollup`` drops them at read time); a
    pre-r11 rollup lacking them is migrated by a one-time loud-warned
    rebuild on its next refresh.

    Small sources (r10, VERDICT r9 #6): when the source's visible bytes
    are under ``rebuild_advisory_bytes`` (default 64 MiB ≈ the measured
    ~1M-row crossover where rebuild beat refresh 0.93× at sf1), the
    incremental path emits a ``RuntimeWarning`` advising
    ``full_rebuild=True`` — the refresh still runs (callers own the
    policy), but the measured cost model is now at the call site. The
    group-local path carries the same advisory at its own measured
    crossover (``GROUP_LOCAL_ADVISORY_BYTES``, ~1 GiB ≈ 20M local rows
    — its fixed job chain is flat while the rebuild it replaces grows
    with the source; SCALING.md r12); ``rebuild_advisory_bytes=0``
    silences both.

    The rollup records its OWN change rows (r14): an incremental /
    retract / group-local refresh commit can carry the Delta-CDF row
    delta of the groups it touched (``commit(changes_df=...)``), so
    the rollup table is itself a walkable change-feed source: a
    replica OF the rollup (``replicate_table``) and a
    rollup-of-a-rollup (this function with the rollup as source) sync
    at delta cost across refreshes instead of failing loud /
    re-seeding. ``record_changes="auto"`` (default) records exactly
    when the rollup HAS registered consumers (one registry listing —
    consumers self-register at first reflect, so the chain turns
    itself on), sparing every consumer-less rollup the recording cost
    (measured: two touched-key semi-scans of the stored rollup +
    the change-file write — ``tools/measure_rollup_chain.py``); pass
    ``True`` to force recording for a downstream that cannot
    self-register (read-only registry access), ``False`` to suppress.
    A REBUILD commit records no change rows (the delta is the whole
    table) — downstream consumers classify it as an unrecorded
    rewrite exactly like any overwrite, and ``maintain_rollup`` /
    ``full_copy=True`` auto-recover.

    Concurrent refreshers (r9): the rollup commit passes ``retry=False``
    — a rollup state is derived from the rollup snapshot it read, so the
    table layer's blind OCC re-publish could overwrite a CONCURRENT
    refresher's newer state with this one's staler state. On conflict
    the WHOLE refresh recomputes (bounded): re-reads the reflected
    version, no-ops if the winner already brought the rollup to (or
    past) this source version, else re-merges from the new state.
    """
    import warnings

    from ..table import _MAX_COMMIT_ATTEMPTS, CHANGE_TYPE_COL, CHANGE_VERSION_COL, CommitConflict

    public_fns = sorted(f for f in _FNS if not f.startswith("_"))
    for name, (fn, _col) in measures.items():
        if name.startswith("__"):
            raise ValueError(
                f"measure {name}: the __ prefix is reserved for internal "
                "companion columns (e.g. the per-sum non-null counters)"
            )
        if fn not in _FNS or fn.startswith("_"):
            raise ValueError(f"measure {name}: fn must be one of {public_fns}")
        if fn == "approx_distinct" and not _col:
            raise ValueError(f"measure {name}: approx_distinct needs a column")
        if fn == "histogram":
            _histogram_spec(_col)  # fail loud before any commit
    # the measure set actually maintained: + hidden per-sum non-null
    # counters (r11 — NULL-sum exactness under retraction)
    internal = _expand_measures(measures)
    # monotone expression dims (r13, VERDICT r12 #1): explicit
    # declarations validate loudly up front; date_trunc/to_date/year/
    # trunc/cast shapes auto-recognize — either way the group-local
    # path can file-prune the source read on the EXPRESSION dim by
    # mapping per-file stats through the transform
    mono_map = _monotone_map(dims, monotone_dims)
    src = VersionedTable(spark, source_path)
    roll = VersionedTable(spark, rollup_path)
    if record_changes not in (True, False, "auto"):
        raise ValueError(
            f"record_changes must be True, False or 'auto', got "
            f"{record_changes!r}"
        )
    if cow not in (True, False, "auto"):
        raise ValueError(
            f"cow must be True, False or 'auto', got {cow!r}"
        )
    rec_changes = (
        record_changes if isinstance(record_changes, bool)
        else bool(roll.consumers())  # the chain turns itself on: every
        # downstream (replica / second-level rollup) self-registers here
    )
    # change-row equality post-filter eligibility (r15, VERDICT r14 #7):
    # only a spec whose measures are ALL deterministic can drop
    # value-identical update pairs — an HLL sketch can change content
    # while every other column stays equal (see _rollup_change_rows)
    deterministic = all(
        fn != "approx_distinct" for fn, _c in measures.values()
    )
    src_latest = src.manifest()
    if src_latest is None:
        raise FileNotFoundError(f"no committed source at {source_path}")
    v_src = src_latest["version"]
    token = f"rollup-of:v{v_src}"
    if roll.manifest() is not None:
        # validate the existing rollup's recorded source BEFORE
        # registering (r14, ADVICE r13): one mistaken call with the
        # wrong source path must fail here, not plant a registry entry
        # that poisons that table's vacuum("auto") until a manual
        # retire_consumer — the replicate_table ordering
        _reflected_version(roll, source_path)
        # self-register as a consumer of the source (r13, VERDICT r12
        # #2): one idempotent registry check per refresh, best-effort
        # (the registry is advisory — a read-only source must not break
        # the refresh), and only once the rollup EXISTS so a failed
        # bootstrap cannot leave a phantom entry (the rebuild branch
        # registers after its commit)
        src.register_consumer(roll.path, best_effort=True)

    last_err: CommitConflict | None = None
    for _ in range(_MAX_COMMIT_ATTEMPTS):
        try:
            reflected = _reflected_version(roll, source_path)
            if reflected is not None and reflected >= v_src:
                # already current — a concurrent refresher may even have
                # reflected a NEWER source version; never step backward
                return roll.manifest()["version"]
            rebuild = reflected is None or full_rebuild
            retractions = False
            group_local = False
            base_v = None  # the rollup version this refresh's payload
            # derives from — merge_keyed rejects if it moved (a keyed
            # rewrite carries the latest files, so the full-overwrite
            # path's version-collision detection doesn't cover it)
            if not rebuild:
                base_v = roll.manifest()["version"]
                current = roll.read()
                if any(c not in current.columns for c in internal):
                    warnings.warn(
                        "refresh_rollup: stored rollup predates the hidden "
                        "per-sum non-null counters (r11) — rebuilding once "
                        "to migrate the schema (exact, full-scan cost)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    rebuild = True
            if not rebuild:
                # manifest-only probe: did any commit in the window record
                # row-level change rows (i.e. a rewrite)? (unrecorded
                # rewrites keep failing loud inside row_changes below)
                retractions, _unrec = _classify_window(src, reflected, v_src)
                if retractions:
                    bad = sorted(
                        name
                        for name, (fn, _c) in measures.items()
                        if fn not in _RETRACTABLE
                    )
                    has_count = any(
                        fn == "count" for fn, _c in measures.values()
                    )
                    if bad or not has_count:
                        # r12 (VERDICT r11 #1): re-aggregate ONLY the
                        # change-feed-named groups from the source
                        # snapshot instead of a full rebuild — exact for
                        # min/max/HLL (nothing is un-seen), and the one
                        # path that needs no count measure (emptied
                        # groups simply have no source rows left)
                        if dims:
                            group_local = True
                        else:
                            # a GLOBAL spec (dims=[]) has exactly ONE
                            # group, so "re-aggregate the touched groups"
                            # IS the full rebuild — take it directly; the
                            # group-local join machinery needs >= 1 dim
                            # (ADVICE r12: reduce() over an empty per-dim
                            # equality list raised TypeError here)
                            rebuild = True
            # CoW commit decision (r15): explicit bool wins; "auto"
            # turns CoW on once the STORED rollup clears the measured
            # break-even — one capped manifest-stat probe, no data read.
            # A GLOBAL spec (dims=[]) is one row; the overwrite IS
            # optimal there, so CoW silently stands down.
            use_cow = bool(dims) and not rebuild and (
                cow if isinstance(cow, bool)
                else roll.visible_bytes(COW_REFRESH_MIN_BYTES)
                >= COW_REFRESH_MIN_BYTES
            )
            if rebuild:
                # pin the scan to the stamped version: a concurrent
                # source commit between manifest() and this read would
                # otherwise aggregate rows the token does not reflect,
                # and the next refresh would re-apply them (double count)
                state = _aggregate(src.read(v_src), dims, internal)
                v = roll.commit(
                    state, mode="overwrite", idempotency_token=token,
                    retry=False,
                    op_info={"op": "rollup_refresh", "mode": "rebuild",
                             "source": src.path},
                    # per-file min/max on stats-eligible dims (r15):
                    # what the CoW path's next refresh prunes the
                    # rollup's own files with
                    stats_cols=_dim_stats_cols(
                        spark, state.schema, state.columns[: len(dims)]
                    ) or None,
                )
                src.register_consumer(roll.path, best_effort=True)
                return v
            if group_local:
                if (
                    rebuild_advisory_bytes > 0  # same silencing knob as
                    # the incremental advisory (callers own the policy)
                    and src.visible_bytes(GROUP_LOCAL_ADVISORY_BYTES)
                    < GROUP_LOCAL_ADVISORY_BYTES
                ):
                    warnings.warn(
                        "refresh_rollup: source is smaller than "
                        f"{GROUP_LOCAL_ADVISORY_BYTES >> 20} MiB — below "
                        "the measured ~20M-row crossover a full rebuild "
                        "is typically faster than the group-local "
                        "refresh's fixed job chain (SCALING.md, r12); "
                        "consider full_rebuild=True for small sources",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                delta = src.row_changes(reflected, v_src)
                state, re_agg, keys_named, op_metrics = _group_local_state(
                    spark, src, v_src, current, delta, dims, internal,
                    monotone=mono_map,
                )
                op_metrics["source"] = src.path
                dim_names = keys_named.columns
                if use_cow:
                    cur_pruned, n_cand, n_files = _rollup_touched_read(
                        spark, roll, keys_named
                    )
                    if cow == "auto" and n_files > 1 and \
                            n_cand > n_files * COW_AUTO_MAX_CANDIDATE_FRACTION:
                        # spread window: most files contain a touched
                        # group, so CoW would rewrite nearly everything
                        # PLUS its probe chain — measured 0.40-0.81x of
                        # the classic overwrite; stand down for this
                        # refresh (manifest-only check, no data read)
                        use_cow = False
                if use_cow:
                    # CoW (r15): commit ONLY the touched groups' new
                    # rows; untouched rollup FILES are carried verbatim
                    # by merge_keyed — O(touched files) written, not
                    # O(rollup); the change-row old side reads only the
                    # rollup files whose stats admit a touched key
                    re_agg = re_agg.localCheckpoint(eager=True)
                    changes_df = None
                    if rec_changes:
                        changes_df = _rollup_change_rows(
                            spark, cur_pruned, re_agg, dim_names,
                            keys_named, drop_unchanged=deterministic,
                        )
                    op_metrics["cow"] = True
                    return roll.merge_keyed(
                        re_agg, dim_names, keys_named,
                        idempotency_token=token, op_info=op_metrics,
                        changes_df=changes_df,
                        stats_cols=_dim_stats_cols(
                            spark, re_agg.schema, dim_names
                        ) or None,
                        expect_version=base_v,
                    )
                state = state.localCheckpoint(eager=True)  # derives from
                # the rollup version being replaced — pin before commit
                changes_df = None
                if rec_changes:
                    # the rollup's OWN row delta (r14): downstream
                    # consumers of the rollup stay incremental
                    changes_df = _rollup_change_rows(
                        spark, current, state, dim_names, keys_named,
                        drop_unchanged=deterministic,
                    )
                return roll.commit(
                    state, mode="overwrite", idempotency_token=token,
                    retry=False, op_info=op_metrics,
                    changes_df=changes_df,
                    # dim stats on classic commits too (r15): a later
                    # refresh crossing the CoW size bar must not find a
                    # stats-blind layout
                    stats_cols=_dim_stats_cols(
                        spark, state.schema, dim_names
                    ) or None,
                )
            if (
                rebuild_advisory_bytes > 0
                and src.visible_bytes(rebuild_advisory_bytes)
                < rebuild_advisory_bytes
            ):
                warnings.warn(
                    "refresh_rollup: source is smaller than "
                    f"{rebuild_advisory_bytes >> 20} MiB — below the measured "
                    "~1M-row crossover a full rebuild is typically faster "
                    "than the incremental merge (SCALING.md, r9: 0.93x at "
                    "sf1); consider full_rebuild=True for small sources",
                    RuntimeWarning,
                    stacklevel=2,
                )
            delta = src.row_changes(reflected, v_src)  # fails loud across
            # UNRECORDED rewrites; recorded ones arrive as tagged rows
            if retractions:
                partial = _signed_aggregate(delta, dims, internal)
            else:
                partial = _aggregate(
                    delta.drop(CHANGE_TYPE_COL, CHANGE_VERSION_COL),
                    dims,
                    internal,
                )
            dim_names = partial.columns[: len(dims)]
            touched = (
                partial.select(*dim_names)
                .distinct()
                .localCheckpoint(eager=True)
                if dims and (use_cow or rec_changes)
                else None
            )
            # Merge shape (r14 measured, r15 resolved): the r14
            # "spliced" merge — touched-only re-merge with the classic
            # full-state OVERWRITE — measured 1.47×/1.51× SLOWER at
            # 1M/10M-group rollups because the rollup-sized state WRITE
            # dominated (SCALING.md "Measured and rejected"). The CoW
            # path below is that measurement's named fix: the SAME
            # touched-only merge, but committed via merge_keyed so the
            # write shrinks to the touched files too. The classic full
            # merge+overwrite remains the small-rollup shape (below
            # COW_REFRESH_MIN_BYTES the probe chain costs more than the
            # small write it saves).
            if use_cow:
                # touched groups' current rows live ONLY in files whose
                # dim stats admit a touched key — prune the read (r15):
                # with this, every term of the CoW refresh is
                # touched-sized (read, merge, change rows, write)
                cur_pruned, n_cand, n_files = _rollup_touched_read(
                    spark, roll, touched
                )
                if cow == "auto" and n_files > 1 and \
                        n_cand > n_files * COW_AUTO_MAX_CANDIDATE_FRACTION:
                    use_cow = False  # spread window: CoW rewrites most
                    # files anyway and measured 0.40-0.81x of classic
            if use_cow:
                cur_touched = _semi_on_dims(cur_pruned, touched, dim_names)
                merged = _merge(
                    cur_touched.unionByName(partial), dim_names, internal
                )
            else:
                merged = _merge(
                    current.unionByName(partial), dim_names, internal
                )
            # NULL-sum exactness (r11): a sum whose non-null counter hit
            # zero reads NULL — bit-equal to a from-scratch SQL SUM over
            # the surviving (all-NULL or empty) group
            for name, (fn, _c) in measures.items():
                if fn == "sum":
                    nn = F.col(f"{_NN_PREFIX}{name}")
                    merged = merged.withColumn(
                        name,
                        F.when(nn == 0, F.lit(None)).otherwise(F.col(name)),
                    )
            merged = merged.localCheckpoint(eager=True)  # don't derive the
            # new files from a plan that still reads the rollup version
            # being replaced
            if retractions:
                count_col = next(
                    name
                    for name, (fn, _c) in measures.items()
                    if fn == "count"
                )
                if merged.filter(F.col(count_col) < 0).take(1):
                    raise RuntimeError(
                        "refresh_rollup: merged row count went negative — "
                        "the change feed retracted rows the rollup never "
                        "saw (was the rollup bootstrapped from a different "
                        "source version?); full_rebuild=True recovers"
                    )
                merged = merged.filter(F.col(count_col) > 0)
            changes_df = None
            if rec_changes:
                # the rollup's OWN row delta (r14): touched groups from
                # the already-computed partial, classified against the
                # pre-refresh state — delta-sized (old side pruned to
                # the touched files under CoW)
                changes_df = _rollup_change_rows(
                    spark, cur_touched if use_cow else current,
                    merged, dim_names, touched,
                    drop_unchanged=deterministic,
                )
            op_info = {
                "op": "rollup_refresh",
                "mode": "retract" if retractions else "incremental",
                "source": src.path,
            }
            if use_cow:
                op_info["cow"] = True
                return roll.merge_keyed(
                    merged, dim_names, touched,
                    idempotency_token=token, op_info=op_info,
                    changes_df=changes_df,
                    stats_cols=_dim_stats_cols(
                        spark, merged.schema, dim_names
                    ) or None,
                    expect_version=base_v,
                )
            return roll.commit(
                merged, mode="overwrite", idempotency_token=token, retry=False,
                op_info=op_info,
                changes_df=changes_df,
                stats_cols=_dim_stats_cols(
                    spark, merged.schema, dim_names
                ) or None,
            )
        except CommitConflict as e:
            last_err = e
    raise last_err


class _Rollup(TableLayout):
    """A rollup under ``table.maintain``: the measured rebuild-vs-refresh
    decision tree as its classifier, ``refresh_rollup`` as both verbs,
    and the plain-table layout leg on the ROLLUP's own table (CoW
    refreshes stack patch files, classic ones land shuffle-many small
    files). A rebuild here is a plain overwrite, not a clustering, so
    the layout probe still runs after one."""

    what = "rollup"

    def __init__(self, spark, source_path, rollup_path, dims, measures,
                 rebuild_below_bytes, group_local_below_bytes,
                 monotone_dims, record_changes, cow, maintain_layout):
        super().__init__(VersionedTable(spark, rollup_path))
        self.spark = spark
        self.src = VersionedTable(spark, source_path)
        self.dims, self.measures = dims, measures
        self.rebuild_below_bytes = rebuild_below_bytes
        self.group_local_below_bytes = group_local_below_bytes
        self.monotone_dims = monotone_dims
        self.record_changes, self.cow = record_changes, cow
        self.maintain_layout = maintain_layout
        self.mode = self.predicted = None

    def classify(self, dry_run):
        src_latest = self.src.manifest()
        if src_latest is None:
            raise FileNotFoundError(f"no committed source at {self.src.path}")
        mono_map = _monotone_map(self.dims, self.monotone_dims)  # loud
        v_src = src_latest["version"]
        # + source-identity check: a rollup of a DIFFERENT table fails
        reflected = _reflected_version(self.vt, self.src.path)
        choice, self.mode, reason = self._decide(reflected, v_src)
        reasons = [reason]
        if dry_run:
            reasons += self._predict(reflected, v_src, mono_map, choice)
        return choice, reasons

    def _decide(self, reflected, v_src) -> tuple:
        """The decision tree: ``(choice, predicted mode, reason)``."""
        import json as _json

        src, measures = self.src, self.measures
        if reflected is not None and reflected >= v_src:
            return None, None, (
                f"rollup reflects v{reflected} >= source v{v_src} — "
                "current, no action"
            )
        if reflected is None:
            return "rebuild", "rebuild", (
                "no rollup yet — bootstrap aggregates the full snapshot"
            )
        if reflected not in src.versions():
            # the source vacuumed past the reflected version without the
            # consumer registry: the window is unwalkable
            return "rebuild", "rebuild", (
                f"source v{reflected} (the rollup's reflected version) was "
                "vacuumed away — the catch-up window is unreadable; "
                "rebuild from the current snapshot (size vacuum retention "
                'with respect_consumers="auto" to avoid this)'
            )
        stored_cols = {
            f["name"]
            for f in _json.loads(self.vt.manifest()["schema"])["fields"]
        }
        if any(c not in stored_cols for c in _expand_measures(measures)):
            return "rebuild", "rebuild", (
                "stored rollup predates the per-sum non-null counters "
                "(pre-r11 schema) — one rebuild migrates it"
            )
        retractions, unrecorded = _classify_window(src, reflected, v_src)
        if unrecorded:
            return "rebuild", "rebuild", (
                "a commit in the window replaced files without recording "
                "change rows (plain overwrite / pre-r10 history) — the row "
                "delta is undefined, rebuild from the snapshot"
            )
        non_retract = sorted(
            n for n, (fn, _c) in measures.items() if fn not in _RETRACTABLE
        )
        has_count = any(fn == "count" for fn, _c in measures.values())
        if retractions and (non_retract or not has_count):
            why = (f"non-retractable measures {non_retract}" if non_retract
                   else "no count measure")
            gl = self.group_local_below_bytes
            if not self.dims:
                # a GLOBAL spec's "group-local" IS the full rebuild
                return "rebuild", "rebuild", (
                    f"rewrite window with {why} on a GLOBAL spec "
                    "(dims=[]) — one group IS the whole table; rebuild"
                )
            if src.visible_bytes(gl) < gl:
                return "rebuild", "rebuild", (
                    f"rewrite window with {why} and source < {gl >> 20} "
                    "MiB — below the measured ~20M-row crossover the "
                    "group-local path's fixed job chain loses to a plain "
                    "re-aggregate (SCALING.md r12)"
                )
            return "refresh", "group_local", (
                f"rewrite window with {why} and source >= {gl >> 20} MiB "
                "— re-aggregate only the touched groups (stats-pruned, "
                "r12/r13)"
            )
        rb = self.rebuild_below_bytes
        if src.visible_bytes(rb) < rb:
            return "rebuild", "rebuild", (
                f"source < {rb >> 20} MiB — below the measured ~1M-row "
                "crossover a full rebuild beats the incremental merge's "
                "fixed costs (SCALING.md r9: 0.93x at sf1)"
            )
        mode = "retract" if retractions else "incremental"
        return "refresh", mode, (
            f"{'recorded rewrites' if retractions else 'appends only'} in "
            f"(v{reflected}, v{v_src}] and source >= {rb >> 20} MiB — "
            f"{mode} refresh at delta cost"
        )

    def _predict(self, reflected, v_src, mono_map, choice) -> list[str]:
        """Dry-run cost claims, from the delta change rows and manifest
        stats only: the group-local pruning walk the refresh would run
        (files it would read), and the commit shape (CoW or not, and
        how many rollup files it would touch)."""
        spark, src, dims, cow = self.spark, self.src, self.dims, self.cow
        reasons = []
        if self.mode == "group_local" or (choice == "refresh" and dims):
            # the window's distinct touched dims, built once for both
            # claims: one change-feed read, one distinct shuffle
            touched = (
                src.row_changes(reflected, v_src)
                .select(*[F.expr(d) for d in dims])
                .distinct()
                .localCheckpoint(eager=True)
            )
        if self.mode == "group_local":
            dim_tmp = [f"__gl_d{i}" for i in range(len(dims))]
            keys = touched.toDF(*dim_tmp)
            n_groups = keys.count()
            small = n_groups <= _GROUP_KEYS_COLLECT_MAX
            pruned, files, _schema = _prune_candidates(
                spark, src, v_src, dims, dim_tmp,
                keys if small else None, mono_map,
            )
            self.predicted = {
                "files_read": len(pruned),
                "files_total": len(files),
                "groups_touched": n_groups,
            }
            reasons.append(
                f"group-local would read {len(pruned)}/{len(files)} "
                f"source file(s) for {n_groups} touched group(s)"
            )
        if choice == "refresh" and dims:
            will_cow = cow if isinstance(cow, bool) else (
                self.vt.visible_bytes(COW_REFRESH_MIN_BYTES)
                >= COW_REFRESH_MIN_BYTES
            )
            n_cand = n_rfiles = None
            if will_cow:
                _df, n_cand, n_rfiles = _rollup_touched_read(
                    spark, self.vt, touched
                )
                if cow == "auto" and n_rfiles > 1 and \
                        n_cand > n_rfiles * COW_AUTO_MAX_CANDIDATE_FRACTION:
                    will_cow = False
            self.predicted = dict(self.predicted or {}, cow=will_cow)
            if n_cand is not None:
                self.predicted["rollup_files_candidates"] = n_cand
                self.predicted["rollup_files_total"] = n_rfiles
                reasons.append(
                    ("CoW commit: rewrite ~" if will_cow
                     else "CoW stands down (spread window): candidates ")
                    + f"{n_cand}/{n_rfiles} rollup file(s)"
                )
            else:
                reasons.append(
                    "classic overwrite commit (rollup below "
                    f"{COW_REFRESH_MIN_BYTES >> 20} MiB or cow=False)"
                )
        return reasons

    def run(self, action):
        refresh_rollup(
            self.spark, self.src.path, self.vt.path, self.dims,
            self.measures,
            full_rebuild=(action == "rebuild"),
            rebuild_advisory_bytes=0,  # the policy IS the decision
            monotone_dims=self.monotone_dims,
            record_changes=self.record_changes,
            cow=self.cow,
        )
        # .get("op"): a token-replay / already-current return can land on
        # a manifest committed WITHOUT op_info — the prediction stands in
        self.mode = (self.vt.manifest().get("op") or {}).get("mode",
                                                             self.mode)

    def layout(self):
        if not self.maintain_layout or self.vt.manifest() is None:
            return None, None
        return super().layout()


def maintain_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    dims: list[str],
    measures: dict[str, tuple[str, str | None]],
    dry_run: bool = False,
    rebuild_below_bytes: int = REBUILD_ADVISORY_BYTES,
    group_local_below_bytes: int = GROUP_LOCAL_ADVISORY_BYTES,
    monotone_dims: dict[str, str] | None = None,
    vacuum_retain_last: int | None = None,
    record_changes: "bool | str" = "auto",
    cow: "bool | str" = "auto",
    maintain_layout: bool = True,
) -> dict:
    """``table.maintain`` for a rollup, with the measured SCALING.md
    decision table as its content classifier (manifest-only):

    - rollup already reflects the source's latest version → no action;
    - no rollup yet, a pre-r11 stored schema (no per-sum non-null
      counters), a reflected version vacuumed off the source, or a
      window commit that replaced files WITHOUT recording change rows
      → rebuild;
    - a recorded rewrite window on a spec with non-retractable measures
      (min/max/HLL) or no count measure → rebuild below
      ``group_local_below_bytes`` (the measured ~20M-row crossover) or
      for a global spec, group-local refresh above it;
    - otherwise → rebuild below ``rebuild_below_bytes`` (the ~1M-row
      crossover, r9: 0.93x at sf1), incremental / retract refresh above.

    ``monotone_dims``, ``record_changes`` and ``cow`` pass through to
    ``refresh_rollup``. ``maintain_layout=False`` skips the layout leg
    (the plain-table probe on the rollup's own table; its reasons are
    prefixed ``layout:``). The vacuum honors the rollup's own consumers
    (e.g. a replica of it). A dry run also reports ``predicted``: the
    group-local files it would read and the CoW commit shape. Returns
    ``{"actions", "reasons", "mode", "dry_run"[, "rollup_version",
    "predicted"]}``, ``mode`` being the predicted refresh mode (on a
    real run, the mode the committed manifest recorded)."""
    if record_changes not in (True, False, "auto"):
        raise ValueError(
            f"record_changes must be True, False or 'auto', got "
            f"{record_changes!r}"
        )
    if cow not in (True, False, "auto"):
        raise ValueError(f"cow must be True, False or 'auto', got {cow!r}")
    art = _Rollup(spark, source_path, rollup_path, dims, measures,
                  rebuild_below_bytes, group_local_below_bytes,
                  monotone_dims, record_changes, cow, maintain_layout)
    rep = maintain(art, dry_run=dry_run,
                   vacuum_retain_last=vacuum_retain_last)
    out = {"actions": rep["actions"], "reasons": rep["reasons"],
           "mode": art.mode, "dry_run": dry_run}
    if not dry_run:
        man = art.vt.manifest()
        out["rollup_version"] = man["version"] if man else None
    elif art.predicted is not None:
        out["predicted"] = art.predicted
    return out


def verify_replica(
    spark: SparkSession,
    rollup_path: str,
    replica_path: str,
    measures: dict,
) -> dict:
    """CONTENT-equality verifier for a replica of a rollup (r15, VERDICT
    r14 #5): compares the two tables' FINALIZED frames — HLL sketch
    columns through their point estimates (``finalize_rollup``, the
    documented read path), every deterministic measure exactly — so the
    delta-sync contract ("content-equal, not necessarily byte-equal on
    sketch columns; file sets always differ") is operator-checkable.
    An operator diffing parquet files or file hashes between a rollup
    and its replica will ALWAYS false-alarm (a replica's files are its
    own commits); this is the check to run instead.

    Returns ``{"equal", "rows_rollup", "rows_replica",
    "only_in_rollup", "only_in_replica"}`` where the ``only_*`` counts
    are finalized rows present on one side and not the other
    (multiset ``exceptAll`` — NULL-safe, duplicate-aware). Cost shape
    (r16): each finalized frame is CACHED for the audit's duration and
    scanned once — the count and the two exceptAll legs previously
    recomputed the finalize (HLL estimates included) three times per
    side (VERDICT r15 "What's wrong"); the cache is released before
    returning, so nothing persists across calls. Still a verifier's
    cost — run it like a consistency audit, not per sync."""
    a = finalize_rollup(VersionedTable(spark, rollup_path).read(), measures)
    b = finalize_rollup(VersionedTable(spark, replica_path).read(), measures)
    a = a.persist()
    b = b.persist()
    try:
        if set(a.columns) != set(b.columns):
            return {
                "equal": False,
                "rows_rollup": a.count(),
                "rows_replica": b.count(),
                "only_in_rollup": -1,
                "only_in_replica": -1,
                "schema_mismatch": sorted(
                    set(a.columns) ^ set(b.columns)
                ),
            }
        b_aligned = b.select(*a.columns)
        only_roll = a.exceptAll(b_aligned).count()
        only_repl = b_aligned.exceptAll(a).count()
        return {
            "equal": only_roll == 0 and only_repl == 0,
            "rows_rollup": a.count(),
            "rows_replica": b.count(),
            "only_in_rollup": only_roll,
            "only_in_replica": only_repl,
        }
    finally:
        a.unpersist()
        b.unpersist()
