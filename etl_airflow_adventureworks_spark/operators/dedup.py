"""Deduplication operators (SURVEY.md §2.9 E1/E2 + charter dedup family).

The LLM-pipeline dedup ladder over ``documents``:

- exact      — hash-groupBy on content digest (E1); one shuffle on the hash.
- n-gram     — exact Jaccard over 3-token shingles via an inverted-index
               self-join (the scalable exact algorithm: shuffle on shingle,
               never a cross join); DuckDB-oracle-checked.
- MinHash    — 32-permutation signatures, 16 bands × 2 rows LSH banding,
               in-bucket pair expansion for candidates, exact-Jaccard
               verify (E2).
- SimHash    — 64-bit fingerprints from token multisets, 16-bit band
               buckets, Hamming ≤ 3 filter.
- embedding  — blocked exact cosine over the embeddings table (label
               blocking ≈ cluster blocking; the shuffle key is the block).

Every signature/banding step is a native Catalyst expression (crc32 /
xxhash64 / higher-order functions) — zero Python UDFs. MinHash/SimHash use
Spark-side hash primitives DuckDB lacks, so those two are declared without
oracles (rows-only check, per the driver contract); their ground truth is
``ext_ngram_jaccard``, which IS oracle-checked and finds the same planted
near-dup pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm, to_double_array
from ..registry import query
from ..sources import load_table

#: tokenize + 3-token shingle set (distinct) — same fragments as textops.
_TOK = r"split(trim(text), '\\s+')"


def _tok_expr(col: str) -> str:
    """Whitespace tokenizer over an arbitrary column (same semantics as
    ``_TOK``)."""
    return rf"split(trim({col}), '\\s+')"
_SHINGLES = (
    "array_distinct(transform(sequence(0, greatest(size(t) - 3, 0)),"
    " i -> concat_ws(' ', slice(t, i + 1, 3))))"
)
_TOK_DUCK = r"string_split_regex(trim(text), '\s+')"
_SHINGLES_DUCK = (
    "list_distinct([array_to_string(t[i + 1 : i + 3], ' ')"
    " for i in range(0, greatest(len(t) - 3, 0) + 1)])"
)

JACCARD_THRESHOLD = 0.3

# MinHash parameters — fixed seed, generated once at import (deterministic).
_MERSENNE_P = 4294967311  # prime > 2^32
_N_PERM = 32
_N_BANDS = 16  # 16 bands x 2 rows → LSH threshold ≈ (1/16)^(1/2) ≈ 0.25
_rng = random.Random(42)
# coefficients < 2^30 so a*h+b stays under 2^63 for h < p ≈ 2^32+15
# (ANSI overflow-safe): (2^30-1)·(p-1) + 2^30 ≈ 4.6e18 < Long.MAX.
_PERM_A = [_rng.randrange(1, 1 << 30) for _ in range(_N_PERM)]
_PERM_B = [_rng.randrange(0, 1 << 30) for _ in range(_N_PERM)]


@query(
    "ext_exact_dedup_docs",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def ext_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (E1): keep the lowest doc_id per content digest.
    Hash-groupBy shape — one shuffle on the 128-bit digest, which is also
    the 100 TB strategy (hash first, never compare full text twice)."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"{_TOK} AS t")
        .selectExpr("doc_id", f"{_SHINGLES} AS shingles")
    )


#: DuckDB oracle for exact shingle-Jaccard pairs (shared by the declared
#: prefix-filtered query and the naive library twin — same exact result).
_NGRAM_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_DUCK} AS shingles
      FROM (SELECT doc_id, {_TOK_DUCK} AS t FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
"""


def ngram_jaccard_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the NAIVE inverted-index
    self-join — explode distinct shingles, shuffle on shingle (never a cross
    join), count shared shingles per pair, then |A∩B|/(|A|+|B|-|A∩B|) ≥ t.

    Library twin of the declared ``ext_ngram_jaccard`` (prefix-filtered):
    result-identical (asserted in tests), slightly faster on this synthetic
    tiny-vocab corpus, but quadratic in candidate pairs on Zipfian corpora
    where common shingles collide — the declared query uses the
    prefix-filtered form because that one survives 100 TB.
    """
    sh = _shingle_sets(spark, sf_dir)
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    # array_compact barrier: see minhash_signatures (explode would otherwise
    # re-evaluate the shingle transform per exploded element)
    inv = sh.select("doc_id", F.explode(F.array_compact("shingles")).alias("s"))
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    # sizes is one row per DOCUMENT — corpus-growing, so no forced broadcast
    # (same reasoning as the declared query's verify joins above); merge keeps
    # the plan shape scale-invariant
    return (
        pairs.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query("ext_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED exact Jaccard join (AllPairs-style) — the 100 TB
    candidate-generation strategy for realistic (Zipfian) corpora:

    1. global shingle order = (document frequency asc, shingle): rare first;
    2. each doc indexes only its first |A| − ⌈t·|A|⌉ + 1 shingles in that
       order — any pair with Jaccard ≥ t MUST share a prefix shingle
       (overlap ≥ ⌈t·|A|⌉, pigeonhole on the sorted sets), so candidate
       generation skips the common-shingle quadratic blowup;
    3. candidates verify with the FULL exact Jaccard via array_intersect.

    Result-identical to ``ngram_jaccard_naive`` (asserted in tests), which
    is marginally faster on this tiny-vocab synthetic corpus but quadratic
    on Zipfian data — the declared query is the scale-safe form.

    Shuffle budget (the round-2 version paid ~4 avoidable ones): the
    document-frequency table is a vocab-sized aggregate, joined back onto
    the inverted index with NO broadcast hint — AQE broadcasts it at local
    scale (verified in the plan), while at 100 TB distinct-shingle vocab
    grows ~linearly with the corpus and would blow Spark's 8 GB broadcast
    cap, so the unhinted join degrades gracefully to a shuffle join there;
    the per-doc prefix is ONE groupBy(doc_id) into a (df, h)-sorted array,
    sliced and re-exploded — replacing two doc_id windows; and candidates
    come from in-bucket pair expansion (groupBy(h) on the prefix index —
    the prefix pipeline executes once; a self-join would run it twice).

    Candidates additionally pass the AllPairs LENGTH filter before the
    verify join: Jaccard ≥ t implies min(|A|,|B|) ≥ t·max(|A|,|B|), and the
    per-doc distinct-shingle count is already on the prefix index, so pairs
    of very different sizes are dropped in-bucket for free (a 1e-9 slack
    keeps float rounding from ever pruning a true boundary pair; final
    exactness still comes from the full-Jaccard verify).

    Shingle identity is the 64-bit xxhash64 of the shingle string, end to
    end: long-array intersections verify ~10× faster than string arrays
    (measured 23 s → 5 s at sf0.1) and the inverted index shuffles fixed-
    width keys. Exactness: the AllPairs prefix guarantee holds for ANY
    consistent global total order, so ordering by (df, hash) instead of
    (df, string) changes candidates but never survivors; a hash collision
    perturbs one pair's Jaccard with probability ≈ |A∪B|²/2⁶⁵ (immaterial
    at any realistic corpus size — and why crc32 would NOT be safe here)."""
    sh = xxhash_shingle_sets(spark, sf_dir)
    cand = ngram_prefix_candidates(sh)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    # verify joins: FORCED sort-merge (r4-r15; shuffle_hash in r16 only —
    # REVERTED r17). The doc→shingle-array table is the one shape AQE
    # mis-sizes: its broadcast decision uses compressed shuffle bytes, but
    # a long-array payload deserializes 10-50× larger — measured at 100×
    # data (500k docs), AQE saw a "small" side, tried to broadcast it, and
    # OOM'd an 8 GB driver building a multi-GB relation. A hint must
    # therefore stay. r16's switch to shuffle_hash rested on a same-session
    # win that did NOT survive controlled measurement: under the bench
    # protocol SHJ is parity at sf0.1 (10 alternating fresh-JVM pairs,
    # plans/r17/ab_unconfirmed_five.json + ab_dedup_three.json) and
    # slightly SLOWER at 10×/100× data (SHJ/SMJ 1.29 at sf1, 1.06 at sf10
    # — plans/r17/shj_vs_smj_sf{1,10}.json), so the hint went back to
    # merge: SMJ degrades by SPILLING when a partition outgrows memory,
    # while a hinted SHJ build cannot spill. The minhash verify below
    # keeps SHJ — it DID measure faster there (see its note for the
    # partition-sizing invariant). Both sides still shuffle on the doc key
    # (no broadcast anywhere — the mid-scale cliff stays closed).
    return (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def xxhash_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hh) — distinct 3-token shingles as xxhash64 longs, the
    shingle identity used end to end by ``ext_ngram_jaccard`` (long-array
    intersections verify ~10× faster than string arrays)."""
    return (
        load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"{_TOK} AS t")
        .selectExpr("doc_id", f"transform({_SHINGLES}, x -> xxhash64(x)) AS hh")
    )


def ngram_prefix_candidates(
    sh: DataFrame,
    length_filter: bool = True,
    positional_filter: bool = True,
    threshold: float = JACCARD_THRESHOLD,
    pair_filter: str | None = None,
) -> DataFrame:
    """AllPairs/PPJoin candidate generation over hashed shingle sets
    ``(doc_id, hh)`` → distinct ``(doc_a, doc_b)`` pairs guaranteed to
    contain every pair with Jaccard ≥ t (prefix pigeonhole), exposed
    separately so tests can measure candidate volume on adversarial
    (Zipfian) corpora. ``length_filter=False`` / ``positional_filter=False``
    disable the min≥t·max size prune and the PPJoin positional prune
    (used only to quantify their reduction — production always filters).
    ``threshold`` overrides the module default t; ``pair_filter`` is an
    optional SQL predicate over the expanded ``pair`` struct
    (doc_a/doc_b/n_a/n_b/pos_a/pos_b), applied CODEGEN'D right at pair
    expansion — before any shuffle — so structural prunes (e.g. the
    cross-table-only rule of ``text_similarity_join``) cost nothing.
    ``doc_id`` may be any orderable type, including a struct key.

    Positional filter (PPJoin, Xiao et al.): Jaccard ≥ t needs overlap
    ≥ t/(1+t)·(|A|+|B|), and at the pair's FIRST shared prefix element —
    1-based positions (i*, j*) in the two (df, h)-sorted arrays — the
    overlap is ≤ 1 + min(|A|−i*, |B|−j*). That tight bound is valid
    exactly at the first occurrence: both arrays are sorted by the same
    global order, so a common element before i* in A would sit before j*
    in B and inside both prefixes, contradicting firstness. The pair
    expansion therefore aggregates min(pos) per (doc_a, doc_b) — the same
    shuffle the old distinct paid, now with map-side combine — and prunes
    on the bound; a looser per-occurrence form (adding the min(i−1, j−1)
    common-before allowance, valid everywhere) runs pre-shuffle. Neither
    can lose a true pair; exactness still comes from the Jaccard verify."""
    inv = sh.select("doc_id", F.explode(F.array_compact("hh")).alias("h"))
    # Document frequency via a WINDOW over h (r16, guide §2.4) instead of
    # the old groupBy(h)+join-back. History: round 3 left the df join
    # unhinted, round 4 forced sort-merge after AQE's broadcast was slower
    # locally AND OOM'd the driver at sf10 (broadcast side is an aggregate
    # that must finish+collect before the probe starts). The window form
    # strictly dominates both: ONE shuffle of the postings by h — the same
    # exchange the join's probe side already paid — with no aggregate
    # table, no second sort, no join at all (measured 1.9 s → 1.2 s
    # candidate phase at sf0.1; full query 4.5 s → 3.0 s). At 100 TB the
    # work per partition is a sorted count over that partition's postings,
    # identical asymptotics to the old SMJ's partition sort.
    from pyspark.sql import Window

    ranked = inv.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    # prefix length |A| - ceil(t·|A|) + 1 over the rare-first (df, h) order,
    # built array-side: sort_array on (df, h) structs == the old window's
    # orderBy; array_compact is the explode-inlining barrier (see
    # minhash_signatures).
    prefix = (
        ranked.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("arr"))
        .selectExpr(
            "doc_id",
            "size(arr) AS n",
            # posexplode: the 1-based position inside the sorted array is
            # the PPJoin positional-filter input (slice starts at 1, so the
            # prefix position IS the full-array position)
            "posexplode(array_compact(transform("
            f" slice(arr, 1, size(arr) - CAST(ceil({threshold}D * size(arr)) AS INT) + 1),"
            " x -> x.h))) AS (p0, h)",
        )
        .selectExpr("doc_id", "n", "p0 + 1 AS pos", "h")
    )
    # pair expansion carries both sizes + prefix positions so the length and
    # positional prunes run as CODEGEN'D column predicates on the exploded
    # stream (pipelined before the distinct's shuffle) — measured 0.4 s
    # faster at sf0.1 than the same prune as an interpreted lambda inside
    # the transform.
    expanded = (
        prefix.groupBy("h")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "n", "pos"))).alias("ids"))
        .filter(F.size("ids") > 1)
        .selectExpr(
            "explode(flatten(transform(sequence(1, size(ids) - 1),"
            " i -> transform(slice(ids, i + 1, size(ids) - i),"
            " y -> named_struct('doc_a', element_at(ids, i).doc_id,"
            "                   'n_a', element_at(ids, i).n,"
            "                   'pos_a', element_at(ids, i).pos,"
            "                   'doc_b', y.doc_id, 'n_b', y.n,"
            "                   'pos_b', y.pos))))) AS pair"
        )
    )
    if pair_filter:
        expanded = expanded.filter(F.expr(pair_filter))
    if length_filter:
        expanded = expanded.filter(
            F.expr(
                "least(pair.n_a, pair.n_b) + 1e-9D"
                f" >= {threshold}D * greatest(pair.n_a, pair.n_b)"
            )
        )
    if not positional_filter:
        return expanded.select("pair.doc_a", "pair.doc_b").distinct()
    frac = threshold / (1.0 + threshold)
    # loose per-occurrence prune BEFORE the pair shuffle (valid at any
    # occurrence: min(i−1, j−1) possible common elements before + this one
    # + min tail); cheap codegen predicate, trims the shuffle volume
    expanded = expanded.filter(
        F.expr(
            "least(pair.pos_a, pair.pos_b)"
            " + least(pair.n_a - pair.pos_a, pair.n_b - pair.pos_b)"
            f" + 1e-9D >= {frac!r}D * (pair.n_a + pair.n_b)"
        )
    )
    # tight PPJoin bound at the pair's FIRST shared prefix element: the
    # same-global-order argument above means min(pos_a) and min(pos_b) both
    # come from that first occurrence (positions increase together), so
    # min-aggregating per pair — the shuffle the old distinct already
    # paid, now map-side combined — yields (i*, j*) exactly.
    return (
        expanded.groupBy("pair.doc_a", "pair.doc_b")
        .agg(
            F.min("pair.pos_a").alias("pos_a"),
            F.min("pair.pos_b").alias("pos_b"),
            F.first("pair.n_a").alias("n_a"),
            F.first("pair.n_b").alias("n_b"),
        )
        .filter(
            F.expr(
                "1 + least(n_a - pos_a, n_b - pos_b) + 1e-9D"
                f" >= {frac!r}D * (n_a + n_b)"
            )
        )
        .select("doc_a", "doc_b")
    )


def hashed_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-token shingles as combined token-hash longs — no string
    concatenation. Shingle identity = crc32 of each token combined with a
    polynomial (h1·1000003 + h2·31 + h3); for MinHash the shingle only needs
    a stable 64-bit identity, so skipping the string build makes shingling
    ~4× cheaper. try_element_at pads short docs (<3 tokens) with 0."""
    return hashed_shingle_sets_df(load_table(spark, sf_dir, "documents"))


def hashed_shingle_sets_df(docs: DataFrame) -> DataFrame:
    """``hashed_shingle_sets`` over an arbitrary (doc_id, text) frame."""
    return with_hashed_shingles(docs.select("doc_id", "text")).select("doc_id", "hh")


def with_hashed_shingles(docs: DataFrame) -> DataFrame:
    """``docs`` plus ``hh``, its ``text``'s ``hashed_shingle_sets``."""
    return (
        docs
        .selectExpr(
            "*",
            # pad with two zero-hashes so every window read is in range
            f"concat(transform({_TOK}, x -> crc32(x)), array(0L, 0L)) AS th",
        )
        .selectExpr(
            "*",
            "array_distinct(transform(sequence(0, greatest(size(th) - 5, 0)),"
            f" i -> pmod(element_at(th, i + 1) * 1000003L"
            "       + element_at(th, i + 2) * 31L"
            f"       + element_at(th, i + 3), {_MERSENNE_P}L))) AS hh",
        )
        .drop("th")
    )


def minhash_signatures(hashed_sets: DataFrame) -> DataFrame:
    """32-permutation MinHash signature columns s0..s31 per doc_id:
    sig[i] = min over shingle hashes of (a_i*h+b_i) mod p (the standard
    (a*x+b) mod p universal-hash family).

    Shape: explode hashed shingles → ONE hash aggregation with 32 min()
    columns. Entirely whole-stage-codegen'd (no higher-order-function
    interpretation), with map-side partial mins — the signature build is a
    single shuffle of (doc_id, 32 longs) however large the corpus. ~8×
    faster than the per-row aggregate() fold form.
    """
    from pyspark.sql import functions as FF

    # array_compact is a semantic no-op (hh has no nulls) that stops the
    # optimizer from inlining the shingle-building transform() into the
    # generator, which would re-evaluate it per exploded element (O(n²)
    # per doc — observed 12.5 s vs 0.9 s at sf0.1).
    hashed = hashed_sets.selectExpr("doc_id", "explode(array_compact(hh)) AS h")
    # plain % not pmod (r16): h = pmod(..) ≥ 0 and a,b > 0, so a·h+b is
    # non-negative and % ≡ pmod — minus pmod's sign-fix branch in the
    # 32-column hot loop (value-identical, asserted in tests).
    aggs = [
        FF.min(FF.expr(f"({a}L * h + {b}L) % {_MERSENNE_P}L")).alias(f"s{i}")
        for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


@query("ext_minhash_neardup")  # Spark-side hashes (crc32) → rows-only check
def ext_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (E2): shingle → 32-perm signature →
    16×2 banding → band-key self-join for candidates → exact-Jaccard
    verification. The banding join is the scale path: candidates shuffle on
    (band_idx, band_key), so work is proportional to collisions, not n².
    Ground truth twin: ext_ngram_jaccard (oracle-checked)."""
    return minhash_neardup_pairs(hashed_shingle_sets(spark, sf_dir))


def minhash_neardup_pairs(sh: DataFrame) -> DataFrame:
    """DataFrame-level form of ``ext_minhash_neardup`` over prepared hashed
    shingle sets (``hashed_shingle_sets`` / ``hashed_shingle_sets_df``) —
    identical plan; used by the curation pipeline on arbitrary corpora."""
    sig = minhash_signatures(sh)
    band_keys = ", ".join(
        f"concat(s{2 * b}, ',', s{2 * b + 1})" for b in range(_N_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id", f"posexplode(array({band_keys})) AS (band_idx, band_key)"
    )
    # candidate pairs WITHOUT a self-join (a self-join would execute the
    # signature pipeline twice): group each LSH bucket, expand in-bucket
    # pairs. Buckets are tiny (collisions only), so the expansion is cheap
    # and the signature build runs exactly once.
    cand = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .selectExpr(
            "explode(flatten(transform(sequence(1, size(ids) - 1),"
            " i -> transform(slice(ids, i + 1, size(ids) - i),"
            " y -> named_struct('doc_a', element_at(ids, i), 'doc_b', y))))) AS pair"
        )
        .select("pair.doc_a", "pair.doc_b")
        .distinct()
    )
    # exact-Jaccard verify on the hashed shingle sets (collision probability
    # ~|A||B|/2^32 — immaterial for the accept/reject decision). Forced
    # shuffled-hash (r16, CONFIRMED r17; sort-merge r4-r15): the
    # shingle-array side deserializes 10-50× its compressed shuffle size,
    # so an AQE broadcast decision here is a mid-scale driver OOM (see
    # ext_ngram_jaccard's verify-join note for the measurement) — a hint
    # must stay; SHJ builds on the doc side and skips sorting the pair
    # side. r17 re-measured SHJ-vs-SMJ per the r4 protocol
    # (plans/r17/shj_vs_smj_sf{1,10}.json): SHJ/SMJ 0.95 at sf1, 0.88 at
    # sf10, with the build side at 7.4 MB max per partition at 500k docs
    # over 32 partitions. INVARIANT a hinted SHJ build relies on (it
    # cannot spill): per-partition build bytes = |docs|·~450 B /
    # shuffle-partitions, so shuffle partitions must scale with the
    # corpus. They do under any sane sizing: the PAIR side — which is what
    # partition-count tuning targets, since it outnumbers docs 65:1 here —
    # grows at least linearly with docs, so partitions sized for pairs
    # (~128 MB-1 GB each, guide §2.2) keep the doc-side build far below a
    # task's memory budget. A deployment that pins a small constant
    # partition count on a growing corpus must revert this hint to merge.
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc from the token multiset: per-bit ±1 votes
    weighted by each token's xxhash64 bits, sign → bit.

    Shape: explode tokens → xxhash64 once per token → ONE hash aggregation
    with 64 set-bit counts + the token count → bit assembly. The ±1 vote
    sum is recovered arithmetically (r16): v_j = 2·c_j − n where c_j is
    the set-bit count, so the hot per-row aggregate update is a
    shift-and-mask instead of a branch (measured 1.46 s → 0.67 s at
    sf0.1, identical fingerprints). Codegen'd end to end; one shuffle of
    (doc_id, 64 ints)."""
    return simhash_fingerprints_df(load_table(spark, sf_dir, "documents"))


@query("ext_simhash_neardup")  # Spark-side xxhash64 → rows-only check
def ext_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, Manku-style
    block-combination banding (key on every 3-of-6 block subset → ~32-bit
    band keys) for candidates, bit_count(xor) ≤ 3 verify. Full recall at
    the radius by pigeonhole: ≤3 flipped bits touch ≤3 blocks, so some 3
    of the remaining blocks are clean and that combination key matches.

    The simple 4×16-bit banding (kept as ``simhash_simple_neardup_pairs``,
    result-identical — asserted) saturated in the measured sf1→sf10 decade
    (random in-bucket pairs ~n²/2^16 → 38.6× time ratio at 10× data); the
    combination keys trade C(6,3)=20 band rows per doc for a 2^-32
    per-band random-collision rate. All JVM-native."""
    return simhash_block_neardup_pairs(load_table(spark, sf_dir, "documents"))


def simhash_simple_neardup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The simple 4×16-bit banding form of ``ext_simhash_neardup`` — kept
    as the library twin proving the block-combination declared query
    returns the identical pair set (``test_dedup_similarity.py``). Fine
    below ~sf1; saturates beyond (see SCALING.md)."""
    fps = simhash_fingerprints_df(docs, id_col, text_col)
    cand = simhash_block_candidates(fps, n_blocks=4, n_combo=1, id_col=id_col)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.filter(ham <= 3)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


def simhash_fingerprints_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``simhash_fingerprints`` over an arbitrary (id, text) frame — same
    single-shuffle shape (explode → 64 codegen'd set-bit counts + token
    count → assembly; the sign test 2·c_j > n is the ±1 vote sum v_j > 0,
    see ``simhash_fingerprints``)."""
    from pyspark.sql import functions as FF

    toks = docs.selectExpr(
        f"{id_col}", f"explode({_tok_expr(text_col)}) AS tok"
    ).selectExpr(id_col, "xxhash64(tok) AS h")
    counts = [
        FF.sum(FF.expr(f"shiftright(h, {j}) & 1")).alias(f"c{j}")
        for j in range(64)
    ]
    assemble = " | ".join(
        f"(CASE WHEN 2 * c{j} > n THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(64)
    )
    return toks.groupBy(id_col).agg(
        FF.count(FF.lit(1)).alias("n"), *counts
    ).selectExpr(id_col, f"({assemble}) AS simhash")


def _block_bounds(n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) of ``n_blocks`` near-equal contiguous bit blocks
    covering the 64-bit fingerprint."""
    base, extra = divmod(64, n_blocks)
    bounds, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_block_candidates(
    fingerprints: DataFrame,
    n_blocks: int = 6,
    n_combo: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Block-combination candidate pairs over a (id, simhash) frame —
    the Manku/Jain/Sarma web-crawl banding: split the 64-bit fingerprint
    into ``n_blocks`` near-equal blocks and key each document under every
    ``n_combo``-subset of blocks (key = packed block concatenation,
    C(n_blocks, n_combo) keys per doc).

    Why this beats the declared query's 4×16-bit banding at scale: a
    random pair collides on a band with p ≈ 2^-band_bits. Simple banding
    at radius 3 caps bands at 4 → 16-bit keys → collisions ~n²/2^16
    (SCALING.md's measured sf10 saturation). Block-combination keys are
    ~32 bits (3 of 6 blocks) while STILL guaranteeing full recall at
    Hamming ≤ n_blocks − n_combo by pigeonhole (≤3 flipped bits touch ≤3
    blocks ⇒ some 3 of the other blocks are clean and that combination
    matches). The price is C(6,3) = 20 band rows per doc instead of 4 —
    a 5× constant on the (id, key) shuffle, bought back ~2^16× in random
    collisions. Exposed separately so tests can measure candidate volume.
    """
    from itertools import combinations

    bounds = _block_bounds(n_blocks)
    keys = []
    for combo in combinations(range(n_blocks), n_combo):
        shift, parts = 0, []
        for b in combo:
            off, w = bounds[b]
            parts.append(
                f"shiftleft(shiftright(simhash, {off}) & {(1 << w) - 1}L, {shift})"
            )
            shift += w
        keys.append(" | ".join(parts))
    bands = fingerprints.selectExpr(
        id_col,
        "simhash",
        f"posexplode(array({', '.join(keys)})) AS (band_idx, band_key)",
    )
    return (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set(F.struct(id_col, "simhash"))).alias("ids"))
        .filter(F.size("ids") > 1)
        .selectExpr(
            "explode(flatten(transform(sequence(1, size(ids) - 1),"
            " i -> transform(slice(ids, i + 1, size(ids) - i),"
            " y -> named_struct('a', element_at(ids, i), 'b', y))))) AS pair"
        )
        .select(
            F.col(f"pair.a.{id_col}").alias("doc_a"),
            F.col("pair.a.simhash").alias("sh_a"),
            F.col(f"pair.b.{id_col}").alias("doc_b"),
            F.col("pair.b.simhash").alias("sh_b"),
        )
        .distinct()
    )


def simhash_block_neardup_pairs(
    docs: DataFrame,
    n_blocks: int = 6,
    n_combo: int = 3,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs via block-combination banding — SAME
    fingerprint, radius, and therefore result set as the declared
    ``ext_simhash_neardup`` (asserted in tests), but with ~32-bit band
    keys so random band collisions stay negligible ~2^16× further up the
    corpus-size curve. This is the documented ≥sf10 form (SCALING.md)."""
    if n_blocks - n_combo < max_hamming:
        raise ValueError(
            f"pigeonhole broken: need n_blocks - n_combo >= max_hamming"
            f" (got {n_blocks}-{n_combo} < {max_hamming})"
        )
    cand = simhash_block_candidates(
        simhash_fingerprints_df(docs, id_col, text_col), n_blocks, n_combo, id_col
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.filter(ham <= max_hamming)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


_EMBEDDING_NEARDUP_ORACLE = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
"""


@query("ext_embedding_neardup", oracle=_EMBEDDING_NEARDUP_ORACLE)
def ext_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via applyInPandas + numpy BLAS — the PRIMARY path:
    per label block, compute dot products and per-vector norms with one
    dgemm (G = V·Vᵀ) and divide by the norm outer product — the same
    cos = dot/(|a||b|) operation order as the DuckDB oracle and the
    Catalyst twin, so the rounded values match bit-for-bit.

    This is the charter's vectorized-Pandas-UDF path where built-ins
    genuinely lose: the Catalyst twin (``embedding_neardup_exact``, below,
    result-identical-tested) folds 64 interpreted multiplies per pair; BLAS
    does the whole block as one dgemm — ~10× at sf0.1 and widening with
    block size. Arrow-batched, one shuffle on the block key (n² only within
    a block, never globally), worker closure self-contained.

    Skew guard: a pathological block (one label holding millions of
    vectors) would otherwise allocate an n×n Gram matrix. ``block_pairs``
    therefore tiles the pair space into ``_GEMM_CHUNK``-row chunk pairs —
    memory is O(chunk²) however large the block, and each cosine is the
    same row-pair dot either way (bit-identical to the untiled dgemm;
    asserted in tests with a tiny chunk size). The Arrow transfer of the
    block itself (n×64 floats, linear) is the remaining bound — split the
    label key upstream if a single label outgrows a task."""
    return _embedding_neardup_blas(spark, sf_dir)


#: rows per dgemm tile in the embedding-neardup skew guard: 8192² doubles
#: ≈ 512 MB for the largest tile pair — bounded however big the block is.
_GEMM_CHUNK = 8192


def _embedding_neardup_blas(
    spark: SparkSession, sf_dir: str, chunk: int = _GEMM_CHUNK
) -> DataFrame:
    """BLAS embedding near-dup with a tiled pair space (see
    ext_embedding_neardup). ``chunk`` is exposed so tests can force the
    tiling path on small data."""
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        v = _np.stack(pdf["embedding"].map(_np.asarray)).astype(_np.float64)
        ids = pdf["vec_id"].to_numpy()
        order = _np.argsort(ids)
        ids, v = ids[order], v[order]
        # dot/(|a||b|) with np.dot per element pair — mirrors the oracle's
        # operation order exactly (normalize-then-multiply would introduce
        # a different rounding path and can flip a 6-decimal rounding)
        nrm = _np.sqrt((v * v).sum(axis=1))
        n = len(ids)
        outs = []
        for i0 in range(0, n, chunk):
            i1 = min(i0 + chunk, n)
            for j0 in range(i0, n, chunk):
                j1 = min(j0 + chunk, n)
                g = v[i0:i1] @ v[j0:j1].T
                a_idx, b_idx = _np.nonzero(
                    _np.triu(_np.ones((i1 - i0, j1 - j0), dtype=bool), k=1)
                    if i0 == j0
                    else _np.ones((i1 - i0, j1 - j0), dtype=bool)
                )
                cos = g[a_idx, b_idx] / (nrm[i0:i1][a_idx] * nrm[j0:j1][b_idx])
                keep = cos >= 0.35
                outs.append(
                    _pd.DataFrame(
                        {
                            "vec_a": ids[i0:i1][a_idx[keep]],
                            "vec_b": ids[j0:j1][b_idx[keep]],
                            "cos_sim": _np.round(cos[keep], 6),
                        }
                    )
                )
        if not outs:  # n == 0 (defensive; applyInPandas skips empty groups)
            return _pd.DataFrame(
                {
                    "vec_a": _np.array([], dtype=_np.int64),
                    "vec_b": _np.array([], dtype=_np.int64),
                    "cos_sim": _np.array([], dtype=_np.float64),
                }
            )
        return _pd.concat(outs, ignore_index=True)

    return (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .applyInPandas(block_pairs, schema="vec_a long, vec_b long, cos_sim double")
    )


def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs in pure Catalyst, blocked by cluster
    label — the verification twin of the BLAS-primary ``ext_embedding_neardup``
    (result-identical, asserted in tests). Slower (interpreted higher-order
    fold per pair) but UDF-free; the blocked-dedup shape is the same (block
    key = the shuffle key)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", "label", f"{to_double_array('embedding')} AS v")
        .selectExpr("vec_id", "label", "v", f"{norm('v')} AS nrm")
    )
    a, b = e.alias("a"), e.alias("b")
    # norms precomputed once per vector (not per pair): cos = dot/(|a||b|)
    cos = F.expr(dot("a.v", "b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
