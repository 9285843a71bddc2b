"""Similarity search over the embeddings table (SURVEY.md §2.9 E3).

Two paths, per the charter:
- exact brute-force top-k cosine — the correctness baseline: broadcast the
  (tiny) query set against the full collection, fold dot products in
  codegen, TakeOrdered top-k per query. At 100 TB this is one scan of the
  collection with zero shuffle of it (queries broadcast).
- LSH-bucketed approximate top-k — the scale path: 8 signed random
  hyperplanes → 256 buckets; query probes only its own bucket
  (documented recall tradeoff; multiprobe = flip low-margin bits would
  raise recall at the same shuffle shape).

Vector math is all native expressions (functions.vectors) — no UDFs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm, to_double_array
from ..registry import query
from ..sources import load_table
from ..table import (
    FRAG_DEPTH_MAX,
    Maintained,
    VersionedTable,
    files_for_bytes,
    maintain,
)

TOP_K = 5
N_QUERIES = 3  # query set = vec_id < 3

# deterministic random hyperplanes for LSH (fixed seed, 8 planes x 64 dims)
_rng = random.Random(7)
N_PLANES = 8
PLANES = [[_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(N_PLANES)]


def _plane_sql(p: list[float]) -> str:
    return "array(" + ", ".join(f"{x!r}D" for x in p) + ")"


def lsh_bucket_expr(vec_col: str) -> str:
    """Signed-hyperplane bucket id: bit i = sign(v · plane_i) (0..255)."""
    bits = " + ".join(
        f"(CASE WHEN {dot(vec_col, _plane_sql(p))} > 0.0D THEN {1 << i}L ELSE 0L END)"
        for i, p in enumerate(PLANES)
    )
    return f"({bits})"


_SQL_COS = (
    "list_dot_product(q.v, e.v)"
    " / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))"
)


@query(
    "ext_ann_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES})
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round({_SQL_COS}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COS}, 6) DESC, e.vec_id)
               AS rn
      FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    WHERE rn <= {TOP_K}
    """,
)
def ext_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (E3 baseline): broadcast the query
    vectors, one scan of the collection, window top-k per query ranked on
    the rounded similarity (total order via vec_id tie-break)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", f"{to_double_array('embedding')} AS v")
        .selectExpr("vec_id", "v", f"{norm('v')} AS nrm")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    # norms precomputed per vector; one fold per pair
    cos_r = F.round(F.expr(dot("qv", "v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_r.alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


@query("ext_ann_lsh_topk")  # approximate (bucket recall) → rows-only check
def ext_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k with MULTIPROBE (E3 scale path): 8
    signed random hyperplanes partition the collection into 256 buckets
    (deterministic planes, seed 7); each query probes its own bucket plus
    the 8 Hamming-distance-1 buckets (one sign-bit flip each) — ~9/256 of
    the collection instead of 1/256, with substantially higher recall at
    the same shuffle shape (the standard multiprobe tradeoff).

    The bucket id is the layout key: at 100 TB the collection is written
    bucketed on it and a probe touches only its buckets' files. The
    single-bucket probe variant is ``ann_lsh_single_probe`` (library twin,
    recall-tested against this one)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", f"{to_double_array('embedding')} AS v")
        .selectExpr("vec_id", "v", f"{norm('v')} AS nrm", f"{lsh_bucket_expr('v')} AS bucket")
    )
    probes = ", ".join(["qb"] + [f"CAST(qb ^ {1 << i} AS BIGINT)" for i in range(N_PLANES)])
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id AS query_id", "v AS qv", "nrm AS qnrm", "bucket AS qb")
        .selectExpr("query_id", "qv", "qnrm", f"explode(array({probes})) AS qbucket")
    )
    cos_r = F.round(F.expr(dot("qv", "v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        e.join(
            F.broadcast(q),
            (F.col("qbucket") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_r.alias("cos_sim"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
        .drop("rn")
    )


def write_embeddings_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write the collection PARTITIONED BY the LSH bucket key — the physical
    layout the multiprobe docstring promises: each of the 256 buckets is a
    directory, so a probe's bucket filter becomes directory-level partition
    pruning and only the probed buckets' files are ever opened. At 100 TB
    this is the difference between scanning 9/256 of the collection and
    scanning all of it. Vectors are stored as-is (array<float>); the bucket
    is recomputed from the same deterministic hyperplanes at write time."""
    (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("bucket", F.expr(lsh_bucket_expr(to_double_array("embedding"))))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ann_lsh_topk_over_layout(spark: SparkSession, layout_path: str) -> DataFrame:
    """Multiprobe top-k over the bucket-partitioned layout — result-identical
    to ``ext_ann_lsh_topk`` (asserted in tests/test_bucketing.py) but the
    collection scan carries a LITERAL bucket IN-list, so Catalyst prunes to
    the probed buckets' directories (PartitionFilters in the scan; the
    pruning itself is asserted too).

    The probe set is driver-computed from the query vectors (own bucket +
    8 Hamming-1 flips each): query sets in an ANN serving path are small by
    definition, so collecting ≤ 9·|Q| bucket ids is a constant-size driver
    step, not a scale concern."""
    coll = spark.read.parquet(layout_path).selectExpr(
        "vec_id", "bucket", f"{to_double_array('embedding')} AS v"
    ).selectExpr("vec_id", "bucket", "v", f"{norm('v')} AS nrm")
    q_rows = (
        coll.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"), F.col("bucket").alias("qb"))
        .collect()
    )
    probe_ids = sorted(
        {int(r["qb"]) ^ flip for r in q_rows for flip in [0] + [1 << i for i in range(N_PLANES)]}
    )
    q = spark.createDataFrame(
        [(r["query_id"], r["qv"], r["qnrm"], int(r["qb"])) for r in q_rows],
        "query_id long, qv array<double>, qnrm double, qb long",
    ).selectExpr(
        "query_id", "qv", "qnrm",
        "explode(array(" + ", ".join(
            ["qb"] + [f"CAST(qb ^ {1 << i} AS BIGINT)" for i in range(N_PLANES)]
        ) + ")) AS qbucket",
    )
    cos_r = F.round(F.expr(dot("qv", "v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        coll.filter(F.col("bucket").isin(probe_ids))  # literal → partition pruning
        .join(
            F.broadcast(q),
            (F.col("qbucket") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_r.alias("cos_sim"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
        .drop("rn")
    )


def fit_ivf_centroids(
    spark: SparkSession, sf_dir: str, k_cells: int = 16, seed: int = 7,
    embeddings: DataFrame | None = None,
) -> list[list[float]]:
    """Coarse quantizer for IVF: k-means (fixed seed, few iterations) over
    the collection — the one deliberately-iterative training step of the
    IVF index build; runs once at index-build time, never at query time.
    ``embeddings`` (r11) overrides the ``sf_dir`` mirror with an explicit
    collection frame (the rebuild-from-base path)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = (
        embeddings
        if embeddings is not None
        else load_table(spark, sf_dir, "embeddings")
    )
    e = src.selectExpr(f"{to_double_array('embedding')} AS v")
    model = KMeans(k=k_cells, seed=seed, maxIter=5, featuresCol="features").fit(
        e.select(array_to_vector("v").alias("features"))
    )
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _lit_array(vals: list[float]) -> str:
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


def ivf_cell_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """Nearest-centroid cell id (0-based) as a native expression: argmin of
    squared distance == argmax of (v·c − ‖c‖²/2), so each cell costs one
    dot fold and assignment stays UDF-free (the IVF layout key — written as
    a partition column exactly like the LSH bucket)."""
    scores = ", ".join(
        f"({dot(vec_col, _lit_array(c))} - {sum(x * x for x in c) / 2.0!r}D)"
        for c in centroids
    )
    return f"(array_position(array({scores}), array_max(array({scores}))) - 1)"


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k (E3's second scale path, alongside LSH): the
    collection is bucketed by nearest coarse centroid; each query scores
    only its ``nprobe`` closest cells. nprobe == k_cells degenerates to the
    exact brute-force result (asserted in tests — the recall knob is
    monotone and honest). Probe cells are driver-computed from the (small)
    query set; the collection-side cell filter is a literal IN-list, so a
    cell-partitioned layout prunes files (proven by the layout twin
    ``ann_ivf_topk_over_layout`` in tests/test_bucketing.py)."""
    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", f"{to_double_array('embedding')} AS v"
    ).selectExpr(
        "vec_id", "v", f"{norm('v')} AS nrm", f"{ivf_cell_expr('v', centroids)} AS cell"
    )
    return _ivf_topk(spark, e, centroids, nprobe)


def _ivf_layout_frame(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    extra_cols: dict[str, str] | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """The collection + its derived layout columns — the ONE frame both
    layout writers (directory and VersionedTable) materialize, so the
    staging-column contract cannot diverge between them. ``extra_cols``
    ({name: SQL expr}) ride along — the PQ build adds its ``codes``
    column here so the layout can be scanned code-only. Names starting
    with ``__`` are STAGING columns (evaluated in order, visible to
    later extras, dropped before the write) — the residual build stages
    ``__res`` once so the centroid literal isn't repeated per dot
    fold."""
    src = (
        embeddings
        if embeddings is not None
        else load_table(spark, sf_dir, "embeddings")
    )
    df = src.withColumn(
        "cell",
        F.expr(ivf_cell_expr(to_double_array("embedding"), centroids)).cast(
            "int"
        ),
    )
    return _with_layout_extras(df, extra_cols)


def _with_layout_extras(
    df: DataFrame, extra_cols: dict[str, str] | None
) -> DataFrame:
    """``df`` plus the ``extra_cols`` of ``_ivf_layout_frame`` (staging
    columns evaluated in order, then dropped)."""
    for name, expr in (extra_cols or {}).items():
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[n for n in (extra_cols or {}) if n.startswith("__")])


def write_embeddings_ivf_layout(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    centroids: list[list[float]],
    extra_cols: dict[str, str] | None = None,
) -> None:
    """Write the collection PARTITIONED BY its IVF cell — the learned-key
    analogue of write_embeddings_layout: a probe's literal cell filter
    becomes directory pruning, so a query opens nprobe/k of the files.
    See ``_ivf_layout_frame`` for the extra/staging column contract."""
    _ivf_layout_frame(spark, sf_dir, centroids, extra_cols).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def ann_ivf_topk_over_layout(
    spark: SparkSession,
    layout_path: str,
    centroids: list[list[float]],
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k over the cell-partitioned layout (result-identical to
    ``ann_ivf_topk``; file pruning asserted in tests/test_bucketing.py)."""
    coll = spark.read.parquet(layout_path).selectExpr(
        "vec_id", "cell", f"{to_double_array('embedding')} AS v"
    ).selectExpr("vec_id", "cell", "v", f"{norm('v')} AS nrm")
    return _ivf_topk(spark, coll, centroids, nprobe)


def _ivf_topk(
    spark: SparkSession,
    e: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    prune=None,
) -> DataFrame:
    """Shared IVF probe core over a prepared collection
    (vec_id, v, nrm, cell). ``prune`` (r11): callable mapping the probed
    cell list to a pre-pruned collection frame — the VersionedTable
    layout passes a per-cell ``read_where`` union here so stats pruning
    replaces the dir layout's partition pruning; default is a literal
    IN-list filter on ``e``."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"))
        .collect()
    )
    probes = []  # (query_id, cell) — nprobe nearest cells per query
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        d2 = (cents @ qv) - 0.5 * (cents * cents).sum(axis=1)
        for cell in np.argsort(-d2)[:nprobe]:
            probes.append((r["query_id"], list(r["qv"]), float(r["qnrm"]), int(cell)))
    q = spark.createDataFrame(
        probes, "query_id long, qv array<double>, qnrm double, qcell long"
    )
    probed_cells = sorted({p[3] for p in probes})
    coll = (
        prune(probed_cells)
        if prune is not None
        else e.filter(F.col("cell").isin(probed_cells))  # literal → pruning
    )
    cos_r = F.round(F.expr(dot("qv", "v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        coll
        .join(
            F.broadcast(q),
            (F.col("qcell") == F.col("cell")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_r.alias("cos_sim"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
        .drop("rn")
    )


def _write_fs_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through Hadoop's FileSystem API (scheme-
    resolved like `table.py` — file://, hdfs://, s3a:// all work)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _read_fs_text(spark: SparkSession, path: str) -> str:
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    k_cells: int = 16,
    seed: int = 7,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_residual: bool = True,
    base_path: str | None = None,
    base_version: int | None = None,
) -> int:
    """Build + PERSIST the IVF index as a serving artifact (no per-query
    k-means refit): the centroid table commits through ``VersionedTable``'s
    atomic manifest (readers never see a half-built index; rebuilds are new
    versions, time-travelable) and the collection is rewritten
    cell-partitioned under an IMMUTABLE per-build directory
    (``<index_path>/layout-<uuid>``) whose name rides in the committed
    centroid rows. The layout is therefore versioned WITH the centroids: a
    rebuild never touches an older build's files, concurrent readers keep
    scanning the layout their pinned version references, and
    ``ann_ivf_topk_from_index(version=N)`` always pairs version-N centroids
    with the version-N cell assignment (cells are meaningless under any
    other quantizer). Old layouts stay readable for time travel until
    ``vacuum_ivf_index`` sweeps them.

    Staleness bookkeeping rides in the centroid table itself — one row per
    cell carrying ``n_vectors_at_build`` and ``built_from`` — so
    ``ivf_index_staleness`` can compare against the live collection with
    one cheap count and no extra metadata channel. Returns the committed
    centroid-table version.

    ``pq_m`` adds product quantization to the build: the layout gains a
    ``codes`` column (m sub-codes per vector, encoded in codegen —
    `operators/pq.py`) and the trained codebooks are written as
    ``_pq_codebooks.json`` INSIDE the immutable layout dir, so they are
    version-coupled to the cell assignment exactly like the centroids
    (underscore-prefixed → invisible to the parquet reader). Serve via
    ``pq.ann_ivf_pq_topk_from_index``: file pruning from the cells AND
    a code-only candidate scan.

    ``pq_residual`` (r9 default, VERDICT r8 #6): codes quantize the
    RESIDUAL v − c(cell) instead of v — the standard IVFADC refinement.
    Codebooks train on sampled residuals; encoding stages the residual
    as one ``zip_with`` column (``__res``, dropped before the write) and
    codes it in the same codegen path; the serialized quantizer records
    ``residual: true`` so the serve adds the exact q·c(cell) term back.
    Measured strictly better recall at the same (m, k, nprobe, refine)
    — see RECALL.md; set False only to reproduce a pre-r9 raw build.

    ``base_path`` (r10, VERDICT r9 #8) declares the ``VersionedTable``
    that is the system of record for the collection ``sf_dir``'s
    embeddings mirror (i.e. ``sf_dir`` holds that table's CURRENT
    snapshot at build time — the caller's assertion). The build records
    (path, version) in the centroid commit so
    ``ivf_index_rowset_staleness`` can later classify base movement
    from manifests alone: appends are gradual recall decay
    (count-based ``ivf_index_staleness`` already covers that); an
    UPSERT/DELETE rewrite of the base invalidates the cell assignment
    outright (the layout's copied rows no longer match the rowset) and
    was loudly rejected in r10. Since r11 a versioned-base build
    additionally writes its layout as a ``VersionedTable`` (rows
    clustered by (cell, vec_id) with per-file min/max stats — cell
    pruning moves from directory pruning to stats pruning, same files
    touched) so ``sync_ivf_index`` can REPAIR the index from the base's
    row-level change feed as one atomic copy-on-write CDC apply instead
    of a full rebuild; plain builds keep the immutable
    ``partitionBy(cell)`` directory layout. An OPTIMIZE of the base is
    rowset-preserving and leaves the index valid either way."""
    from ..table import resolve_base_stamp

    base = (
        resolve_base_stamp(spark, base_path, base_version)
        if base_path is not None
        else None
    )
    cents = fit_ivf_centroids(spark, sf_dir, k_cells=k_cells, seed=seed)
    books = None
    if pq_m is not None:
        from .pq import fit_pq_codebooks

        books = fit_pq_codebooks(
            spark, sf_dir, m=pq_m, k=pq_k, seed=seed,
            centroids=cents if pq_residual else None,
        )
    v = _commit_ivf_index(
        spark, index_path, cents,
        base=base,
        op_name="ivf_build",
        built_from=sf_dir,
        n_vecs=load_table(spark, sf_dir, "embeddings").count(),
        layout_kind="vt" if base is not None else "dir",
        books=books,
        residual=pq_residual,
        sf_dir=sf_dir,
        k_cells=k_cells,
    )
    if base:
        # self-register on the base (r13, VERDICT r12 #2) AFTER the
        # commit — a failed build must not leave a phantom registry
        # entry; best-effort (the registry is advisory, the base may be
        # read-only to this job)
        from ..table import VersionedTable as _VT

        _VT(spark, base["path"]).register_consumer(
            index_path, best_effort=True
        )
    return v


#: target fit-probe sample size — the deterministic hash sample the
#: build records its mean assigned-centroid distance over, and the
#: drift probe re-measures with the SAME modulus (paired comparison)
_FIT_SAMPLE_TARGET = 4096


def _fit_sample_mean_dist(
    df: DataFrame, cents: list[list[float]], sample_mod: int
) -> float:
    """Mean distance from a deterministic hash-sample of vectors to their
    NEAREST centroid — the quantizer-fit quality number. One column-pruned
    pass over (vec_id, embedding); the k per-vector distances are native
    expressions (``least`` over k codegen'd dot products, the same shape
    as ``ivf_cell_expr``), no UDFs, no shuffle (global avg). The sample is
    ``pmod(xxhash64(vec_id), sample_mod) = 0`` so build-time and
    probe-time measure the SAME (surviving) vectors plus the same slice
    of new ones — a paired drift comparison, not two unrelated samples."""
    v = to_double_array("embedding")
    terms = [
        f"({dot('v', _lit_array(c))} * -2.0D + {sum(x * x for x in c)!r}D)"
        for c in cents
    ]
    # least() needs >= 2 args; a k_cells=1 build has one distance term
    nearest = f"least({', '.join(terms)})" if len(terms) > 1 else terms[0]
    e = (
        df.selectExpr("vec_id", f"{v} AS v")
        .filter(f"pmod(xxhash64(vec_id), {max(1, sample_mod)}) = 0")
        .selectExpr(f"sqrt(greatest(0.0D, {dot('v', 'v')} "
                    f"+ {nearest})) AS d")
    )
    row = e.agg(F.avg("d").alias("m")).first()
    return float(row["m"]) if row["m"] is not None else 0.0


def ivf_fit_drift(
    spark: SparkSession,
    index_path: str,
    preloaded: tuple[list[list[float]], dict] | None = None,
) -> dict:
    """Quantizer FIT drift of a versioned-base IVF index (r12): relative
    inflation of the mean assigned-centroid distance over the base
    table's CURRENT snapshot vs the value the build recorded over the
    build collection (same deterministic hash sample). This is the probe
    the count-based ``ivf_index_staleness`` is blind to: an upsert-heavy
    workload mutates vectors WITHOUT changing the count, so growth reads
    0 forever while the centroids drift off the distribution and recall
    decays silently — here that reads as ``rel_drift`` > 0.

    Cost: ONE column-pruned pass over the base's (vec_id, embedding) —
    a data read, unlike the manifest-only staleness probes; run it on a
    maintenance cadence (or via ``maintain_ivf_index(
    check_fit_drift=True)``), not per serve. Requires a base-stamped
    index whose build recorded fit stats (r12 builds; older indexes
    raise — one rebuild migrates them). ``preloaded`` = the
    ``(centroids, meta)`` pair from an earlier ``load_ivf_index``, the
    same convention as ``ann_ivf_topk_from_index``."""
    cents, meta = preloaded or load_ivf_index(spark, index_path)
    base = meta.get("base")
    if not base:
        raise ValueError(
            f"IVF index at {index_path} was not built with base_path= — "
            "fit drift measures the base table's current snapshot"
        )
    fit = meta.get("fit")
    if not fit:
        raise ValueError(
            f"IVF index at {index_path} predates fit-stat recording "
            "(r12) — rebuild_ivf_index once to record the build-time "
            "mean assigned-centroid distance"
        )
    now = _fit_sample_mean_dist(
        VersionedTable(spark, base["path"]).read(), cents,
        fit["sample_mod"],
    )
    at_build = fit["mean_dist"]
    if at_build > 0:
        rel = (now - at_build) / at_build
    else:
        # a perfectly-fit build (k_cells >= distinct vectors, or a mean
        # that rounded to 0): ANY nonzero residual now is maximal drift
        # — reporting 0 here would blind the probe for exactly the
        # blast-upsert case it exists to catch
        rel = float("inf") if now > 0 else 0.0
    return {
        "mean_dist_now": now,
        "mean_dist_at_build": at_build,
        "rel_drift": rel,
        "sample_mod": fit["sample_mod"],
    }


def _commit_ivf_index(
    spark: SparkSession,
    index_path: str,
    cents: list[list[float]],
    *,
    base: dict | None,
    op_name: str,
    built_from: str,
    n_vecs: int,
    layout_kind: str,
    books: list[list[list[float]]] | None = None,
    residual: bool = True,
    sf_dir: str | None = None,
    embeddings: DataFrame | None = None,
    k_cells: int | None = None,
) -> int:
    """The shared tail of ``build_ivf_index`` / ``rebuild_ivf_index``:
    derive the PQ extras, write the immutable layout (vt or dir), write
    the version-coupled codebooks file, and commit the centroid table —
    ONE definition of the centroid schema / extras contract so a fresh
    build and a refit cannot drift apart."""
    import json as _json
    import uuid

    layout_dir = f"layout-{uuid.uuid4().hex[:12]}"
    extra = None
    if books is not None:
        from .pq import pq_code_expr, residual_expr

        if residual:
            extra = {
                "__res": residual_expr(
                    to_double_array("embedding"), "cell", cents
                ),
                "codes": pq_code_expr("__res", books),
            }
        else:
            extra = {"codes": pq_code_expr(to_double_array("embedding"),
                                           books)}
    if layout_kind == "vt":
        _write_ivf_layout_vt(
            spark, sf_dir, f"{index_path}/{layout_dir}", cents,
            extra_cols=extra, k_cells=k_cells, embeddings=embeddings,
        )
    else:
        write_embeddings_ivf_layout(
            spark, sf_dir, f"{index_path}/{layout_dir}", cents,
            extra_cols=extra,
        )
    if books is not None:
        _write_fs_text(
            spark,
            f"{index_path}/{layout_dir}/_pq_codebooks.json",
            _json.dumps({"residual": bool(residual), "books": books}),
        )
    cent_df = spark.createDataFrame(
        [(i, c, n_vecs, built_from, layout_dir) for i, c in enumerate(cents)],
        "cell int, centroid array<double>, n_vectors_at_build long,"
        " built_from string, layout_dir string",
    )
    op_info = {"op": op_name, "layout_kind": layout_kind}
    if base:
        # fit stats (r12): mean assigned-centroid distance over a
        # deterministic hash sample of the build collection — the
        # baseline `ivf_fit_drift` compares against (the refit signal
        # count-based staleness is blind to: upserts mutate vectors
        # without moving the count). One extra bounded job against a
        # collection the build already scanned twice; VERSIONED-BASE
        # builds only — the probe measures the base's current snapshot,
        # so a plain-dir build's baseline would be unreachable (the
        # probe raises before reading it).
        coll = (
            embeddings
            if embeddings is not None
            else load_table(spark, sf_dir, "embeddings")
        )
        sample_mod = max(1, int(n_vecs) // _FIT_SAMPLE_TARGET)
        op_info["fit"] = {
            "mean_dist": round(
                _fit_sample_mean_dist(coll, cents, sample_mod), 9
            ),
            "sample_mod": sample_mod,
            # the base version the quantizer was FIT at (r13): syncs
            # carry the fit dict forward unchanged, so the churn
            # scheduler (`ivf_base_churn_since_fit`) can walk rewritten
            # rows from the fit point, not the sync point
            "base_version": base["version"],
        }
        op_info["base"] = base
    return VersionedTable(spark, f"{index_path}/centroids").commit(
        cent_df,
        mode="overwrite",
        op_info=op_info,
    )


def _write_ivf_layout_vt(
    spark: SparkSession,
    sf_dir: str,
    layout_path: str,
    centroids: list[list[float]],
    extra_cols: dict[str, str] | None = None,
    k_cells: int | None = None,
    embeddings: DataFrame | None = None,
) -> int:
    """The repairable layout variant (r11): same columns as
    ``write_embeddings_ivf_layout`` (vec_id, embedding, cell[, codes])
    but committed as a ``VersionedTable`` clustered by (cell, vec_id)
    with per-file min/max stats on both — a probe's per-cell
    ``read_where`` prunes to the cell's files (stats pruning in place
    of directory pruning), and ``sync_ivf_index``'s CDC apply rewrites
    only the files whose (vec_id) range admits the changed vectors.
    File count = ``files_for_bytes`` of the source floored at
    ``k_cells`` — at least one range per cell so probes stay tight, but
    never files so large that one touched vector's copy-on-write
    rewrite moves a collection-sized fraction."""
    from ..table import sum_file_bytes

    src = (
        embeddings
        if embeddings is not None
        else load_table(spark, sf_dir, "embeddings")
    )
    df = _ivf_layout_frame(spark, sf_dir, centroids, embeddings=src)
    total = sum_file_bytes(spark, src.inputFiles())
    n_files = files_for_bytes(total, floor=k_cells or 1)
    # the extras (PQ codes) are derived after the range shuffle, so the
    # shuffle's bound-sampling pass does not run the per-vector encode
    clustered = _with_layout_extras(
        df.repartitionByRange(n_files, "cell", "vec_id")
        .sortWithinPartitions("cell", "vec_id"),
        extra_cols,
    )
    return VersionedTable(spark, layout_path).commit(
        clustered, mode="overwrite", stats_cols=["cell", "vec_id"]
    )


def load_ivf_index(
    spark: SparkSession, index_path: str, version: int | None = None
) -> tuple[list[list[float]], dict]:
    """(centroids ordered by cell, meta) from a persisted IVF index —
    ``meta`` carries n_vectors_at_build / built_from / layout_dir / version
    for staleness decisions and layout resolution (the layout is versioned
    with the centroids; see ``build_ivf_index``). Centroid count is
    k_cells-sized: a driver collect of the index is the serving design,
    not a scale concern."""
    vt = VersionedTable(spark, f"{index_path}/centroids")
    rows = sorted(vt.read(version).collect(), key=lambda r: r["cell"])
    if not rows:
        raise FileNotFoundError(f"empty IVF centroid table at {index_path}")
    head = rows[0].asDict()
    v = vt.versions()[-1] if version is None else version
    op = vt.manifest(v).get("op") or {}
    meta = {
        "n_vectors_at_build": head["n_vectors_at_build"],
        "built_from": head["built_from"],
        # pre-r6 indexes wrote a single shared "layout" dir (the non-atomic
        # gap this column closed); fall back to it for those manifests
        "layout_dir": head.get("layout_dir") or "layout",
        "version": v,
        # r10: the declared versioned base (None for plain-dir builds /
        # pre-r10 indexes) — see build_ivf_index(base_path=...)
        "base": op.get("base"),
        # r11: "vt" = repairable VersionedTable layout (versioned-base
        # builds); "dir" = immutable partitionBy(cell) directory
        "layout_kind": op.get("layout_kind") or "dir",
        # r12: build-time fit stats ({mean_dist, sample_mod}) — the
        # baseline `ivf_fit_drift` compares against; None pre-r12
        "fit": op.get("fit"),
    }
    return [list(r["centroid"]) for r in rows], meta


def ivf_index_staleness(
    spark: SparkSession,
    index_path: str,
    sf_dir: str,
    version: int | None = None,
    meta: dict | None = None,
) -> float:
    """Fractional collection growth since ``version`` of the index was
    built (default latest; pass the version you are SERVING — each
    version has its own build size, so latest-version staleness says
    nothing about a pinned older quantizer). 0.0 = fresh; 0.5 =
    collection grew 50% — refit advised: new vectors still land in *some*
    cell, but the quantizer no longer matches the distribution and recall
    decays silently. Pass ``meta`` from an already-loaded index
    (``load_ivf_index``) to skip re-reading the manifest — the serve CLI
    loads once and shares it between the staleness probe and the query.

    Versioned-base indexes (r11): the live count comes from the BASE
    TABLE'S current snapshot, not ``sf_dir`` — the directory mirror is
    frozen at build time, so counting it would read ~0 growth forever
    while the base keeps taking appends (exactly the drift this probe
    exists to surface). ``sf_dir`` is only consulted for plain-directory
    builds."""
    if meta is None:
        _, meta = load_ivf_index(spark, index_path, version)
    base = meta.get("base")
    if base:
        now = VersionedTable(spark, base["path"]).read().count()
    else:
        now = load_table(spark, sf_dir, "embeddings").count()
    built = max(1, int(meta["n_vectors_at_build"]))
    return abs(now - built) / built


def ivf_index_rowset_staleness(
    spark: SparkSession,
    index_path: str,
    version: int | None = None,
    meta: dict | None = None,
    allow_rewritten: bool = False,
) -> dict:
    """Manifest-only staleness of a versioned-base IVF index (r10,
    VERDICT r9 #8): walk the declared base table's history since the
    build and classify (``VersionedTable.rowset_change_kind``):

    - ``'unchanged'`` — no commits, or only rowset-preserving OPTIMIZEs:
      the index is exactly as fresh as at build time (the layout holds
      its own copy of the vectors, so a base compaction is invisible);
    - ``'appended'`` — new vectors exist that the index has never seen:
      recall decays gradually (quantify with ``ivf_index_staleness``'s
      count-based growth; rebuild when it crosses your budget);
    - ``'rewritten'`` — an upsert/delete/CDC/overwrite changed rows the
      layout already copied: the cell assignment is INVALID (serving it
      returns vectors that no longer exist and misses their
      replacements), so this RAISES unless ``allow_rewritten=True``
      (then the caller owns the decision — e.g. diffing before a
      rebuild).

    Requires the index to have been built with ``base_path`` — a
    plain-dir build has no manifest history to walk (use the count
    probe). No data is read: one manifest walk, zero scans."""
    if meta is None:
        _, meta = load_ivf_index(spark, index_path, version)
    base = meta.get("base")
    if not base:
        raise ValueError(
            f"IVF index at {index_path} (v{meta['version']}) was not built "
            "with base_path= — no versioned base to walk; use "
            "ivf_index_staleness for the count-based growth probe"
        )
    vt = VersionedTable(spark, base["path"])
    kind = vt.rowset_change_kind(base["version"])
    out = {
        "kind": kind,
        "base_path": base["path"],
        "built_at_base_version": base["version"],
        "current_base_version": vt.manifest()["version"],
    }
    if kind == "rewritten" and not allow_rewritten:
        raise ValueError(
            f"IVF index at {index_path} is INVALID: base table "
            f"{base['path']} was rewritten (v{base['version']} -> "
            f"v{out['current_base_version']}) — rows the layout copied no "
            "longer exist; rebuild the index (build_ivf_index) before "
            "serving"
        )
    return out


def ann_ivf_topk_from_index(
    spark: SparkSession,
    index_path: str,
    nprobe: int = 4,
    version: int | None = None,
    preloaded: tuple[list[list[float]], dict] | None = None,
) -> DataFrame:
    """Serving-path IVF top-k: centroids load from the persisted versioned
    index and the probe runs over THAT VERSION'S cell-partitioned layout
    (resolved from the manifest — a version's cells are only meaningful
    under its own quantizer) — no k-means, no full-collection rewrite, file
    pruning from the layout. Result-identical to ``ann_ivf_topk`` with the
    same centroids (asserted in tests/test_bucketing.py).

    ``preloaded``: the ``(centroids, meta)`` pair from an earlier
    ``load_ivf_index`` call — the serve CLI reads the manifest once and
    shares it between the staleness probe and the query, and this is the
    ONE place layout paths are resolved from meta (callers must not
    rebuild ``<index>/<layout_dir>`` by hand).

    Layout kinds (r11): a ``dir`` layout serves via directory pruning
    (unchanged); a ``vt`` layout (versioned-base builds — see
    ``build_ivf_index``/``sync_ivf_index``) serves via a per-probed-cell
    ``read_where`` union, so the per-file (cell) stats prune the scan to
    the same files the directory layout would touch. A vt layout always
    serves its LATEST internal state — sync never changes the quantizer,
    so pinning ``version`` selects the quantizer + layout dir, and every
    centroid version since that build shares the same cells."""
    cents, meta = preloaded or load_ivf_index(spark, index_path, version)
    layout = f"{index_path}/{meta['layout_dir']}"
    if meta.get("layout_kind") == "vt":
        e, prune = _vt_layout_frames(spark, layout)
        return _ivf_topk(spark, e, cents, nprobe, prune=prune)
    return ann_ivf_topk_over_layout(spark, layout, cents, nprobe)


def _vt_layout_frames(
    spark: SparkSession, layout_path: str, with_codes: bool = False
):
    """(full collection frame, per-cell prune callable) over a
    VersionedTable IVF layout — the shared read path of the vt serve
    branches. The prune callable unions one stats-pruned ``read_where``
    per probed cell (nprobe scans, each touching only the files whose
    recorded cell range admits that cell)."""
    from functools import reduce

    vt = VersionedTable(spark, layout_path)
    cols = ["vec_id", "cell"] + (["codes"] if with_codes else [])

    def prep(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            *cols, f"{to_double_array('embedding')} AS v"
        ).selectExpr(*cols, "v", f"{norm('v')} AS nrm")

    def prune(cells: list[int]) -> DataFrame:
        if not cells:  # no query vectors -> empty result, like the dir
            return prep(vt.read().limit(0))  # layout's isin([]) filter
        parts = [vt.read_where({"cell": (c, c)}) for c in cells]
        return prep(reduce(DataFrame.unionByName, parts))

    return prep(vt.read()), prune


def sync_ivf_index(
    spark: SparkSession,
    index_path: str,
    idempotency_token: str | None = None,
) -> int:
    """Bring a versioned-base IVF index level with its base table by
    consuming the base's ROW-LEVEL change feed (r11, VERDICT r10 #2 —
    the mirror of ``dedup_incremental.sync_neardup_index``, completing
    the detect→repair symmetry for the ANN family):

    1. read ``row_changes(built_at, current)`` from the base (delta /
       change files only — the collection is never rescanned);
    2. collapse to each vec_id's FINAL state across the window
       (``table.collapse_row_changes``);
    3. re-assign live vectors to their nearest EXISTING cells (the
       quantizer is not refit — same centroids, same ``ivf_cell_expr``;
       PQ builds re-encode codes with the stored codebooks, residual or
       raw exactly as built) and emit deletes for dropped vec_ids;
    4. land as ONE atomic copy-on-write CDC apply on the
       ``VersionedTable`` layout (touched-file rewrite — the (cell,
       vec_id)-clustered build makes a range-local window prune), then
       re-stamp the base sync point with a metadata-only centroid
       re-commit.

    Requires an r11 versioned-base build (``base_path=`` → "vt" layout);
    a plain directory layout cannot be patched atomically — rebuild
    with ``build_ivf_index``. An UNRECORDED base rewrite (plain
    overwrite) still fails loud in ``row_changes``. A window with no
    row changes (e.g. only OPTIMIZE) just re-stamps. A base that
    additively GREW payload columns in the window (r12, VERDICT r11
    #2) stays incremental: the layout is widened first by a zero-row
    schema append (old files surface NULL for the new columns, exactly
    like the base's own pre-evolution files) and the sync batch carries
    them; a retyped column still fails loud (rebuild_ivf_index
    re-reads the current snapshot). Returns the centroid-table version
    after the sync.

    After a sync, ``ivf_index_rowset_staleness`` reads 'unchanged' and
    the served top-k is row-identical to a from-scratch rebuild at
    covering nprobe (asserted in tests/test_ivf_sync.py). Quantizer
    drift is the remaining (gradual) staleness: sync repairs
    CORRECTNESS, not centroid fit — watch the count-based
    ``ivf_index_staleness`` for refit timing, as with appends."""
    import json as _json

    from pyspark.sql import types as T

    from ..table import (
        CHANGE_TYPE_COL,
        CHANGE_VERSION_COL,
        CommitConflict,
        collapse_row_changes,
    )

    cents, meta = load_ivf_index(spark, index_path)
    base = meta.get("base")
    if not base:
        raise ValueError(
            f"IVF index at {index_path} was not built with base_path= — "
            "sync_ivf_index needs the recorded base sync point"
        )
    if meta.get("layout_kind") != "vt":
        raise ValueError(
            f"IVF index at {index_path} has an immutable directory layout "
            "(pre-r11 build) — it cannot be patched atomically; rebuild "
            "with build_ivf_index(base_path=...) to get the repairable "
            "VersionedTable layout"
        )
    cvt_cent = VersionedTable(spark, f"{index_path}/centroids")
    corpus = VersionedTable(spark, base["path"])
    # self-register (r13): the index exists, pre-r13 artifacts adopt the
    # registry here; best-effort (advisory, base may be read-only)
    corpus.register_consumer(index_path, best_effort=True)
    v_now = corpus.manifest()["version"]
    if v_now <= base["version"]:
        return meta["version"]  # already level
    layout = VersionedTable(spark, f"{index_path}/{meta['layout_dir']}")
    lay_schema = T.StructType.fromJson(
        _json.loads(layout.manifest()["schema"])
    )
    # the layout = the base's columns + the derived (cell[, codes]);
    # sync recomputes the derived ones and carries the rest.
    derived = {"cell", "codes"}
    token = idempotency_token or f"ivf-sync:v{v_now}"
    # the LAYOUT apply's token is WINDOW-SCOPED: after a conflict-repair
    # re-stamp (below) moved the sync point backward, a retry carrying
    # the caller's same token computes a DIFFERENT (union) window — a
    # bare-token replay skip would silently drop exactly the repair
    # window that stamp exists to force, while a true crash-replay of
    # the SAME window still skips. apply_cdc re-application of a
    # collapsed window is idempotent anyway (same finals, absent-key
    # deletes no-op), so the scoped token is strictly safer.
    lay_token = f"{token}@v{base['version']}->v{v_now}"
    delta = corpus.row_changes(base["version"], v_now)
    delta_payload = {
        f.name: f
        for f in delta.schema.fields
        if f.name not in (CHANGE_TYPE_COL, CHANGE_VERSION_COL)
    }
    lay_by_name = {f.name: f for f in lay_schema.fields}
    retyped = sorted(
        n for n, f in delta_payload.items()
        if n in lay_by_name
        and lay_by_name[n].dataType.simpleString()
        != f.dataType.simpleString()
    )
    if retyped:
        raise ValueError(
            f"base table {base['path']} retyped column(s) {retyped} since "
            f"the build at v{base['version']} — the layout's copies cannot "
            "be widened in place; rebuild_ivf_index re-reads the current "
            "snapshot"
        )
    added = [
        f for n, f in delta_payload.items() if n not in lay_by_name
    ]
    if added:
        # additive base evolution (r12, VERDICT r11 #2): widen the layout
        # FIRST with a zero-row append carrying the new payload columns —
        # its untouched files then surface NULL for them, exactly like
        # the base's own pre-evolution files (the r11 replicate_table
        # move). The token suffix keeps the commit from being skipped as
        # a replay of this sync while a crash between the two commits
        # replays cleanly (same window; re-widen no-ops on its token,
        # the CDC apply no-ops on the sync token).
        lay_schema = T.StructType(list(lay_schema.fields) + added)
        layout.commit(
            spark.createDataFrame([], lay_schema),
            mode="append",
            idempotency_token=f"{lay_token}+schema",
            # a patch op (table._PATCH_OPS): a zero-row widen must not
            # read as a clustering baseline to the fragmentation probe
            op_info={"op": "schema_widen"},
        )
    base_cols = [f.name for f in lay_schema.fields if f.name not in derived]
    missing_cols = sorted(set(base_cols) - set(delta.columns))
    if missing_cols:  # base_cols always includes vec_id + embedding
        raise ValueError(
            f"base table {base['path']} lacks the layout's columns "
            f"{missing_cols} — sync_ivf_index maintains "
            "embeddings-collection indexes"
        )
    final = collapse_row_changes(
        delta.select(*base_cols, CHANGE_TYPE_COL, CHANGE_VERSION_COL),
        "vec_id",
    ).localCheckpoint(eager=True)  # window-sized; reused below
    if final.take(1):
        live = final.filter(F.col("op") == "upsert").select(*base_cols)
        assigned = live.withColumn(
            "cell",
            F.expr(ivf_cell_expr(to_double_array("embedding"), cents)).cast(
                "int"
            ),
        )
        if "codes" in [f.name for f in lay_schema.fields]:
            from .pq import load_pq_quantizer, pq_code_expr, residual_expr

            books, residual = load_pq_quantizer(spark, index_path, meta)
            src = (
                residual_expr(to_double_array("embedding"), "cell", cents)
                if residual
                else to_double_array("embedding")
            )
            # staged as its own column, as the build does: inlined, the
            # source (with the centroid literal) is repeated once per
            # (subspace x code) dot fold of the code expression
            assigned = (
                assigned.withColumn("__src", F.expr(src))
                .withColumn("codes", F.expr(pq_code_expr("__src", books)))
                .drop("__src")
            )
        # delete rows carry NULL payloads typed from the layout schema
        dead = final.filter(F.col("op") == "delete").select("vec_id")
        nulls = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in lay_schema.fields
            if f.name != "vec_id"
        ]
        cdc = assigned.withColumn("op", F.lit("upsert")).unionByName(
            dead.select("vec_id", *nulls).withColumn("op", F.lit("delete"))
        )
        layout.apply_cdc(cdc, key="vec_id", idempotency_token=lay_token)
    # re-stamp the sync point (metadata-only: same centroid rows, new op
    # entry) — a crash between the apply and this commit replays cleanly
    # (same window; the layout apply's token makes it a no-op)
    stamp_v = v_now
    fit = meta.get("fit")  # quantizer unchanged by a sync: the BUILD's
    # fit baseline stays the drift reference (r12)
    for _ in range(5):
        cent_df = cvt_cent.read().localCheckpoint(eager=True)
        try:
            return cvt_cent.commit(
                cent_df,
                mode="overwrite",
                idempotency_token=token,
                retry=False,  # snapshot-dependent payload (r12, ADVICE
                # r11): commit's blind OCC retry would republish these
                # pre-conflict centroid rows over a concurrent
                # rebuild_ivf_index's refit, silently reverting its new
                # centroids + layout pointer
                op_info={
                    "op": "ivf_sync",
                    "layout_kind": "vt",
                    "base": {"path": base["path"], "version": stamp_v},
                    **({"fit": fit} if fit else {}),
                },
            )
        except CommitConflict:
            # a concurrent centroid writer (another sync, or a rebuild
            # refit) landed between our CDC apply and this stamp. Its
            # centroid rows / layout pointer / fit baseline win (re-read
            # above on retry — never republish pre-conflict rows over a
            # refit), but its STAMP may not: our already-applied batch
            # and the winner's interleaved on the layout, so rows the
            # winner wrote from a newer base snapshot may have been
            # overwritten by our older finals. Re-stamp with the OLDER
            # of the two base versions — the next sync then replays the
            # union window, whose per-key final states land
            # idempotently, repairing any such interleaving (and on a
            # rebuilt index merely re-applies already-reflected keys).
            _c2, meta2 = load_ivf_index(spark, index_path)
            win = (meta2.get("base") or {}).get("version", stamp_v)
            stamp_v = min(stamp_v, win)
            fit = meta2.get("fit")
            token = f"{token}+occ"  # distinct from the winner's token
    raise CommitConflict(
        f"sync_ivf_index: could not re-stamp {index_path} after repeated "
        "concurrent centroid commits"
    )


def rebuild_ivf_index(
    spark: SparkSession,
    index_path: str,
    k_cells: int | None = None,
    seed: int = 7,
) -> int:
    """REFIT a versioned-base IVF index from its base table's CURRENT
    snapshot (r11 — the third leg of the maintenance lifecycle: detect
    staleness → repair content with ``sync_ivf_index`` → refit the
    quantizer here when drift crosses your recall budget). Sync keeps
    the index CORRECT but never moves the centroids; once the
    distribution has drifted (the count-based ``ivf_index_staleness``
    probe), a refit needs the current collection — which lives in the
    BASE TABLE, not in the ``sf_dir`` mirror the original build read
    (that directory is stale the moment the base takes maintenance).

    Reads the base snapshot pinned to its current version, refits
    k-means (``k_cells`` defaults to the existing cell count) and — for
    PQ builds — retrains codebooks with the SAME (m, k, residual)
    shape, writes a fresh clustered ``VersionedTable`` layout under a
    new immutable dir, and commits the centroid table with the new base
    stamp. Old layouts stay time-travelable until ``vacuum_ivf_index``.
    Cost shape: two full collection scans (the k-means fit and the
    layout write — both inherent to a refit); the PQ sample is
    limit-bounded and the row count reads parquet footers only.
    Returns the centroid-table version."""
    cents_old, meta = load_ivf_index(spark, index_path)
    base = meta.get("base")
    if not base:
        raise ValueError(
            f"IVF index at {index_path} was not built with base_path= — "
            "rebuild_ivf_index refits from the recorded base table; use "
            "build_ivf_index for directory collections"
        )
    corpus = VersionedTable(spark, base["path"])
    v_now = corpus.manifest()["version"]
    df = corpus.read(v_now)
    k = k_cells or len(cents_old)
    cents = fit_ivf_centroids(spark, sf_dir=None, k_cells=k, seed=seed,
                              embeddings=df)
    books = None
    residual = False
    try:
        from .pq import fit_pq_codebooks, load_pq_quantizer

        books_old, residual = load_pq_quantizer(spark, index_path, meta)
        books = fit_pq_codebooks(
            spark, sf_dir=None, m=len(books_old), k=len(books_old[0]),
            seed=seed, centroids=cents if residual else None, embeddings=df,
        )
    except FileNotFoundError:
        pass  # plain (non-PQ) build: nothing to retrain
    return _commit_ivf_index(
        spark, index_path, cents,
        base={"path": base["path"], "version": v_now},
        op_name="ivf_rebuild",
        built_from=base["path"],
        n_vecs=df.count(),
        layout_kind="vt",
        books=books,
        residual=residual,
        embeddings=df,
        k_cells=k,
    )


def optimize_ivf_layout(
    spark: SparkSession,
    index_path: str,
    num_files: int | None = None,
) -> int:
    """Re-cluster a repairable IVF layout (r11): repeated
    ``sync_ivf_index`` patches write files whose (cell, vec_id) ranges
    straddle many cells, so per-cell ``read_where`` pruning decays
    toward scanning the patch files for every probe. This rewrites the
    layout hierarchically clustered — ``optimize(cluster_by=["cell",
    "vec_id"])``, every file owning one contiguous cell range with
    fresh stats — as one atomic rowset-preserving version (serving is
    byte-identical before/after; the next sync's CDC apply simply works
    on the compacted files). The IVF analogue of OPTIMIZE after
    streaming ingest; run it on the same cadence. The default file count
    is byte-derived FLOORED at one file per cell — without the floor a
    small layout would compact into one all-cells file and every probe
    would scan the whole collection, the opposite of the point. Returns
    the layout table version."""
    cents, meta = load_ivf_index(spark, index_path)
    if meta.get("layout_kind") != "vt":
        raise ValueError(
            f"IVF index at {index_path} has an immutable directory layout"
            " — it is already cell-partitioned and never fragments"
        )
    return VersionedTable(
        spark, f"{index_path}/{meta['layout_dir']}"
    ).optimize(cluster_by=["cell", "vec_id"], num_files=num_files,
               min_files=len(cents))


#: count-based quantizer drift (|now-built|/built, `ivf_index_staleness`)
#: at which the maintain policy refits instead of syncing — sync repairs
#: CONTENT but never moves the centroids, so recall decays silently once
#: the distribution has drifted (the probe docstring's "0.5 = refit
#: advised" guidance, encoded)
MAINTAIN_REFIT_STALENESS = 0.5

#: relative mean-residual inflation (`ivf_fit_drift`) at which the
#: maintain policy refits when `check_fit_drift=True` — 25% larger mean
#: assigned-centroid distance than at build means the quantizer no
#: longer matches the distribution even if the COUNT never moved
MAINTAIN_REFIT_FIT_DRIFT = 0.25

#: cumulative REWRITTEN-row fraction of the build collection since the
#: fit at which the maintain policy runs the fit-drift probe WITHOUT
#: the explicit opt-in (r13, VERDICT r12 #7) — when half the corpus has
#: been upserted since the quantizer was fit, the count probe's blind
#: spot is statistically live, so the one data pass is warranted by
#: default rather than by operator knowledge
MAINTAIN_FIT_PROBE_CHURN = 0.5


def ivf_base_churn_since_fit(spark: SparkSession, meta: dict) -> float | None:
    """Cumulative REWRITTEN-row volume of the index's base table since
    the quantizer FIT, as a fraction of the build collection — the
    manifest-only scheduling signal for the fit-drift probe (r13,
    VERDICT r12 #7). Sums each window commit's recorded rewrite metrics
    (``rows_matched`` from upsert/CDC applies + ``rows_deleted``), which
    is exactly the volume the COUNT probe cannot see (an upsert replaces
    rows without moving the count). Appends are excluded — count growth
    already covers them.

    Returns ``None`` when the fit predates churn recording (a pre-r13
    build: no ``fit.base_version`` — rebuild once to enable), and
    ``float('inf')`` when the window is UNWALKABLE (the fit version was
    vacuumed away, or a commit replaced files without metrics) — unknown
    churn must schedule a probe, never silently skip it. Zero data read:
    one manifest walk."""
    fit = meta.get("fit") or {}
    fv = fit.get("base_version")
    if fv is None or not meta.get("base"):
        return None
    vt = VersionedTable(spark, meta["base"]["path"])
    vs = vt.versions()
    if fv not in vs:
        return float("inf")  # history vacuumed past the fit point
    churn = 0
    prev = set(vt.manifest(fv)["files"])
    for m in vt._walk_range(fv, None):
        cur = set(m["files"])
        op = m.get("op") or {}
        if prev <= cur or op.get("rowset_preserving"):
            pass  # append / optimize: no rewritten rows
        elif "rows_matched" in op or "rows_deleted" in op:
            if op.get("op") == "cdc":
                # a CDC apply's rows_matched already counts the rows its
                # delete keys hit — adding rows_deleted (batch delete
                # ROWS, matched or not) would double-count
                churn += int(op.get("rows_matched") or 0)
            else:
                churn += int(op.get("rows_matched") or 0)
                churn += int(op.get("rows_deleted") or 0)
        else:
            return float("inf")  # unrecorded rewrite: unbounded churn
        prev = cur
    return churn / max(1, int(meta["n_vectors_at_build"]))


class _IvfIndex(Maintained):
    """A versioned-base IVF index under ``table.maintain``: layout table
    = the current "vt" layout, cluster key ``cell``, compact =
    ``optimize_ivf_layout``, vacuum = ``vacuum_ivf_index`` (centroid
    versions, unreferenced layout dirs, the retained layout's patch
    versions)."""

    what = "centroid"
    swept_unit = "layout dir(s)"

    def __init__(self, spark, index_path, refit_staleness, token,
                 check_fit_drift, fit_probe_churn, vacuum_min_age_sec):
        self.spark, self.path = spark, index_path
        self.refit_staleness = refit_staleness
        self.token = token
        self.check_fit_drift = check_fit_drift
        self.fit_probe_churn = fit_probe_churn
        self.min_age_sec = vacuum_min_age_sec
        self.kind = self.growth = self.fit_drift = self.churn = None

    def classify(self, dry_run):
        spark, index_path = self.spark, self.path
        cents, meta = load_ivf_index(spark, index_path)
        if not meta.get("base"):
            raise ValueError(
                f"IVF index at {index_path} was not built with base_path= "
                "— maintain_ivf_index needs the recorded base sync point"
            )
        if meta.get("layout_kind") != "vt":
            raise ValueError(
                f"IVF index at {index_path} has an immutable directory "
                "layout (pre-r11 build) — rebuild with "
                "build_ivf_index(base_path=...) to get the maintainable "
                "VersionedTable layout"
            )
        self.meta = meta
        st = ivf_index_rowset_staleness(
            spark, index_path, meta=meta, allow_rewritten=True
        )
        self.kind = st["kind"]
        growth = self.growth = ivf_index_staleness(
            spark, index_path, sf_dir=None, meta=meta
        )
        refit = self.refit_staleness
        probe_fit = self.check_fit_drift
        auto_probed = False
        if (
            not probe_fit
            and self.fit_probe_churn is not None
            and growth < refit
            and (meta.get("fit") or {}).get("base_version") is not None
        ):
            # the manifest-only churn walk (rewritten rows since the
            # FIT, the volume the count probe is blind to) schedules the
            # one data pass; pre-r13 fit records never auto-probe
            self.churn = ivf_base_churn_since_fit(spark, meta)
            if self.churn is not None and self.churn >= self.fit_probe_churn:
                probe_fit = auto_probed = True
        if probe_fit and growth < refit:
            # ONE column-pruned data pass — skipped when the free count
            # probe already mandates the refit
            self.fit_drift = ivf_fit_drift(
                spark, index_path, preloaded=(cents, meta)
            )["rel_drift"]
        if growth >= refit:
            return "rebuild", [
                f"collection moved {growth:.0%} since the quantizer fit "
                f"(>= {refit:.0%}) — sync cannot move centroids, recall "
                "decays silently; refit"
                + (" (fit-drift probe skipped: redundant)"
                   if self.check_fit_drift else "")
            ]
        if self.fit_drift is not None \
                and self.fit_drift >= MAINTAIN_REFIT_FIT_DRIFT:
            return "rebuild", [
                f"mean assigned-centroid distance inflated "
                f"{self.fit_drift:.0%} since the fit (>= "
                f"{MAINTAIN_REFIT_FIT_DRIFT:.0%}) with count drift only "
                f"{growth:.0%} — the upsert-heavy blind spot of the count "
                "probe; refit"
                + (f" (probe auto-scheduled: {self.churn:.0%} of the "
                   "corpus rewritten since the fit)" if auto_probed else "")
            ]
        since = f"since v{st['built_at_base_version']} and drift {growth:.0%}"
        if st["kind"] != "unchanged":
            return "sync", [
                f"base {st['kind']} {since} below the refit threshold — "
                "repair content at change-feed cost (stored quantizer)"
            ]
        return None, [
            f"base unchanged {since} below the refit threshold — no "
            "content action"
        ]

    def run(self, action):
        if action == "rebuild":
            rebuild_ivf_index(self.spark, self.path)
            _c, self.meta = load_ivf_index(self.spark, self.path)
        else:
            sync_ivf_index(self.spark, self.path,
                           idempotency_token=self.token)

    def layout(self):
        return VersionedTable(
            self.spark, f"{self.path}/{self.meta['layout_dir']}"
        ), "cell"

    def compact(self):
        optimize_ivf_layout(self.spark, self.path)

    def vacuum(self, retain_last):
        return vacuum_ivf_index(self.spark, self.path,
                                retain_last=retain_last,
                                min_age_sec=self.min_age_sec)


def maintain_ivf_index(
    spark: SparkSession,
    index_path: str,
    dry_run: bool = False,
    refit_staleness: float = MAINTAIN_REFIT_STALENESS,
    frag_depth_max: int = FRAG_DEPTH_MAX,
    idempotency_token: str | None = None,
    check_fit_drift: bool = False,
    fit_probe_churn: float | None = MAINTAIN_FIT_PROBE_CHURN,
    vacuum_retain_last: int | None = None,
    vacuum_min_age_sec: int = 3600,
) -> dict:
    """``table.maintain`` for a versioned-base "vt" IVF index, with
    exactly ONE content action per call (a plan holding both would sync
    the layout the rebuild just replaced):

    - count drift (``ivf_index_staleness``) ≥ ``refit_staleness``
      (default 0.5) → ``rebuild_ivf_index``: sync keeps content correct
      but never moves centroids, so recall decays silently;
    - else, when probed, mean-residual inflation (``ivf_fit_drift``, one
      column-pruned data pass) ≥ ``MAINTAIN_REFIT_FIT_DRIFT`` (25%) →
      rebuild: the upsert-heavy blind spot of the count probe. The probe
      runs with ``check_fit_drift=True`` or, by default, once the
      manifest-only churn walk ``ivf_base_churn_since_fit`` reads ≥
      ``fit_probe_churn`` (50%) of the corpus rewritten since the fit
      (``None`` disables the schedule);
    - else base ``appended``/``rewritten`` → ``sync_ivf_index``;
    - else no content action.

    The layout leg re-clusters on ``cell``; a big cell legitimately
    spans several files, which the clustered-baseline floor absorbs.
    ``vacuum_min_age_sec`` is ``vacuum_ivf_index``'s in-flight-build
    window. Returns ``{"actions", "reasons", "kind", "growth",
    "fit_drift", "churn_since_fit", "frag_depth", "frag_floor",
    "dry_run"[, "centroid_version"]}``."""
    art = _IvfIndex(spark, index_path, refit_staleness, idempotency_token,
                    check_fit_drift, fit_probe_churn, vacuum_min_age_sec)
    rep = maintain(art, dry_run=dry_run, frag_depth_max=frag_depth_max,
                   vacuum_retain_last=vacuum_retain_last)
    out = {"actions": rep["actions"], "reasons": rep["reasons"],
           "kind": art.kind, "growth": art.growth,
           "fit_drift": art.fit_drift, "churn_since_fit": art.churn,
           "frag_depth": rep["frag_depth"],
           "frag_floor": rep["frag_floor"], "dry_run": dry_run}
    if not dry_run:
        out["centroid_version"] = VersionedTable(
            spark, f"{index_path}/centroids"
        ).manifest()["version"]
    return out


def vacuum_ivf_index(
    spark: SparkSession,
    index_path: str,
    retain_last: int = 1,
    min_age_sec: int = 3600,
) -> int:
    """Sweep index storage: vacuum the centroid table to its newest
    ``retain_last`` versions, then delete every per-build layout directory
    no retained version references (layouts are immutable and multi-GB at
    scale — the retention knob IS the time-travel window). Returns the
    number of layout directories deleted.

    Repairable layouts (r11): a retained ``VersionedTable`` layout
    accumulates internal versions + change files as ``sync_ivf_index``
    patches it — those are vacuumed to the newest internal version here
    (serving always reads the layout's latest state).

    ``min_age_sec``: an unreferenced layout younger than this is SKIPPED —
    ``build_ivf_index`` writes its layout BEFORE committing the centroid
    manifest, so a concurrent build's brand-new layout is legitimately
    unreferenced for a short window; sweeping it would leave the
    about-to-commit version pointing at a vanished directory. Same
    retention-window convention every manifest-based table format uses
    for uncommitted files. Pass 0 only when no build can be in flight.

    The age cutoff is derived from the FILESYSTEM's clock (mtime of a
    just-written probe file), not the driver's wall clock — layout mtimes
    are stamped by the storage system, and clock skew between driver and
    a remote object store would otherwise silently shrink the safety
    window and sweep an in-flight build's layout (r6 ADVICE)."""
    vt = VersionedTable(spark, f"{index_path}/centroids")
    vt.vacuum(retain_last=retain_last)
    referenced = set()
    vt_layouts = set()
    for v in vt.versions():
        _, meta = load_ivf_index(spark, index_path, version=v)
        referenced.add(meta["layout_dir"])
        if meta.get("layout_kind") == "vt":
            vt_layouts.add(meta["layout_dir"])
    for ld in vt_layouts:
        VersionedTable(spark, f"{index_path}/{ld}").vacuum(retain_last=1)
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    deleted = 0
    # filesystem "now": mtime of a probe file written through the same FS,
    # so layout ages compare against the clock that stamped them
    probe = HPath(f"{index_path}/.vacuum-probe")
    fs.create(probe, True).close()
    fs_now_ms = fs.getFileStatus(probe).getModificationTime()
    fs.delete(probe, False)
    cutoff_ms = fs_now_ms - min_age_sec * 1000.0
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            is_layout = name == "layout" or name.startswith("layout-")
            if not (st.isDirectory() and is_layout and name not in referenced):
                continue
            if st.getModificationTime() > cutoff_ms:
                continue  # possibly an in-flight build's layout
            fs.delete(st.getPath(), True)
            deleted += 1
    return deleted


def ann_lsh_single_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe LSH top-k (library twin of the declared multiprobe
    query): each query scores only its own bucket — 1/256th of the
    collection, lowest cost, lowest recall. Kept for the recall-vs-cost
    comparison test."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", f"{to_double_array('embedding')} AS v")
        .selectExpr("vec_id", "v", f"{norm('v')} AS nrm", f"{lsh_bucket_expr('v')} AS bucket")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    cos_r = F.round(F.expr(dot("qv", "v")) / (F.col("qnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        e.join(
            F.broadcast(q),
            (F.col("qbucket") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_r.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
        .drop("rn")
    )
