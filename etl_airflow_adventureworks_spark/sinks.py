"""Sinks (SURVEY.md §2 ops 5-6).

Reference: TRUNCATE-and-load into Postgres with chunked inserts
(dags/etl_fato_vendas.py:111-122). Spark-first mapping: overwrite-mode
parquet writes (same idempotence contract — a re-run fully replaces the
table) and a JDBC sink with batched writes for a kept-Postgres deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sources.parquet import invalidate_scan_memo
from .table import TARGET_FILE_BYTES, files_for_bytes


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    coalesce_to: int | None = None,
    fmt: str = "parquet",
    compression: str | None = None,
) -> int:
    """Idempotent overwrite write (op 5); returns the number of rows
    written. ``partition_by`` drives partition pruning for downstream
    scans (e.g. fact partitioned by year); at 100 TB this is the layout
    decision that replaces the reference's b-tree indexes
    (create_dw_tables.sql:68-72, SURVEY.md §4).

    ``fmt``: parquet (default) / orc / json — same overwrite contract.
    ``compression``: e.g. 'zstd' for parquet/orc (better ratio than the
    default snappy at similar scan speed — the 100 TB storage-bill knob).

    The row count is observed on the write's own job (``DataFrame.observe``),
    so a caller that needs it pays no re-read of the table.
    """
    if coalesce_to:
        df = df.coalesce(coalesce_to)
    written = Observation()
    w = df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").format(fmt)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    invalidate_scan_memo(path)
    return written.get["rows"]


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 5000,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink with chunked batches (op 6; to_sql chunksize=5000,
    dags/etl_fato_vendas.py:121). Spark writes one batch stream per
    partition — ``repartition(n)`` upstream to bound connection count.
    ``truncate=true`` maps the reference's TRUNCATE+reload idempotence
    contract (overwrite truncates instead of drop/create, preserving
    indexes/grants on the target). Smoke-tested against embedded Derby
    (jar ships with Spark) in tests/test_sinks_formats.py; a Postgres
    deployment only swaps the url + driver jar. See SCALING.md §JDBC."""
    opts = {"truncate": "true", "batchsize": str(batchsize), **(properties or {})}
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(**opts).mode(
        mode
    ).save()


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder: list[str] | None = None,
) -> int:
    """Small-files compaction (table maintenance): rewrite a parquet
    directory into ~``target_file_bytes`` files and return the new file
    count. Streaming sinks and fine-grained incremental loads accumulate
    tiny files; at 100 TB the resulting per-file open/footer overhead
    dominates scan time, so periodic compaction is part of operating the
    warehouse (the lakehouse-format OPTIMIZE, expressed with plain Spark).

    Row-count-preserving (asserted in tests) but NOT atomic on plain
    parquet: the rewrite goes to a sibling temp dir and swaps via rename,
    so a crash between remove and rename loses the listing, not the data
    (the temp dir still holds the full rewrite). A lakehouse table format
    (Delta/Iceberg) makes the swap a metadata commit; the rewrite plan is
    identical.

    Sizing, delete and swap go through the Hadoop FileSystem API resolved
    from the path's own scheme, so the same code compacts file://, hdfs://
    and s3a:// tables (on object stores the final rename is a copy, which
    is exactly what lakehouse OPTIMIZE avoids — see the atomicity note).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)
    if not fs.exists(src):
        raise FileNotFoundError(f"compact_table: no such table dir: {path}")
    # parquet data bytes only (skip _SUCCESS/_metadata markers); recursive
    # so partitioned layouts are sized correctly
    total = 0
    it = fs.listFiles(src, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += st.getLen()
    if total == 0:
        raise ValueError(f"compact_table: no parquet data files under {path}")
    n_files = files_for_bytes(total, target=target_file_bytes)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    if zorder:
        # OPTIMIZE ... ZORDER BY: recluster while compacting — this one
        # DOES pay the range shuffle, bought back by multi-column file
        # skipping on every later scan (operators/layout.py)
        from .operators.layout import write_zordered

        write_zordered(df, tmp, zorder, num_files=n_files)
    else:
        # coalesce, not repartition: plain compaction must not pay a shuffle
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    fs.delete(src, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), src):
        raise IOError(f"compact_table: rename {tmp} -> {path} failed")
    invalidate_scan_memo(path)
    return n_files


def write_size_targeted(
    df: DataFrame,
    path: str,
    target_mb: int = TARGET_FILE_BYTES >> 20,
    fmt: str = "parquet",
    compression: str | None = None,
    partition_by: list[str] | None = None,
    sample_rows: int = 10_000,
) -> int:
    """Overwrite write with a TARGET OUTPUT FILE SIZE (default: the
    ``table.TARGET_FILE_BYTES`` every other writer sizes to — large
    enough to amortize request cost and scan setup, small enough to
    parallelize and retry).

    Spark sizes output files in ROWS (``maxRecordsPerFile``), not bytes,
    so the bytes→rows conversion is measured, not guessed: a
    ``sample_rows``-row probe is written to ``<path>.__size_probe`` in the
    same format/compression, encoded bytes-per-row is read off the probe
    files, and the real write runs with
    ``maxRecordsPerFile = target_bytes / bytes_per_row``. Cost: one tiny
    extra write — nothing for a multi-TB output. The probe measures
    ENCODED size, so column-encoding/compression ratios are accounted
    for; a heavily skewed row-size distribution (some docs 100× longer)
    still lands within ~the skew factor of target. No global count or
    extra shuffle is introduced: under-filled tasks simply emit smaller
    files (pair with ``compact_table`` if small files accumulate).

    Returns the ``maxRecordsPerFile`` used.
    """
    import glob
    import os
    import shutil

    if target_mb <= 0:
        raise ValueError(f"target_mb must be positive, got {target_mb}")
    probe_dir = path.rstrip("/") + ".__size_probe"
    probe = df.limit(sample_rows).coalesce(1)
    w = probe.write.mode("overwrite").format(fmt)
    if compression:
        w = w.option("compression", compression)
    w.save(probe_dir)
    spark = df.sparkSession
    n_probe = spark.read.format(fmt).load(probe_dir).count()
    if n_probe == 0:
        shutil.rmtree(probe_dir, ignore_errors=True)
        raise ValueError("cannot size-target an empty frame")
    probe_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(probe_dir, "part-*"))
    )
    shutil.rmtree(probe_dir, ignore_errors=True)
    bpr = max(1.0, probe_bytes / n_probe)
    max_records = max(1, int(target_mb * 1024 * 1024 / bpr))
    w = (
        df.write.mode("overwrite")
        .format(fmt)
        .option("maxRecordsPerFile", max_records)
    )
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    invalidate_scan_memo(path)
    return max_records
