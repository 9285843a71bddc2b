"""Source/sink format round-trips: parquet (default), ORC, JSON-lines,
zstd compression — each preserving row-for-row content."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from etl_airflow_adventureworks_spark.sinks import write_table
from etl_airflow_adventureworks_spark.sources import load_table


_FORMATS = [
    ("parquet", "zstd"),
    ("orc", None),
    ("json", None),
]


@pytest.mark.parametrize("fmt,compression", _FORMATS)
def test_roundtrip(spark, tmp_path, fmt, compression):
    src = load_table(spark, SF_SMOKE, "nation")
    out = str(tmp_path / f"nation_{fmt}")
    write_table(src, out, fmt=fmt, compression=compression)
    back = spark.read.format(fmt).load(out)
    if fmt == "json":  # JSON infers wider types; normalize
        back = back.select(
            F.col("n_nationkey").cast("int"),
            F.col("n_name"),
            F.col("n_regionkey").cast("int"),
        )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("fmt,compression,layout", [
    *[(fmt, compression, "plain") for fmt, compression in _FORMATS],
    ("parquet", None, "partitioned"),
    ("parquet", None, "coalesced"),
    ("parquet", None, "empty"),
])
def test_write_table_returns_rows_written(spark, tmp_path, fmt, compression, layout):
    src = load_table(spark, SF_SMOKE, "orders").withColumn("ano", F.year("o_orderdate"))
    kwargs = {"partitioned": {"partition_by": ["ano"]},
              "coalesced": {"coalesce_to": 2}}.get(layout, {})
    if layout == "empty":
        src = src.filter(F.lit(False))
    out = str(tmp_path / f"orders_{fmt}_{layout}")
    rows = write_table(src, out, fmt=fmt, compression=compression, **kwargs)
    assert rows == spark.read.format(fmt).load(out).count()
    assert rows == (0 if layout == "empty" else src.count())


def test_partitioned_overwrite_idempotent(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "orders").withColumn(
        "ano", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    write_table(src, out, partition_by=["ano"], compression="zstd")
    n1 = spark.read.parquet(out).count()
    write_table(src, out, partition_by=["ano"], compression="zstd")
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == src.count()


_DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def test_jdbc_roundtrip_embedded_derby(spark):
    """op 6 smoke: write_jdbc against a real JDBC database (embedded Derby —
    its jar ships with Spark) — create, truncate+reload, read-back."""
    from etl_airflow_adventureworks_spark.sinks import write_jdbc

    url = "jdbc:derby:memory:sinkdb;create=true"
    props = {"driver": _DERBY}
    src = load_table(spark, SF_SMOKE, "nation")
    write_jdbc(src, url, "nation_jdbc", batchsize=7, properties=props)
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "nation_jdbc")
        .option("driver", _DERBY).load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # second overwrite goes down the TRUNCATE path (truncate=true) — the
    # reference's TRUNCATE+reload idempotence contract (etl_fato_vendas)
    write_jdbc(src.limit(5), url, "nation_jdbc", properties=props)
    back2 = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "nation_jdbc")
        .option("driver", _DERBY).load()
    )
    assert back2.count() == 5


def test_compact_table_preserves_rows_and_shrinks_files(spark, tmp_path):
    import os

    from etl_airflow_adventureworks_spark.sinks import compact_table

    out = str(tmp_path / "frag")
    src = load_table(spark, SF_SMOKE, "orders")
    src.repartition(32).write.parquet(out)
    before = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    rows_before = sorted(map(tuple, spark.read.parquet(out).collect()))
    compact_table(spark, out, target_file_bytes=64 * 1024 * 1024)
    after = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert after < before
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == rows_before


def test_compact_table_guards_missing_and_empty_dirs(spark, tmp_path):
    # Hadoop-FS path resolution: a missing dir and a dir with no parquet
    # data must fail loudly instead of coalescing to 1 file and deleting
    import pytest

    from etl_airflow_adventureworks_spark.sinks import compact_table

    with pytest.raises(FileNotFoundError):
        compact_table(spark, str(tmp_path / "nope"))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(ValueError, match="no parquet data"):
        compact_table(spark, str(empty))
    assert (empty / "_SUCCESS").exists()  # nothing was deleted


def test_compact_table_partitioned_layout(spark, tmp_path):
    # recursive sizing + rename must survive a partitionBy layout
    from etl_airflow_adventureworks_spark.sinks import compact_table

    out = str(tmp_path / "part")
    src = load_table(spark, SF_SMOKE, "orders").withColumn(
        "bucket", F.pmod(F.col("o_orderkey"), F.lit(3))
    )
    src.repartition(8).write.partitionBy("bucket").parquet(out)
    rows_before = sorted(map(tuple, spark.read.parquet(out).collect()))
    n = compact_table(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert n >= 1
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == rows_before


def test_binaryfile_source_feeds_multimodal_decode(spark, tmp_path):
    """Ingestion end to end: real files on disk → binaryFile source →
    the same decode path the declared multimodal query gates."""
    import hashlib
    import zlib

    from etl_airflow_adventureworks_spark.operators.multimodal import (
        extract_features,
        make_wav,
    )
    from etl_airflow_adventureworks_spark.sources import load_media_dir

    texts = {"a": b"hello media world", "b": b"x" * 31, "c": b"odd\x01"}
    (tmp_path / "a.wav").write_bytes(make_wav(texts["a"]))
    (tmp_path / "b.zlib").write_bytes(zlib.compress(texts["b"]))
    (tmp_path / "c.wav").write_bytes(make_wav(texts["c"]))
    (tmp_path / "ignore.txt").write_bytes(b"not media")

    media = load_media_dir(spark, str(tmp_path), glob="*.{wav,zlib}")
    rows = media.select(
        "media_id", "media_type", F.col("payload")
    ).withColumn("doc_id", F.lit(0)).collect()
    assert {r["media_id"] for r in rows} == {"a", "b", "c"}

    feats = extract_features(
        media.selectExpr(
            "CAST(hash(media_id) AS LONG) AS doc_id", "media_type", "payload"
        )
    )
    got = {
        r["decoded_md5"]
        for r in feats.select("decoded_md5").collect()
    }
    want = {hashlib.md5(t).hexdigest() for t in texts.values()}
    assert got == want


def test_write_size_targeted_hits_band(spark, tmp_path):
    """The 256 MB-style size-targeted writer, scaled down: writing the
    documents corpus (variable row sizes) with a 256 KB target must
    produce multiple files whose sizes cluster around target — every
    non-tail file within [0.5x, 1.6x] — and round-trip identically.
    Footer overhead on the probe biases bytes-per-row UP, so files err
    small, never blow past the target (the object-store failure mode)."""
    from etl_airflow_adventureworks_spark.sinks import write_size_targeted

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # replicate ~100x with varied text so compression can't collapse the
    # copies — gives a few MB, enough to split against a 1 MB target
    df = (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(99))))
        .withColumn("text", F.concat("text", F.lit(" rep="), F.col("rep").cast("string")))
        .repartition(2)
    )
    out = str(tmp_path / "sized")
    target_mb = 1
    max_records = write_size_targeted(df, out, target_mb=target_mb)
    assert max_records > 0

    import glob
    import os

    sizes = sorted(
        os.path.getsize(f) for f in glob.glob(os.path.join(out, "part-*"))
    )
    assert len(sizes) >= 3, sizes  # actually split into multiple files
    target = target_mb * 1024 * 1024
    # per write-task, the LAST file is a remainder — allow one small tail
    # per input partition; every other file must be in the band
    full = [s for s in sizes if s >= 0.5 * target]
    tails = [s for s in sizes if s < 0.5 * target]
    assert len(tails) <= df.rdd.getNumPartitions(), sizes
    assert full, sizes
    assert all(s <= 1.6 * target for s in full), sizes
    assert not glob.glob(out + ".__size_probe"), "probe dir left behind"

    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_write_size_targeted_rejects_bad_input(spark, tmp_path):
    from etl_airflow_adventureworks_spark.sinks import write_size_targeted

    df = spark.range(5)
    with pytest.raises(ValueError, match="target_mb"):
        write_size_targeted(df, str(tmp_path / "x"), target_mb=0)
    with pytest.raises(ValueError, match="empty frame"):
        write_size_targeted(df.filter("id < 0"), str(tmp_path / "y"))
