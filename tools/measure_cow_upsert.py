"""Measure the copy-on-write upsert vs the full-rewrite twin (round 8).

The scenario `VersionedTable.upsert`'s r8 rebuild exists for: a
key-clustered table of N rows takes a micro-batch of 1,000 updates +
100 inserts. The pre-r8 implementation (kept verbatim here as the twin)
reads the WHOLE table, scd1-merges, and rewrites every row; the
copy-on-write path probes for the files containing matched keys and
rewrites only those. Both must produce byte-identical tables (asserted
by checksum; each shape's checksum is printed, so runs of two revisions
can be compared too).

Two batch shapes, because the pruning win depends on key locality:
  - clustered: all update keys fall in one file's key range (the design
    case — "updates touch recent data" on a range/Z-clustered table);
  - scattered: keys spread uniformly over the table, so nearly every
    file contains a match and copy-on-write degenerates to ~full
    rewrite plus the probe (the honest worst case).

Protocol: idle machine, fresh JVM per corpus size (invoke once per N),
1 warmup + median-of-3 per implementation; the table is reset between
reps by dropping post-base manifests and vacuuming their files, so
every rep merges into the identical base. Prints one JSON line;
recorded in SCALING.md.

Usage: python tools/measure_cow_upsert.py [n_rows] [cpus]
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

CHK = "bit_xor(xxhash64(k, v, s))"


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from pyspark.sql import functions as F

    from etl_airflow_adventureworks_spark.operators.upsert import scd1_upsert
    from etl_airflow_adventureworks_spark.session import get_spark
    from etl_airflow_adventureworks_spark.table import VersionedTable

    spark = get_spark(app_name="cow-upsert", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 1009).alias("v"),
        F.md5(F.col("id").cast("string")).alias("s"),  # ~32 B payload
    )
    n_files = max(4, n_rows // 250_000)

    def batch(keys: list[int]):
        upd = spark.createDataFrame([(k,) for k in keys], "k long").select(
            "k", F.lit(-1).cast("long").alias("v"),
            F.lit("updated-row-payload-32-bytes----").alias("s"),
        )
        ins = spark.range(n_rows, n_rows + 100).select(
            F.col("id").alias("k"), F.lit(-2).cast("long").alias("v"),
            F.lit("inserted-row-payload-32-bytes---").alias("s"),
        )
        return upd.unionByName(ins).localCheckpoint(eager=True)

    shapes = {
        "clustered": batch(list(range(n_rows - 2_000, n_rows - 1_000))),
        "scattered": batch(list(range(0, n_rows, max(1, n_rows // 1_000)))[:1_000]),
    }

    tmp = tempfile.mkdtemp(prefix="cow_upsert_")
    t = VersionedTable(spark, f"{tmp}/t")
    t.commit(
        base.repartitionByRange(n_files, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def reset() -> None:
        for v in t.versions():
            if v > 1:
                t._fs.delete(t._manifest_path(v), False)
        t.vacuum(retain_last=1)

    def run_cow(b) -> None:
        t.upsert(b, key="k")

    def run_full(b) -> None:
        # the pre-r8 implementation, verbatim
        merged = scd1_upsert(t.read(), b, "k").localCheckpoint(eager=True)
        t.commit(merged, mode="overwrite")

    out: dict = {
        "metric": "cow_upsert_vs_full_rewrite",
        "n_rows": n_rows,
        "n_files": n_files,
        "batch": 1_100,
        "cpus": cpus,
        "protocol": "1 warmup + median-of-3, reset to base between reps",
    }
    for shape, b in shapes.items():
        # checksum equality first (also the warmup for both paths)
        run_cow(b)
        chk_cow = t.read().selectExpr(CHK).first()[0]
        op = t.manifest()["op"]
        reset()
        run_full(b)
        chk_full = t.read().selectExpr(CHK).first()[0]
        reset()
        assert chk_cow == chk_full, f"{shape}: cow != full rewrite"
        times = {}
        for name, fn in (("cow", run_cow), ("full", run_full)):
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(b)
                reps.append(round(time.perf_counter() - t0, 3))
                reset()
            times[name] = statistics.median(reps)
        out[shape] = {
            **times,
            "speedup": round(times["full"] / times["cow"], 2),
            "files_rewritten": op["files_rewritten"],
            "files_carried": op["files_carried"],
            "checksum": chk_cow,
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
