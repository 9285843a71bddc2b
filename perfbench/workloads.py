"""The benchmark workloads. Each is a closed loop with one caller:
``setup`` generates the inputs and runs the prerequisite and warm-up
operations (untimed, inside ``setup_s``); ``rounds`` yields the timed
operations, a round at a time; ``check`` verifies every output against
DuckDB; ``metrics`` turns the recorded latencies into the end-to-end
metrics.

End-to-end metric names are shared by the workloads; what an operation,
an item and a written row are differ per workload (perfbench/README.md).
"""

from __future__ import annotations

import contextlib
import time

import numpy as np
import pyarrow.parquet as pq

from . import checks, gen
from .trace import dir_usage

#: star scale relative to TPC-H sf1 row counts: 0.02 -> 120k lineitem
#: rows, the size of the reference's own 121,317-row fact table
STAR_SF = 0.02
#: near-dup ingest shape
BASE_DOCS = 5_000
BATCH_DOCS = 500
DUP_SHARE = 0.1
#: registry KPIs served beside the reference SQL (plans.kpis)
REGISTRY_KPIS = ["kpi_globals", "kpi05_top5_products", "kpi06_sales_by_category",
                 "kpi07_sales_by_country", "kpi08_seasonality", "kpi09_top10_suppliers"]
BUILD = "build_star"
#: warehouse refreshes per kpi_serving round; rows_written_per_s is
#: their median, so one slow build does not move it
BUILDS_PER_ROUND = 3
#: epochs per corpus_ingest round: with warm epochs of 3-4.5 s an
#: untraced run at --seconds 25 times one round, so every run times the
#: same epochs of the warm-up tail, however fast they run
EPOCHS_PER_ROUND = 6
#: untimed epochs in set-up: the first epoch of a run is the slowest,
#: and later ones keep getting faster for more than ten epochs (about
#: 4.6 s down to 3.5 s), so the timed round is a fixed stretch of that
#: tail; two warm-up epochs instead of three saved no run time (the
#: timed epochs ran slower) and widened the op_p50_ms spread
WARMUP_EPOCHS = 3


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0 when no
    operation succeeded, so a failed run still prints its result."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0 when nothing was measured."""
    return num / den if den else 0.0


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: int) -> None:
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.seconds = seconds
        #: latencies of the operations op_p50_ms / op_p90_ms describe
        self.latencies: list[float] = []
        #: set-up phase -> seconds, reported on the host line
        self.phases: dict[str, float] = {}
        #: generated input rows and parquet bytes, reported on the host line
        self.inputs: dict[str, int] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def rounds(self):
        """Yield lists of (label, thunk); a round is timed whole."""
        raise NotImplementedError

    def record(self, label: str, result, seconds: float) -> None:
        """Keep what ``check`` and ``metrics`` need from one timed
        operation (untimed)."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        raise NotImplementedError

    def latency_metrics(self) -> dict[str, float]:
        return {
            "op_p50_ms": percentile(self.latencies, 50) * 1000.0,
            "op_p90_ms": percentile(self.latencies, 90) * 1000.0,
        }


class KpiServing(Workload):
    """The reference's daily cycle: a warehouse refresh (``build_star``:
    five dimensions, then the fact from the materialized dimensions),
    then analysts' queries: the 10 reference KPIs over the fresh
    warehouse mixed with the registry KPIs over the sources. A round
    refreshes ``BUILDS_PER_ROUND`` times and runs each query once, in a
    seeded order, about an equal share after each refresh."""

    name = "kpi_serving"

    def setup(self) -> None:
        from etl_airflow_adventureworks_spark.plans.reference_kpis import REFERENCE_KPI_SQL

        self.star_dir = f"{self.dir}/star"
        self.wh_dir = f"{self.dir}/warehouse"
        with self.phase("generate"):
            star = gen.generate_star(self.star_dir, self.seed, STAR_SF)
        self.input_bytes = sum(star["bytes"].values())
        self.inputs = {"rows": sum(star["rows"].values()), "bytes": self.input_bytes}
        self.reference = dict(REFERENCE_KPI_SQL)
        self.names = list(self.reference) + REGISTRY_KPIS
        self.rng = np.random.default_rng([self.seed, 3])
        self.builds: list[tuple[dict, list[int], float]] = []
        self.results: list[tuple[str, list[tuple]]] = []
        # a cold first build or query pass runs 1.3-3x a warm one
        with self.phase("build_warehouse"):
            self._build()
        with self.phase("warm_up"):
            for name in self.names:
                self._query(name)

    def _build(self) -> dict[str, int]:
        from etl_airflow_adventureworks_spark.plans import pipeline

        return pipeline.build_star(self.spark, self.star_dir, self.wh_dir)

    def _query(self, name: str) -> list[tuple]:
        from etl_airflow_adventureworks_spark.plans import reference_kpis
        from etl_airflow_adventureworks_spark.registry import QUERIES

        if name in self.reference:
            df = reference_kpis.run_reference_kpi(self.spark, self.wh_dir, name)
        else:
            df = QUERIES[name](self.spark, self.star_dir)
        return [tuple(r) for r in df.collect()]

    def rounds(self):
        while True:
            order = np.array_split(self.rng.permutation(len(self.names)), BUILDS_PER_ROUND)
            yield [op for share in order for op in [
                (BUILD, self._build),
                *[(self.names[i], lambda n=self.names[i]: self._query(n)) for i in share]]]

    def record(self, label, result, seconds) -> None:
        if label == BUILD:
            self.builds.append((result, checks.fact_checksum(self.wh_dir), seconds))
        else:
            self.latencies.append(seconds)
            self.results.append((label, result))

    def metrics(self) -> dict[str, float]:
        return {
            **self.latency_metrics(),
            "items_per_s": ratio(len(self.latencies), sum(self.latencies)),
            "rows_written_per_s": percentile(
                [counts["fact_sales"] / s for counts, _, s in self.builds], 50),
            "out_bytes_per_in_byte": dir_usage(self.wh_dir)[1] / self.input_bytes,
        }

    def check(self) -> list[str]:
        build = checks.expected_build(self.star_dir)
        bad = []
        for i, (counts, checksum, _) in enumerate(self.builds):
            bad += [f"build {i}: {m}" for m in checks.check_build(counts, checksum, build)]
        want = checks.expected_kpis(self.star_dir, self.wh_dir, self.reference, REGISTRY_KPIS)
        for name, rows in self.results:
            bad += checks.check_rows(name, rows, want[name])
        return bad


class CorpusIngest(Workload):
    """Epochs of ``BATCH_DOCS`` documents admitted through
    ``ingest_batch_with_dedup`` against a base corpus and near-dup index
    built in set-up; ``DUP_SHARE`` of each batch are planted near-dups.
    A round is ``EPOCHS_PER_ROUND`` epochs."""

    name = "corpus_ingest"

    def setup(self) -> None:
        from etl_airflow_adventureworks_spark.operators.dedup_incremental import (
            build_neardup_index,
        )
        from etl_airflow_adventureworks_spark.table import VersionedTable

        with self.phase("generate"):
            self.corpus = gen.Corpus(f"{self.dir}/docs", self.seed, BASE_DOCS, BATCH_DOCS,
                                     DUP_SHARE)
        self.corpus_dir = f"{self.dir}/corpus"
        self.index_dir = f"{self.dir}/index"
        self.epochs: list[dict] = []
        #: epoch number -> doc ids the program rejected, filled by ``check``
        self.rejected: dict[int, set[int]] = {}
        with self.phase("build_index"):
            base = self.spark.read.parquet(self.corpus.base_path).select("doc_id", "text")
            VersionedTable(self.spark, self.corpus_dir).commit(base, mode="overwrite")
            build_neardup_index(self.spark,
                                VersionedTable(self.spark, self.corpus_dir).read(),
                                self.index_dir)
        with self.phase("warm_up"):
            for _ in range(WARMUP_EPOCHS):
                self._note(*self._admit(self._add_batch()))
        self.start_bytes = self._tables_bytes()
        self.offered_bytes = 0

    def _tables_bytes(self) -> int:
        return dir_usage(self.corpus_dir)[1] + dir_usage(self.index_dir)[1]

    def _admit(self, e: int) -> tuple[int, dict]:
        from etl_airflow_adventureworks_spark.streaming import ingest

        batch = self.spark.read.parquet(self.corpus.batch_paths[e]).select("doc_id", "text")
        return e, ingest.ingest_batch_with_dedup(batch, self.index_dir, self.corpus_dir, e)

    def _note(self, e: int, result: dict) -> None:
        path = self.corpus.batch_paths[e]
        self.epochs.append({
            "epoch": e,
            "ids": set(pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()),
            "planted": set(self.corpus.planted[e]),
            "result": result,
            "bytes": self.corpus.batch_bytes[e],
        })

    def rounds(self):
        while True:
            # each batch is written before its round is timed
            epochs = [self._add_batch() for _ in range(EPOCHS_PER_ROUND)]
            yield [(f"epoch_{e}", lambda e=e: self._admit(e)) for e in epochs]

    def _add_batch(self) -> int:
        corpus = self.corpus
        e = corpus.add_batch()
        self.inputs = {"rows": corpus.base_rows + len(corpus.batch_paths) * corpus.batch_docs,
                       "bytes": corpus.base_bytes + sum(corpus.batch_bytes)}
        return e

    def record(self, label, result, seconds) -> None:
        self.latencies.append(seconds)
        self._note(*result)
        self.offered_bytes += self.epochs[-1]["bytes"]

    def metrics(self) -> dict[str, float]:
        timed = self.epochs[WARMUP_EPOCHS:]
        return {
            **self.latency_metrics(),
            "items_per_s": ratio(len(self.latencies) * BATCH_DOCS, sum(self.latencies)),
            "rows_written_per_s":
                ratio(sum(e["result"]["accepted"] for e in timed), sum(self.latencies)),
            "out_bytes_per_in_byte":
                ratio(self._tables_bytes() - self.start_bytes, self.offered_bytes),
        }

    def check(self) -> list[str]:
        from etl_airflow_adventureworks_spark.operators.dedup import JACCARD_THRESHOLD

        bad, rejected = checks.check_corpus(
            self.corpus_dir, self.corpus.base_rows, self.epochs, JACCARD_THRESHOLD)
        self.rejected = {e["epoch"]: r for e, r in zip(self.epochs, rejected)}
        return bad

    def useful_rejects(self, epochs: list[int]) -> tuple[int, int]:
        """(planted docs rejected, docs offered) over the given epochs."""
        by_epoch = {e["epoch"]: e for e in self.epochs}
        done = [by_epoch[e] for e in epochs if e in by_epoch]
        return (sum(len(self.rejected.get(e["epoch"], set()) & e["planted"]) for e in done),
                sum(len(e["ids"]) for e in done))

    def index_state(self) -> tuple[int, int]:
        """(index data files, manifest bytes of index and corpus)."""
        files = len(checks.versioned_files(self.index_dir))
        manifests = sum(dir_usage(f"{d}/_manifests")[1]
                        for d in (self.index_dir, self.corpus_dir))
        return files, manifests


WORKLOADS = {w.name: w for w in (KpiServing, CorpusIngest)}
