"""Tracing from outside the program: span wrappers and Spark job counts.

The program is not edited. ``Tracer.install`` replaces each public
function named in ``LAYER_FUNCTIONS`` by a span-recording wrapper in
EVERY loaded package module that binds it (``from ..sources import
load_table`` copies the binding, so patching the defining module alone
would miss ``plans.star``, ``plans.pipeline`` and ``plans.kpis``) and in
the query registry. Spans live in memory until ``dump``.

``SparkCounters`` reads Spark's status store for the jobs of one job
group, so each traced operation gets its job, stage and task counts,
bytes, executor busy time and job wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass

PKG = "etl_airflow_adventureworks_spark"

#: (module, attribute, span name). Functions are patched wherever bound;
#: class attributes are patched on the class.
LAYER_FUNCTIONS = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.parquet", "load_table", "sources.load_table"),
    ("plans.pipeline", "fact_from_warehouse", "plans.star.plan"),
    ("plans.star", "etl_dim_date", "plans.star.plan"),
    ("plans.star", "etl_dim_part", "plans.star.plan"),
    ("plans.star", "etl_dim_customer_geo", "plans.star.plan"),
    ("plans.star", "etl_dim_supplier", "plans.star.plan"),
    ("plans.star", "etl_dim_locality", "plans.star.plan"),
    ("plans.reference_kpis", "register_warehouse_views",
     "plans.reference_kpis.register_views"),
    ("plans.reference_kpis", "run_reference_kpi", "plans.kpis.plan"),
    ("plans.kpis", "kpi_globals", "plans.kpis.plan"),
    ("plans.kpis", "kpi05_top5_products", "plans.kpis.plan"),
    ("plans.kpis", "kpi06_sales_by_category", "plans.kpis.plan"),
    ("plans.kpis", "kpi07_sales_by_country", "plans.kpis.plan"),
    ("plans.kpis", "kpi08_seasonality", "plans.kpis.plan"),
    ("plans.kpis", "kpi09_top10_suppliers", "plans.kpis.plan"),
    ("sinks", "write_table", "sinks.write_table"),
    ("operators.dedup_incremental", "append_to_neardup_index",
     "operators.dedup_incremental.append_to_neardup_index"),
    ("streaming.ingest", "ingest_batch_with_dedup", "streaming.ingest"),
]
LAYER_METHODS = [
    ("table", "VersionedTable", "commit", "table.commit"),
]


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float = 0.0
    files: int = 0
    bytes: int = 0
    error: bool = False

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path`` on local disk (0, 0 when absent)."""
    files = total = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total


class Tracer:
    """Span recorder. Wrappers record only while ``active``, so one
    process can alternate traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self.commit_conflicts = 0
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), parent, self.op, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp.error = True
            raise
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if name == "sinks.write_table":
                # outside the span: the walk is tracing cost, not sink time
                sp.files, sp.bytes = dir_usage(args[1] if len(args) > 1 else kwargs["path"])
            return out

        return traced

    def install(self) -> None:
        """Patch every binding of the layer functions, for the rest of
        the process."""
        import importlib

        from etl_airflow_adventureworks_spark import registry

        registry.load_all()
        for mod, attr, name in LAYER_FUNCTIONS:
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            traced = self._wrap(name, orig)
            for mname, m in list(sys.modules.items()):
                if (mname == PKG or mname.startswith(PKG + ".")) and m is not None:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, traced)
            for k, v in list(registry.QUERIES.items()):
                if v is orig:
                    registry.QUERIES[k] = traced
        for mod, cls_name, attr, name in LAYER_METHODS:
            cls = getattr(importlib.import_module(f"{PKG}.{mod}"), cls_name)
            setattr(cls, attr, self._wrap(name, getattr(cls, attr)))
        self._count_conflicts()

    def _count_conflicts(self) -> None:
        from etl_airflow_adventureworks_spark.table import CommitConflict, VersionedTable

        publish = VersionedTable._publish_manifest
        tracer = self

        @functools.wraps(publish)
        def counted(vt, man):
            try:
                return publish(vt, man)
            except CommitConflict:
                if tracer.active:
                    tracer.commit_conflicts += 1
                raise

        VersionedTable._publish_manifest = counted

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span never overlap: the caller is one thread)."""
        covered: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.dur
        return {sp.sid: sp.dur - covered.get(sp.sid, 0.0) for sp in self.spans}

    def totals(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name over the given operations: calls, seconds, self
        seconds, files and bytes."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.op not in ops:
                continue
            t = out.setdefault(sp.name, {"calls": 0, "s": 0.0, "self_s": 0.0,
                                         "files": 0, "bytes": 0})
            t["calls"] += 1
            t["s"] += sp.dur
            t["self_s"] += selfs[sp.sid]
            t["files"] += sp.files
            t["bytes"] += sp.bytes
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [
            {"id": sp.sid, "parent": sp.parent, "op": sp.op, "name": sp.name,
             "start": sp.t0, "end": sp.t1, "self_s": selfs[sp.sid],
             "files": sp.files, "bytes": sp.bytes, "error": sp.error}
            for sp in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)


SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                "shuffle_write_bytes", "spill_bytes", "executor_run_s", "job_wall_s")


class SparkCounters:
    """Job, stage and task counts of one job group, from the status store
    (populated with the UI disabled too). A shuffle stage reused by a
    later job is counted once, by the operation that ran it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self._seen: set[tuple[int, int]] = set()

    def collect(self, group: str) -> dict[str, float]:
        """Counts of a finished operation; call it outside the timed
        region."""
        # the status store is filled from the listener bus, asynchronously:
        # drain the bus so the operation's last job and stages are complete
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTS, 0.0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            for sid in _seq(job.stageIds()):
                st = self.store.lastStageAttempt(sid)
                key = (sid, st.attemptId())
                if st.status().toString() not in ("COMPLETE", "FAILED") or key in self._seen:
                    continue
                self._seen.add(key)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["job_wall_s"] = _union_ms(intervals) / 1000.0
        return out


def _seq(scala_seq) -> list[int]:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
