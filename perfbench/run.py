"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload kpi_serving --seed 1 --seconds 25 --trace 0

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A host line (nproc, load, steal ticks, set-up phases,
latencies) precedes it. Inputs, Spark scratch space and the program's
outputs live under ``.perfbench/`` in the checkout and are removed at
exit; traced runs leave their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PKG = "etl_airflow_adventureworks_spark"
MAX_CPUS = 4
#: stop a run after this many operations fail in a row
MAX_CONSECUTIVE_FAILURES = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "items_per_s": "1/s",
    "rows_written_per_s": "1/s",
    "out_bytes_per_in_byte": "ratio",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.load_table.calls": "count/round",
    "sources.load_table.s": "s/round",
    "plans.star.plan_s": "s/round",
    "plans.reference_kpis.register_views_s": "s/round",
    "plans.kpis.plan_s": "s/round",
    "sinks.write_table.calls": "count/round",
    "sinks.write_table.s": "s/round",
    "sinks.files_written": "count/round",
    "sinks.bytes_written": "bytes/round",
    "operators.dedup_incremental.append_to_neardup_index.s": "s/round",
    "streaming.ingest.self_s": "s/round",
    "streaming.ingest.reject_ratio": "ratio",
    "table.commit.calls": "count/round",
    "table.commit.s": "s/round",
    "table.commit_conflicts": "count",
    "table.index_files": "count",
    "table.manifest_bytes": "bytes",
    "spark.jobs": "count/round",
    "spark.stages": "count/round",
    "spark.tasks": "count/round",
    "spark.failed_tasks": "count/round",
    "spark.input_bytes": "bytes/round",
    "spark.shuffle_write_bytes": "bytes/round",
    "spark.spill_bytes": "bytes/round",
    "spark.executor_run_s": "s/round",
    "spark.job_wall_s": "s/round",
    "driver.wait_s": "s/round",
    "trace.overhead_ms": "ms",
    "trace.traced_rounds": "count",
}


def host_snapshot() -> dict:
    """nproc, load average, available memory and cumulative steal ticks."""
    snap = {"nproc": len(os.sched_getaffinity(0))}
    snap["load1"], snap["load5"], _ = os.getloadavg()
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                snap["mem_avail_mb"] = int(line.split()[1]) // 1024
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    snap["steal_ticks"] = int(parts[8]) if len(parts) > 8 else 0
    return snap


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def spark_conf(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    return {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(run_dir / "cwd" / "spark-warehouse"),
        # no hsperfdata file in /tmp: the JVM writes nothing outside the run dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    }


class Runner:
    """Owns the SparkSession and the timed loop. With tracing, rounds
    alternate untraced and traced (U T U ...), so a traced round sits
    between two untraced ones and the overhead estimate is not skewed by
    the drift between successive rounds."""

    def __init__(self, trace: bool, seconds: int, run_dir: Path) -> None:
        from etl_airflow_adventureworks_spark import session
        from perfbench.trace import SparkCounters, Tracer

        self.trace = trace
        self.seconds = seconds
        self.tracer = Tracer()
        if trace:
            self.tracer.install()
        self.attempted = self.failed = 0
        #: traced round -> its operation ids
        self.traced_rounds: dict[int, list[int]] = {}
        self.round_s: dict[bool, list[float]] = {True: [], False: []}
        self.spark_counts: dict[int, dict[str, float]] = {}
        self.op_wall: dict[int, float] = {}
        self.labels: dict[int, str] = {}
        self.tracer.active = trace
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", cpus=min(MAX_CPUS, len(os.sched_getaffinity(0))),
            extra_conf=spark_conf(run_dir))
        self.spark_s = time.perf_counter() - t0
        self.tracer.active = False
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)

    def run_rounds(self, wl) -> None:
        sc = self.spark.sparkContext
        timed, op, streak = 0.0, 0, 0
        for rnd, ops in enumerate(wl.rounds()):
            traced = self.trace and rnd % 2 == 1
            round_s = 0.0
            for label, thunk in ops:
                group = f"perfbench-op{op}"
                if traced:
                    sc.setJobGroup(group, label)
                    self.tracer.op, self.tracer.active = op, True
                t0 = time.perf_counter()
                try:
                    result, ok = thunk(), True
                except Exception:  # an operation's failure is counted, not fatal
                    traceback.print_exc()
                    result, ok = None, False
                dt = time.perf_counter() - t0
                self.tracer.active = False
                self.attempted += 1
                if ok:
                    streak = 0
                    wl.record(label, result, dt)
                else:
                    self.failed += 1
                    streak += 1
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    self.traced_rounds.setdefault(rnd, []).append(op)
                    self.labels[op] = label
                    self.op_wall[op] = dt
                    self.spark_counts[op] = self.counters.collect(group)
                round_s += dt
                op += 1
                if streak >= MAX_CONSECUTIVE_FAILURES:
                    return
            self.round_s[traced].append(round_s)
            timed += round_s
            # whole rounds, so every run times the same mix of operations;
            # the run ends at the round end nearest to --seconds
            if timed + round_s / 2 >= self.seconds and (not self.trace or rnd >= 2):
                return

    def peak_rss_mb(self) -> dict[str, float]:
        return {"python": vm_hwm_mb("self"),
                "jvm": vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)}

    def layer_metrics(self, wl) -> dict[str, float]:
        from perfbench.trace import SPARK_COUNTS

        ops = {o for r in self.traced_rounds.values() for o in r}
        n = max(1, len(self.traced_rounds))
        tot = self.tracer.totals(ops)

        def per(name: str, key: str = "s") -> float:
            return tot.get(name, {}).get(key, 0) / n

        get_spark = [sp.dur for sp in self.tracer.spans if sp.name == "session.get_spark"]
        m = {
            "session.get_spark_s": get_spark[0] if get_spark else 0.0,
            "sources.load_table.calls": per("sources.load_table", "calls"),
            "sources.load_table.s": per("sources.load_table"),
            "plans.star.plan_s": per("plans.star.plan"),
            "plans.reference_kpis.register_views_s":
                per("plans.reference_kpis.register_views"),
            "plans.kpis.plan_s": per("plans.kpis.plan"),
            "sinks.write_table.calls": per("sinks.write_table", "calls"),
            "sinks.write_table.s": per("sinks.write_table"),
            "sinks.files_written": per("sinks.write_table", "files"),
            "sinks.bytes_written": per("sinks.write_table", "bytes"),
            "operators.dedup_incremental.append_to_neardup_index.s":
                per("operators.dedup_incremental.append_to_neardup_index"),
            "streaming.ingest.self_s": per("streaming.ingest", "self_s"),
            "streaming.ingest.reject_ratio": 0.0,
            "table.commit.calls": per("table.commit", "calls"),
            "table.commit.s": per("table.commit"),
            "table.commit_conflicts": float(self.tracer.commit_conflicts),
            "table.index_files": 0.0,
            "table.manifest_bytes": 0.0,
        }
        for key in SPARK_COUNTS:
            m[f"spark.{key}"] = sum(self.spark_counts[o][key] for o in ops) / n
        m["driver.wait_s"] = sum(
            self.op_wall[o] - self.spark_counts[o]["job_wall_s"] for o in ops) / n
        traced, untraced = self.round_s[True], self.round_s[False]
        m["trace.overhead_ms"] = (
            (statistics.median(traced) - statistics.median(untraced)) * 1000.0
            if traced and untraced else 0.0)
        m["trace.traced_rounds"] = float(len(self.traced_rounds))
        if hasattr(wl, "index_state"):
            m["table.index_files"], m["table.manifest_bytes"] = map(float, wl.index_state())
            useful, offered = wl.useful_rejects(
                [int(self.labels[o].removeprefix("epoch_")) for o in ops])
            m["streaming.ingest.reject_ratio"] = useful / max(1, offered)
        return m

    def stop(self) -> None:
        """Stop Spark and wait for the JVM the gateway launched to exit."""
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the program ({PKG}/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still unwinds: Spark stopped, work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host_start = host_snapshot()
    run_dir = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "cwd").mkdir()
    # Spark drops spark-warehouse/ and derby.log into its working directory
    # and scratch files into TMPDIR / SPARK_LOCAL_DIRS: keep all of it here
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp")
    os.chdir(run_dir / "cwd")
    runner = None
    try:
        runner = Runner(bool(args.trace), args.seconds, run_dir)
        wl = WORKLOADS[args.workload](runner.spark, str(run_dir), args.seed, args.seconds)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        runner.run_rounds(wl)
        peak = runner.peak_rss_mb()
        try:
            with wl.phase("check"):
                bad = wl.check()
        except Exception:
            traceback.print_exc()
            bad = ["output check raised"]
        for msg in bad:
            print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
        if runner.trace:
            metrics = runner.layer_metrics(wl)
            units = PER_LAYER_UNITS
            trace_path = ROOT / ".perfbench" / "traces" / (
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            runner.tracer.dump(str(trace_path), {"workload": args.workload,
                                                 "seed": args.seed, "metrics": metrics})
            print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": sum(peak.values()), **wl.metrics()}
            units = END_TO_END_UNITS
    finally:
        try:
            if runner is not None:
                runner.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"host": {"start": host_start, "end": host_snapshot(),
                               "spark_s": runner.spark_s, "phases": wl.phases,
                               "inputs": wl.inputs, "rss_mb": peak,
                               "latencies_s": [round(x, 3) for x in wl.latencies]}}))
    # an operation that raised or whose output is wrong counts as failed
    print(json.dumps({
        "correct": not bad and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": min(runner.attempted, runner.failed + len(bad)),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
