"""APM pipeline benchmark.

    python3 perfbench/run.py --workload backfill|live_stream --seed N \\
        --seconds S --trace 0|1 [--size full|tiny]

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed`` under ``.perfbench_work/`` (removed at exit), starts
the engine's own Spark session on every CPU this process may use, sets up
(session start plus a warm-up, timed as ``setup_s``), measures for
``--seconds``, checks the program's outputs outside the timed region and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is a
report with everything else the run observed (failed_frac, peak memory,
backlog, load average, sample counts, ...); a copy goes to
``.perfbench_out/``. ``--trace 1`` prints the per-layer metrics instead of
the end-to-end ones and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "live_stream")
DRIVER_MEM = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "rec_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
}
LAYER_UNITS = {
    "tx.busy_s": "s",
    "window_stats.busy_s": "s",
    "window_stats.rows_out": "count",
    "window_stats.tasks": "count",
    "zerofill.self_s": "s",
    "zerofill.rows_out": "count",
    "zerofill.filled_ratio": "ratio",
    "zscore.busy_s": "s",
    "zscore.rows_in": "count",
    "zscore.rows_out": "count",
    "alerts.busy_s": "s",
    "alerts.candidates": "count",
    "alerts.fired": "count",
    "alerts.fired_ratio": "ratio",
    "logparse.parse_busy_s": "s",
    "logparse.enrich_busy_s": "s",
    "logparse.lines_in": "count",
    "logparse.tx_out": "count",
    "logparse.matched_ratio": "ratio",
    "logparse.tx_mismatched": "count",
    "stream_stats.batch_ms_p50": "ms",
    "stream_stats.batches": "count",
    "stream_stats.state_rows": "count",
    "stream_stats.state_bytes": "bytes",
    "stream_zscore.batch_ms_p50": "ms",
    "stream_zscore.state_rows": "count",
    "stream_zscore.state_bytes": "bytes",
    "stream_alerts.batch_ms_p50": "ms",
    "gen.late_ms_max": "ms",
    "tx.failed_tasks": "count",
    "window_stats.failed_tasks": "count",
    "zerofill.failed_tasks": "count",
    "zscore.failed_tasks": "count",
    "alerts.failed_tasks": "count",
    "logparse.failed_tasks": "count",
    "stream_stats.failed_tasks": "count",
    "stream_zscore.failed_tasks": "count",
    "stream_alerts.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="APM pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's smoke size")
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> dict[str, str]:
    """Process environment for the session and its Python workers; returns
    the extra Spark confs that keep every file the run writes inside
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # get_spark defaults to local[32]; size the session to this machine
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers start from the JVM, not from this process: without the
    # repository on their path the pandas UDFs cannot import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: temp files under work,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class PeakRss:
    """Samples the summed VmHWM of every live descendant of this process
    (the JVM and the Python workers it forks); keeps the largest sum and,
    for the report, its split by command name."""

    def __init__(self, period_s: float = 0.2):
        self.peak_kb = 0
        self.peak_detail: dict[str, tuple[int, int]] = {}  # comm -> (procs, kB)
        self.exclude: set[int] = set()  # descendants that are not the engine
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (once) and return the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        # comm may hold spaces: ppid is the 2nd field after ')'
                        parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        mine = {os.getpid()}
        grew = True
        while grew:
            kids = {p for p, pp in parent.items() if pp in mine and p not in mine}
            grew = bool(kids)
            mine |= kids
        total, detail = 0, {}
        for pid in mine - {os.getpid()} - self.exclude:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                # a child the JVM has forked but not yet exec'd carries a
                # thread's name and a copy of the JVM's counters
                if comm != "java" and not comm.startswith("python"):
                    continue
                with open(f"/proc/{pid}/status") as f:
                    hwm = next(int(line.split()[1]) for line in f
                               if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            total += hwm
            n, kb = detail.get(comm, (0, 0))
            detail[comm] = (n + 1, kb + hwm)
        if total > self.peak_kb:
            self.peak_kb, self.peak_detail = total, detail


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def phase(report: dict, name: str):
    """Wall time of one phase of the run, for the report."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        report.setdefault("phases_s", {})[name] = time.perf_counter() - t0


def quantile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def run_backfill(args, work: str, session, mem: PeakRss, report: dict) -> tuple:
    import backfill
    import gen

    with phase(report, "inputs"):
        inp = gen.write_backfill(os.path.join(work, "input"), args.seed, args.size)
    out = backfill.out_paths(work)
    spark = None
    try:
        with phase(report, "setup"):
            spark = session()
            backfill.warm_up(spark, inp, out)
        records = inp["n_events"] + inp["n_log_lines"]
        report.update(records=records, n_events=inp["n_events"],
                      n_log_lines=inp["n_log_lines"], n_log_files=inp["n_log_files"])
        passes: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            backfill.run_pass(spark, inp, out)
            passes.append(time.perf_counter() - t0)
        layers = {}
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            t0 = time.perf_counter()
            counts = backfill.run_traced_pass(spark, tracer, inp, out)
            traced = time.perf_counter() - t0
            layers = backfill.layer_metrics(tracer, counts, inp["n_log_lines"])
            layers["trace.overhead_s"] = traced - statistics.median(passes)
            tracer.write(os.path.join(out_dir(), f"spans-{args.workload}-{args.seed}.jsonl"))
        peak_mb = mem.stop()
        with phase(report, "checks"):
            checks, log_diff = backfill.run_checks(inp, out, args.seed)
        report["log_tx_diff"] = log_diff
        if args.trace:
            layers["logparse.tx_mismatched"] = log_diff["unexpected"] + log_diff["missing"]
    finally:
        if spark is not None:
            with phase(report, "stop"):
                stop_spark(spark)
    report["passes_s"] = passes
    e2e = {
        "setup_s": report["phases_s"]["setup"],
        "rec_per_s": records * len(passes) / sum(passes),
        "latency_p50_ms": 1000.0 * statistics.median(passes),
        "latency_p99_ms": 1000.0 * quantile(passes, 99),
    }
    report["peak_rss_mb"] = peak_mb
    report["latency_samples"] = len(passes)
    return e2e, layers, checks


def run_live(args, work: str, session, mem: PeakRss, report: dict) -> tuple:
    import live
    from spans import group_tasks

    spark = None
    try:
        with phase(report, "setup"):
            spark = session()
            state = live.start(spark, os.path.join(work, "live"), args.seed, args.size,
                               args.seconds)
        with phase(report, "measure"):
            res = live.run(state, args.seed, args.size, args.seconds, mem.exclude)
        peak_mb = mem.stop()
        lat = live.latencies_ms(res)
        layers = {}
        if args.trace:
            t0 = time.perf_counter()
            layers = live.stream_metrics(res)
            for name, q in res["queries"].items():
                layers[f"{name}.failed_tasks"] = group_tasks(spark.sparkContext,
                                                             str(q.runId))[1]
            layers["trace.overhead_s"] = time.perf_counter() - t0
        late = live.gen_late_ms(res)
        with phase(report, "checks"):
            checks = live.run_checks(res)
        checks.update(latency_samples=len(lat) > 0,
                      generator_on_time=late <= live.MAX_GEN_LATE_MS)
    finally:
        if spark is not None:
            with phase(report, "stop"):
                stop_spark(spark)
    report.update(latency_samples=int(len(lat)),
                  backlog_end_rec=live.backlog_end(res), gen_late_ms_max=late,
                  rate=res["spec"].rate, speed=res["spec"].speed, burst=res["burst"],
                  batches={name: [(round(b["start"] - res["measure"][0], 3), b["ms"], b["rows"])
                                  for b in bs] for name, bs in res["progress"].items()})
    e2e = {
        "setup_s": report["phases_s"]["setup"],
        "rec_per_s": live.rec_per_s(res),
        "latency_p50_ms": quantile(lat, 50) if len(lat) else 0.0,
        "latency_p99_ms": quantile(lat, 99) if len(lat) else 0.0,
    }
    report["peak_rss_mb"] = peak_mb
    return e2e, layers, checks


def out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import apmbackend_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(apmbackend_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the program from {apmbackend_spark.__file__}, "
              f"not from this checkout ({ROOT})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = prepare_env(work)
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cpus": cpu_count(), "loadavg_1m_before": os.getloadavg()[0],
    }

    def session():
        from apmbackend_spark.session import get_spark

        return get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)

    mem = PeakRss().start()
    runner = run_backfill if args.workload == "backfill" else run_live
    try:
        e2e, layers, checks = runner(args, work, session, mem, report)
    finally:
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not ok for ok in checks.values())
    attempted = len(checks) + 1  # the measured run itself
    report.update(loadavg_1m_after=os.getloadavg()[0], checks=checks,
                  failed_frac=failed / attempted,
                  units={"failed_frac": "ratio", "backlog_end_rec": "count",
                         "peak_rss_mb": "MB"})
    report["peak_rss_by_comm_kb"] = mem.peak_detail
    report["end_to_end"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(out_dir(), f"report-{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1, default=str)
    unknown = set(layers) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"layer metrics without a unit: {sorted(unknown)}")
    # a layer the workload does not run did no work
    chosen = {k: layers.get(k, 0) for k in LAYER_UNITS} if args.trace else e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
