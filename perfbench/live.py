"""The ``live_stream`` workload: an open-loop feed into three concurrent
streaming queries.

    events-<k>.parquet --tx_stream--> window_stats_stream --> st sink
    st sink            --zscore_stateful(lag 30; influence 0.1)--> fs sink
    fs sink            --alerts_stateful--> al sink

Set-up starts the queries and runs a prefill of one window plus the
watermark delay through all three. Then a generator process (``gen.py
live``) writes one tick file per second at a fixed event rate, with event
time running at a fixed multiple of wall time, whatever the queries are
doing. A window's fs rows are timed from the due
time of the tick holding the first event that moved the watermark past the
window (the window length and the watermark delay are not latency) to the
end of the z-score micro-batch that committed them, found through the file
sink's files and the query's progress reports. Once the open loop has
run and every query has caught up, z-score and alerts stop and bursts of
events go in one file at a time; the stats micro-batches that take them
give the backlog service rate.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from backfill import INFLUENCE, THRESHOLD, oracle_st, replay_zscore, same_rows
from gen import (
    LIVE,
    WATERMARK_MS,
    WINDOW_MS,
    live_burst,
    live_schedule,
    live_ticks,
    tick_path,
    write_tick,
)

# a lag the short live run fills: the stream emits z-scores after 30 windows
LAGS = (30,)
GEN_LEAD_S = 1.0  # lets the generator import and build its ticks first
STOP_TIMEOUT_S = 60
# a tick written later than this voids the latency sample
MAX_GEN_LATE_MS = 250.0
# backlog bursts after the open loop, each its own micro-batch; the rate is
# their median, as a single ~2 s batch varies by a third from run to run
BURSTS = 6


def start_queries(spark, events_dir: str, work: str) -> tuple[dict, dict]:
    from apmbackend_spark.operators.alerts import AlertConfig
    from apmbackend_spark.operators.zscore import st_from_window_stats
    from apmbackend_spark.streaming.pipeline import tx_stream, window_stats_stream
    from apmbackend_spark.streaming.stateful import alerts_stateful, zscore_stateful

    dirs = {name: os.path.join(work, name) for name in ("st", "fs", "al")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)  # a file source needs its directory

    def sink(df, name: str, out: str):
        return (
            df.writeStream.format("parquet")
            .queryName(f"{name}_{os.path.basename(work)}")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, f"ckpt_{name}"))
            .outputMode("append")
            .start()
        )

    st = st_from_window_stats(window_stats_stream(tx_stream(spark, events_dir)))
    fs = zscore_stateful(spark.readStream.schema(st.schema).parquet(dirs["st"]),
                         lags=LAGS, threshold=THRESHOLD, influence=INFLUENCE)
    al = alerts_stateful(spark.readStream.schema(fs.schema).parquet(dirs["fs"]),
                         AlertConfig())
    queries = {
        "stream_stats": sink(st, "stream_stats", dirs["st"]),
        "stream_zscore": sink(fs, "stream_zscore", dirs["fs"]),
        "stream_alerts": sink(al, "stream_alerts", dirs["al"]),
    }
    return queries, dirs


def drain_and_stop(queries: dict) -> None:
    """Flush the running queries in stage order, then stop them: stopping a
    query mid-batch can kill its stream thread with an error."""
    active = [q for q in queries.values() if q.isActive]
    try:
        for q in active:
            q.processAllAvailable()
    finally:
        for q in active:
            q.stop()
        for q in active:
            q.awaitTermination(STOP_TIMEOUT_S)


def start(spark, work: str, seed: int, size: str, seconds: float) -> dict:
    """Set-up: start the three queries and run the prefill through all of
    them, so each has compiled and run a micro-batch with data before the
    generator starts: the stats query's no-data batch after the first
    emits the windows the prefill's watermark closed."""
    spec = LIVE[size]
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir, exist_ok=True)
    prefill, n_ticks = live_schedule(spec, seconds)
    tables = live_ticks(seed, spec, n_ticks)[:prefill]
    ticks = [write_tick(events_dir, k, t, time.time()) for k, t in enumerate(tables)]
    queries, dirs = start_queries(spark, events_dir, work)
    for q in queries.values():
        q.processAllAvailable()
    return {"spec": spec, "work": work, "events_dir": events_dir, "queries": queries,
            "dirs": dirs, "ticks": ticks, "n_ticks": n_ticks}


def run(state: dict, seed: int, size: str, seconds: float, not_measured: set[int]) -> dict:
    """Run the generator against the started queries, then drain and stop
    them; adds to ``state`` what the metrics and the checks need. The
    generator's pid goes into ``not_measured``."""
    spec = state["spec"]
    gen_log = os.path.join(state["work"], "ticks.jsonl")
    t_start = time.time() + GEN_LEAD_S
    gen_script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
    queries = state["queries"]
    try:
        proc = subprocess.Popen([
            sys.executable, gen_script, "live", "--out", state["events_dir"],
            "--seed", str(seed), "--size", size, "--seconds", str(seconds),
            "--start", repr(t_start), "--log", gen_log,
        ])
        not_measured.add(proc.pid)
        try:
            rc = proc.wait(timeout=GEN_LEAD_S + state["n_ticks"] * spec.tick_s + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"live generator exited with {rc}")
        queries["stream_stats"].processAllAvailable()
        # z-score and alerts catch up and stop, so the bursts run alone
        drain_and_stop({name: q for name, q in queries.items() if name != "stream_stats"})
        state["burst"] = run_bursts(state, seed)
    finally:
        drain_and_stop(queries)
    with open(gen_log) as f:
        state["ticks"] += [json.loads(line) for line in f]
    state["measure"] = (t_start + spec.warm_s, t_start + spec.warm_s + seconds)
    state["progress"] = {name: _batches(q) for name, q in queries.items()}
    return state


def _epoch(iso: str) -> float:
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _batches(query) -> list[dict]:
    """Executed micro-batches (idle progress reports dropped) with wall
    start/end in epoch seconds."""
    out = []
    for p in query.recentProgress:
        dur = p["durationMs"]
        if "addBatch" not in dur:
            continue
        start = _epoch(p["timestamp"])
        state = p["stateOperators"] or []
        out.append({
            "id": p["batchId"],
            "start": start,
            "end": start + dur["triggerExecution"] / 1000.0,
            "ms": float(dur["triggerExecution"]),
            "rows": int(p["numInputRows"]),
            "state_rows": sum(int(s["numRowsTotal"]) for s in state),
            "state_bytes": sum(int(s["memoryUsedBytes"]) for s in state),
        })
    return out


def latencies_ms(res: dict) -> np.ndarray:
    """Per fs row of a window closed by a tick due in the measured span."""
    lo, hi = res["measure"]
    ticks = res["ticks"]
    ts_max = np.array([t["ts_max_ms"] for t in ticks])
    due = np.array([t["due"] for t in ticks])
    batches = res["progress"]["stream_zscore"]
    ends = np.array([b["end"] for b in batches])
    out = []
    fs_dir = res["dirs"]["fs"]
    for name in sorted(os.listdir(fs_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(fs_dir, name)
        # the file was written inside the batch that committed it
        i = int(np.searchsorted(ends, os.path.getmtime(path), side="left"))
        if i == len(ends):
            continue
        ts = pq.read_table(path, columns=["timestamp"]).column(0).to_numpy()
        k = np.searchsorted(ts_max, ts + WINDOW_MS + WATERMARK_MS, side="left")
        ok = k < len(ticks)
        d = due[k[ok]]
        sel = (d >= lo) & (d < hi)
        out.append((ends[i] - d[sel]) * 1000.0)
    return np.concatenate(out) if out else np.array([])


def gen_late_ms(res: dict) -> float:
    """How late the generator wrote its latest tick, in ms."""
    return max((t["written"] - t["due"]) * 1000.0 for t in res["ticks"])


def stream_metrics(res: dict) -> dict:
    lo, hi = res["measure"]
    prog = res["progress"]

    def measured(name):
        return [b for b in prog[name] if lo <= b["start"] < hi]

    def p50(name):
        ms = [b["ms"] for b in measured(name)]
        return float(np.median(ms)) if ms else 0.0

    def last(name, key):
        bs = measured(name) or prog[name]
        return bs[-1][key] if bs else 0

    return {
        "stream_stats.batch_ms_p50": p50("stream_stats"),
        "stream_stats.batches": len(measured("stream_stats")),
        "stream_stats.state_rows": last("stream_stats", "state_rows"),
        "stream_stats.state_bytes": last("stream_stats", "state_bytes"),
        "stream_zscore.batch_ms_p50": p50("stream_zscore"),
        "stream_zscore.state_rows": last("stream_zscore", "state_rows"),
        "stream_zscore.state_bytes": last("stream_zscore", "state_bytes"),
        "stream_alerts.batch_ms_p50": p50("stream_alerts"),
        "gen.late_ms_max": gen_late_ms(res),
    }


def run_bursts(state: dict, seed: int) -> dict:
    """Write ``BURSTS`` files of ``spec.burst`` events, one at a time once
    the stats query is idle, and time the micro-batches that take them: the
    rate at which the stats query works off a backlog. The events lie inside
    the last tick's event-time span, so they close no window."""
    spec = state["spec"]
    k = state["n_ticks"]
    last = pq.read_table(tick_path(state["events_dir"], k - 1))
    q = state["queries"]["stream_stats"]
    t0 = time.time()
    for i in range(BURSTS):
        write_tick(state["events_dir"], k + i, live_burst(seed, spec, k, i, last), time.time())
        q.processAllAvailable()
    bs = [b for b in _batches(q) if b["end"] >= t0 and b["rows"]]
    return {"rows": sum(b["rows"] for b in bs), "ms": sum(b["ms"] for b in bs),
            "batches": len(bs),
            "per_s": [1000.0 * b["rows"] / b["ms"] for b in bs if b["ms"]]}


def rec_per_s(res: dict) -> float:
    """Median records per second of the stats micro-batches that took the
    bursts."""
    per_s = res["burst"]["per_s"]
    return float(np.median(per_s)) if per_s else 0.0


def backlog_end(res: dict) -> int:
    """Records written by the end of the measured span that the stats query
    had not yet consumed in a finished batch."""
    hi = res["measure"][1]
    written = sum(t["rows"] for t in res["ticks"] if t["written"] <= hi)
    consumed = sum(b["rows"] for b in res["progress"]["stream_stats"] if b["end"] <= hi)
    return max(0, written - consumed)


def run_checks(res: dict) -> dict[str, bool]:
    """Rows of every window closed by the measured ticks: st equals the
    DuckDB window-stats oracle over the same files, fs equals a per-key
    pandas replay of ``zscore_recursive_py`` over that st."""
    hi = res["measure"][1]
    closed = max(t["ts_max_ms"] for t in res["ticks"] if t["due"] < hi)
    cutoff = closed - WINDOW_MS - WATERMARK_MS

    def closed_rows(df):
        return df[df["timestamp"] <= cutoff].reset_index(drop=True)

    st = closed_rows(pq.read_table(res["dirs"]["st"]).to_pandas())
    fs = closed_rows(pq.read_table(res["dirs"]["fs"]).to_pandas())
    ticks = [tick_path(res["events_dir"], t["k"]) for t in res["ticks"]]  # no bursts
    oracle = closed_rows(oracle_st(ticks))
    replay = replay_zscore(st, LAGS)
    keys = ["server", "service", "timestamp"]
    return {
        "st_vs_duckdb": len(st) > 0 and same_rows(st, oracle[st.columns], keys),
        "fs_vs_pandas_replay": len(fs) > 0 and same_rows(fs, replay[fs.columns],
                                                         keys + ["lag"]),
    }
