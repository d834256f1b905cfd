"""Seeded input generators for the APM pipeline benchmark.

Everything the program reads during a benchmark run is written here from
``--seed``; the same seed and size give byte-identical files.

* events archive (``backfill``): ``archive/events.parquet``, the
  ``events`` table shape the engine's ``sources.tx`` maps to tx records,
  zipf-skewed over services, uniform over servers (server = user_id % 4),
  log-normal elapsed times with seeded latency incidents so the z-score
  detector and the alert debounce have something to fire on.
* log archive (``backfill``): ``apmbackend_spark.sources.loggen.generate``
  over a seed-derived server set.
* live ticks (``live_stream``): the same event shape cut into one file per
  tick. ``python3 perfbench/gen.py live ...`` is the open-loop generator
  process for the ticks after the set-up prefill: it writes each tick to a
  dot-prefixed temp name (ignored by the file source), renames it to
  ``events-<k>.parquet`` at the tick's due time, and logs due and actual
  write time per tick as JSON lines. After the open loop, backlog bursts
  go in one file at a time, inside the last tick's event-time span.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

E0_MS = 1_700_000_000_000  # event-time origin, aligned to the 10 s grid
ZIPF_S = 1.1
N_USERS = 100_000
# must match apmbackend_spark.streaming.pipeline.EVENTS_STREAM_SCHEMA
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class EventSpec:
    n_events: int
    n_services: int
    span_s: int
    incidents: int  # services that get one sustained latency shift
    incident_s: int = 1200
    incident_factor: float = 4.0


@dataclass(frozen=True)
class LiveSpec:
    rate: int  # events per wall second
    speed: int  # event-time seconds per wall second
    tick_s: float
    warm_s: float  # ticks due before this are not latency samples
    tail_s: float  # ticks written after the measured window
    burst: int  # events in each backlog burst written after the open loop
    n_services: int = 16
    incidents: int = 2
    incident_s: int = 300


@dataclass(frozen=True)
class LogSpec:
    n_servers: int
    n_per_kind: int


# Full sizes are what the benchmark measures; tiny sizes are for the
# self-test smoke run.
BACKFILL = {
    "full": (EventSpec(60_000, 16, 14400, 2), LogSpec(8, 200)),
    "tiny": (EventSpec(4_000, 6, 3600, 1, incident_s=900), LogSpec(2, 40)),
}
LIVE = {
    "full": LiveSpec(rate=200, speed=60, tick_s=1.0, warm_s=1.5, tail_s=1.0, burst=30_000),
    "tiny": LiveSpec(rate=300, speed=60, tick_s=1.0, warm_s=1.0, tail_s=1.0, burst=3_000),
}

# window_stats_stream's defaults; kept here so the generator process needs
# nothing but numpy and pyarrow
WINDOW_MS = 300_000
WATERMARK_MS = 60_000


def _service_names(n: int) -> list[str]:
    # two top-level ('S:'-mapped) services, like the reference's mix
    base = ["signup", "purchase"]
    return (base + [f"svc{i:02d}" for i in range(n)])[:n]


def _weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def _incidents(rng: np.random.Generator, n_services: int, k: int,
               lo_ms: int, hi_ms: int, dur_ms: int) -> list[tuple[int, int, int]]:
    """(service index, start ms, end ms) for k distinct services."""
    svcs = rng.choice(n_services, size=min(k, n_services), replace=False)
    out = []
    for s in svcs:
        start = int(rng.integers(lo_ms, max(lo_ms + 1, hi_ms - dur_ms)))
        out.append((int(s), start, start + dur_ms))
    return out


def _events(rng: np.random.Generator, first_id: int, ts_ms: np.ndarray,
            names: list[str], weights: np.ndarray,
            incidents: list[tuple[int, int, int]], factor: float) -> pa.Table:
    n = len(ts_ms)
    svc = rng.choice(len(names), size=n, p=weights)
    value = rng.lognormal(mean=np.log(1.5), sigma=0.6, size=n)
    for s, lo, hi in incidents:
        hit = (svc == s) & (ts_ms >= lo) & (ts_ms < hi)
        value[hit] *= factor
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, size=n, dtype=np.int64),
            "event_type": pa.array(np.asarray(names, dtype=object)[svc], pa.string()),
            "value": np.round(value, 2),
            "props": pa.nulls(n, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def backfill_events(seed: int, spec: EventSpec) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    span_ms = spec.span_s * 1000
    ts = np.sort(rng.integers(0, span_ms, size=spec.n_events)) + E0_MS
    inc = _incidents(rng, spec.n_services, spec.incidents, E0_MS + span_ms // 4,
                     E0_MS + span_ms, spec.incident_s * 1000)
    names = _service_names(spec.n_services)
    return _events(rng, 0, ts, names, _weights(spec.n_services), inc,
                   spec.incident_factor)


def write_backfill(root: str, seed: int, size: str) -> dict:
    """Write the events archive and the log archive under ``root``; returns
    what the workload needs to know about them."""
    from apmbackend_spark.sources.loggen import generate

    ev, lg = BACKFILL[size]
    archive = os.path.join(root, "archive")
    os.makedirs(archive, exist_ok=True)
    table = backfill_events(seed, ev)
    pq.write_table(table, os.path.join(archive, "events.parquet"))
    logs = generate(servers=log_servers(seed, lg.n_servers), n_per_kind=lg.n_per_kind)
    logs.write(root)
    return {
        "archive": archive,
        "n_events": table.num_rows,
        "logs_glob": os.path.join(root, "logs", "*", "*.log"),
        "n_log_lines": sum(len(lines) for lines in logs.files.values()),
        "n_log_files": len(logs.files),
        "expected_tx": logs.expected,
    }


def log_servers(seed: int, n: int) -> tuple[str, ...]:
    rng = np.random.default_rng([seed, 2])
    tags = rng.choice(26 * 26, size=n, replace=False)
    return tuple(
        f"jb{chr(97 + t // 26)}{chr(97 + t % 26)}{i:02d}" for i, t in enumerate(tags)
    )


# ---------------------------------------------------------------------------
# live ticks
# ---------------------------------------------------------------------------


def live_schedule(spec: LiveSpec, seconds: float) -> tuple[int, int]:
    """(prefill ticks, total ticks). The prefill covers one window plus the
    watermark delay of event time; it is written during set-up, so windows
    close from the first scheduled tick on."""
    span_ms = int(spec.speed * spec.tick_s * 1000)
    prefill = -(-(WINDOW_MS + WATERMARK_MS) // span_ms)
    # ticks due in [0, warm_s + seconds) of the generator's clock, then the
    # tail ticks, due at or after the measured span's end
    live = (math.ceil((spec.warm_s + seconds) / spec.tick_s)
            + math.ceil(spec.tail_s / spec.tick_s))
    return prefill, prefill + live


def live_ticks(seed: int, spec: LiveSpec, n_ticks: int) -> list[pa.Table]:
    rng = np.random.default_rng([seed, 3])
    span_ms = int(spec.speed * spec.tick_s * 1000)
    n = int(spec.rate * spec.tick_s)
    total_ms = span_ms * n_ticks
    inc = _incidents(rng, spec.n_services, spec.incidents, E0_MS + total_ms // 3,
                     E0_MS + total_ms, spec.incident_s * 1000)
    names = _service_names(spec.n_services)
    w = _weights(spec.n_services)
    out = []
    for k in range(n_ticks):
        lo = E0_MS + k * span_ms
        ts = np.sort(rng.integers(lo, lo + span_ms, size=n))
        out.append(_events(rng, k * n, ts, names, w, inc, 4.0))
    return out


def live_burst(seed: int, spec: LiveSpec, n_ticks: int, i: int, last: pa.Table) -> pa.Table:
    """Burst ``i``: ``spec.burst`` events inside the event-time span of the
    last tick (``last``). They move no watermark, so the micro-batch that
    takes them closes no window and emits nothing."""
    rng = np.random.default_rng([seed, 4, i])
    ts = last.column("ts").cast(pa.int64()).to_numpy() // 1000
    t = np.sort(rng.integers(ts.min(), ts.max() + 1, size=spec.burst))
    first_id = n_ticks * int(spec.rate * spec.tick_s) + i * spec.burst
    return _events(rng, first_id, t, _service_names(spec.n_services),
                   _weights(spec.n_services), [], 1.0)


def tick_path(events_dir: str, k: int) -> str:
    return os.path.join(events_dir, f"events-{k:05d}.parquet")


def write_tick(events_dir: str, k: int, table: pa.Table, due: float) -> dict:
    """Write one tick file atomically (dot-prefixed temp name, then rename);
    returns its log entry."""
    tmp = os.path.join(events_dir, f".events-{k:05d}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, tick_path(events_dir, k))
    ts = table.column("ts").cast(pa.int64())
    return {
        "k": k,
        "due": due,
        "written": time.time(),
        "rows": table.num_rows,
        "ts_min_ms": int(pc.min(ts).as_py()) // 1000,
        "ts_max_ms": int(pc.max(ts).as_py()) // 1000,
    }


def run_live(events_dir: str, seed: int, spec: LiveSpec, seconds: float,
             t_start: float, log_path: str) -> None:
    """Open-loop writer for the ticks after the prefill: tick k is due at
    ``t_start + (k - prefill) * tick_s`` (epoch seconds), whenever the
    previous write finished."""
    prefill, n_ticks = live_schedule(spec, seconds)
    tables = live_ticks(seed, spec, n_ticks)
    with open(log_path, "w") as log:
        for k in range(prefill, n_ticks):
            due = t_start + (k - prefill) * spec.tick_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            log.write(json.dumps(write_tick(events_dir, k, tables[k], due)) + "\n")
            log.flush()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("backfill", help="write the backfill inputs")
    b.add_argument("--out", required=True)
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--size", choices=sorted(BACKFILL), default="full")
    lv = sub.add_parser("live", help="run the open-loop tick writer")
    lv.add_argument("--out", required=True)
    lv.add_argument("--seed", type=int, required=True)
    lv.add_argument("--size", choices=sorted(LIVE), default="full")
    lv.add_argument("--seconds", type=float, required=True)
    lv.add_argument("--start", type=float, required=True,
                    help="epoch seconds of the first due time")
    lv.add_argument("--log", required=True)
    args = ap.parse_args(argv)
    # the log archive comes from the program's own generator
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if args.cmd == "backfill":
        info = write_backfill(args.out, args.seed, args.size)
        print(json.dumps({k: v for k, v in info.items() if k != "expected_tx"}))
    else:
        run_live(args.out, args.seed, LIVE[args.size], args.seconds, args.start,
                 args.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
