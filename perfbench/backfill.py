"""The ``backfill`` workload: recompute APM records from archives.

One pass is the reference's batch recompute in stage order, each stage
writing its records as parquet (the reference inserts them into its
database):

    log archive  --logs_to_tx-->  tx_logs
    events       --load_tx--> st_zerofill_dense --> st
    st           --zscore_recursive(lags 60, 360; influence 0.1)--> fs
    fs           --alert_pipeline--> al

The traced pass calls the same public functions with a span around each and
materializes the layer's output at its boundary (``localCheckpoint``) so the
span holds the layer's work; ``window_stats`` is traced as a child of
``st_zerofill_dense`` by wrapping the name ``zerofill`` calls.
"""

from __future__ import annotations

import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

LAGS = (60, 360)
THRESHOLD = 3.0
INFLUENCE = 0.1
OUTPUTS = ("tx_logs", "st", "fs", "al")


def out_paths(work: str) -> dict[str, str]:
    return {name: os.path.join(work, "out", name) for name in OUTPUTS}


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def log_stage(spark, inp: dict, out: dict) -> None:
    from apmbackend_spark.sources.logparse import logs_to_tx

    _write(logs_to_tx(spark, inp["logs_glob"]), out["tx_logs"])


def event_stages(spark, inp: dict, out: dict) -> None:
    from apmbackend_spark.operators.alerts import AlertConfig, alert_pipeline
    from apmbackend_spark.operators.zerofill import st_zerofill_dense
    from apmbackend_spark.operators.zscore import zscore_recursive
    from apmbackend_spark.sources.tx import load_tx

    _write(st_zerofill_dense(load_tx(spark, inp["archive"]), slice_ms=None), out["st"])
    fs = zscore_recursive(spark.read.parquet(out["st"]), lags=LAGS,
                          threshold=THRESHOLD, influence=INFLUENCE)
    _write(fs, out["fs"])
    _write(alert_pipeline(spark.read.parquet(out["fs"]), AlertConfig()), out["al"])


def run_pass(spark, inp: dict, out: dict) -> None:
    log_stage(spark, inp, out)
    event_stages(spark, inp, out)
    spark.catalog.clearCache()


def warm_up(spark, inp: dict, out: dict) -> None:
    """A cold pass over the measured input itself, with the log stage and
    the event stages side by side: a first pass runs about twice as long as
    a warm one, and the two chains share no data."""
    with ThreadPoolExecutor(2) as pool:
        jobs = [pool.submit(f, spark, inp, out) for f in (log_stage, event_stages)]
        for job in jobs:
            job.result()
    spark.catalog.clearCache()


@contextmanager
def _traced_window_stats(tracer, sink: list):
    """Route ``st_zerofill_dense``'s call to ``window_stats`` through a
    span that materializes its output."""
    from apmbackend_spark.operators import zerofill

    inner = zerofill.window_stats

    def traced(*args, **kwargs):
        with tracer.span("window_stats"):
            df = inner(*args, **kwargs).localCheckpoint()
        sink.append(df)
        return df

    zerofill.window_stats = traced
    try:
        yield
    finally:
        zerofill.window_stats = inner


def run_traced_pass(spark, tracer, inp: dict, out: dict) -> dict:
    """One pass with a span per layer; returns the layer counters, counted
    after the spans close."""
    from apmbackend_spark.operators.alerts import (
        AlertConfig,
        alert_candidates,
        alert_pipeline,
    )
    from apmbackend_spark.operators.zerofill import st_zerofill_dense
    from apmbackend_spark.operators.zscore import zscore_recursive
    from apmbackend_spark.sources.logparse import enrich_tx, parse_logs
    from apmbackend_spark.sources.tx import load_tx

    cfg = AlertConfig()
    with tracer.span("logparse.parse"):
        parsed = parse_logs(spark, inp["logs_glob"]).localCheckpoint()
    with tracer.span("logparse.enrich"):
        _write(enrich_tx(parsed), out["tx_logs"])
    with tracer.span("tx"):
        tx = load_tx(spark, inp["archive"]).localCheckpoint()
    winstats: list = []
    with tracer.span("zerofill"), _traced_window_stats(tracer, winstats):
        _write(st_zerofill_dense(tx, slice_ms=None), out["st"])
    with tracer.span("zscore"):
        fs = zscore_recursive(spark.read.parquet(out["st"]), lags=LAGS,
                              threshold=THRESHOLD, influence=INFLUENCE)
        _write(fs, out["fs"])
    with tracer.span("alerts"):
        _write(alert_pipeline(spark.read.parquet(out["fs"]), cfg), out["al"])

    from pyspark.sql import functions as F

    st = spark.read.parquet(out["st"])
    tx_logs = spark.read.parquet(out["tx_logs"])
    counts = {
        "window_stats.rows_out": sum(df.count() for df in winstats),
        "zerofill.rows_out": st.count(),
        "zerofill.filled": st.where(F.col("tpm") == 0).count(),
        "zscore.rows_out": spark.read.parquet(out["fs"]).count(),
        "alerts.candidates": alert_candidates(spark.read.parquet(out["fs"]), cfg).count(),
        "alerts.fired": spark.read.parquet(out["al"]).count(),
        "logparse.tx_out": tx_logs.count(),
        "logparse.matched": tx_logs.where(F.col("matched") == "Y").count(),
    }
    spark.catalog.clearCache()
    return counts


def layer_metrics(tracer, counts: dict, n_log_lines: int) -> dict[str, float]:
    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "tx.busy_s": tracer.duration("tx"),
        "window_stats.busy_s": tracer.duration("window_stats"),
        "window_stats.rows_out": counts["window_stats.rows_out"],
        "zerofill.self_s": tracer.self_time("zerofill"),
        "zerofill.rows_out": counts["zerofill.rows_out"],
        "zerofill.filled_ratio": ratio(counts["zerofill.filled"], counts["zerofill.rows_out"]),
        "zscore.busy_s": tracer.duration("zscore"),
        "zscore.rows_in": counts["zerofill.rows_out"],
        "zscore.rows_out": counts["zscore.rows_out"],
        "alerts.busy_s": tracer.duration("alerts"),
        "alerts.candidates": counts["alerts.candidates"],
        "alerts.fired": counts["alerts.fired"],
        "alerts.fired_ratio": ratio(counts["alerts.fired"], counts["alerts.candidates"]),
        "logparse.parse_busy_s": tracer.duration("logparse.parse"),
        "logparse.enrich_busy_s": tracer.duration("logparse.enrich"),
        "logparse.lines_in": n_log_lines,
        "logparse.tx_out": counts["logparse.tx_out"],
        "logparse.matched_ratio": ratio(counts["logparse.matched"], counts["logparse.tx_out"]),
        "window_stats.tasks": tracer.tasks("window_stats")[0],
    }
    failed = {"tx": ("tx",), "window_stats": ("window_stats",), "zerofill": ("zerofill",),
              "zscore": ("zscore",), "alerts": ("alerts",),
              "logparse": ("logparse.parse", "logparse.enrich")}
    for layer, spans in failed.items():
        m[f"{layer}.failed_tasks"] = sum(tracer.tasks(s)[1] for s in spans)
    return m


# ---------------------------------------------------------------------------
# correctness checks (outside the timed region)
# ---------------------------------------------------------------------------


def _frame(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def same_rows(a: pd.DataFrame, b: pd.DataFrame, keys: list[str]) -> bool:
    cols = list(a.columns)
    if sorted(cols) != sorted(b.columns) or len(a) != len(b):
        return False
    a = a[cols].sort_values(keys, ignore_index=True)
    b = b[cols].sort_values(keys, ignore_index=True)
    return all(
        np.array_equal(a[c].to_numpy(), b[c].to_numpy(),
                       equal_nan=a[c].dtype.kind == "f")
        for c in cols
    )


def sample_services(seed: int, services: list[str], k: int = 4) -> list[str]:
    rng = np.random.default_rng([seed, 7])
    return sorted(rng.choice(sorted(services), size=min(k, len(services)), replace=False))


def oracle_st(paths: list[str], services: list[str] | None = None) -> pd.DataFrame:
    """Window stats in the st shape from the DuckDB oracle
    (``TX_SQL`` + ``window_stats_oracle_ctes``) over the events files
    ``paths``, optionally for some services only."""
    import duckdb

    from apmbackend_spark.operators.window_stats import window_stats_oracle_ctes
    from apmbackend_spark.sources.tx import TX_SQL

    def quote(text: str) -> str:
        return "'" + text.replace("'", "''") + "'"

    where = f"WHERE service IN ({', '.join(map(quote, services))})" if services else ""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        files = "[" + ", ".join(map(quote, paths)) + "]"
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files})")
        return con.execute(
            f"WITH tx AS (SELECT * FROM ({TX_SQL}) {where})"
            + window_stats_oracle_ctes()
            + """
SELECT win_start AS timestamp, server, service, tpm,
       round(avg_ms, 0) AS average, round(p75, 0) AS per75, round(p95, 0) AS per95
FROM winstats"""
        ).df()
    finally:
        con.close()


def check_window_stats(inp: dict, st: pd.DataFrame, services: list[str]) -> bool:
    """Non-empty st rows of the sampled services equal the DuckDB oracle's
    window stats; the remaining rows are zero-filled on a dense 10 s grid
    that runs to the last window."""
    oracle = oracle_st([os.path.join(inp["archive"], "events.parquet")], services)
    mine = st[st["service"].isin(services)]
    if not same_rows(mine[mine["tpm"] > 0].reset_index(drop=True), oracle,
                     ["server", "service", "timestamp"]):
        return False
    zero = mine[mine["tpm"] == 0]
    if zero[["average", "per75", "per95"]].notna().any().any():
        return False
    last = st["timestamp"].max()
    for _, g in mine.groupby(["server", "service"]):
        ts = np.sort(g["timestamp"].to_numpy())
        if ts[-1] != last or np.any(np.diff(ts) != 10_000):
            return False
    return True


def replay_zscore(st: pd.DataFrame, lags: tuple[int, ...]) -> pd.DataFrame:
    """fs rows from a per-key pandas replay of ``zscore_recursive_py``."""
    from apmbackend_spark.operators.zscore import zscore_recursive_py

    return pd.concat(
        [zscore_recursive_py(g.reset_index(drop=True), lags, THRESHOLD, INFLUENCE)
         for _, g in st.groupby(["server", "service"])],
        ignore_index=True,
    )


def _expected_alerts(fs: pd.DataFrame) -> pd.DataFrame:
    """The alert pipeline's causes, debounce and cooldown replayed in
    pandas with the program's reference traces."""
    from apmbackend_spark.operators.alerts import (
        CAUSE_HARD_AVG,
        CAUSE_HARD_P75,
        CAUSE_UB_BOTH,
        AlertConfig,
        cooldown_trace_py,
        debounce_trace_py,
    )

    cfg = AlertConfig()
    if not cfg.alert_on_both_only or cfg.hard_max_overrides or cfg.suppressed_lags \
            or cfg.suppressed_services:
        raise ValueError("the replay covers the default AlertConfig only")
    hard = cfg.hard_max_ms

    def sig(m):
        return (fs[f"{m}signal"] > 0) & (fs[m] > cfg.hard_min_ms) & (fs["tpm"] > cfg.min_tpm)

    parts = [
        np.where(fs["average"] > hard, CAUSE_HARD_AVG, ""),
        np.where(fs["per75"] > hard, CAUSE_HARD_P75, ""),
        np.where(sig("average") & sig("per75"), CAUSE_UB_BOTH, ""),
    ]
    fs = fs.assign(cause=[",".join(p for p in row if p) for row in zip(*parts)])
    trig = []
    for _, g in fs.groupby(["server", "service", "lag"]):
        g = g.sort_values("timestamp")
        trace = debounce_trace_py((g["cause"] != "").tolist(), cfg.window_size,
                                  cfg.required_bad)
        trig.append(g[np.array([t for _, t in trace], dtype=bool)])
    trig = pd.concat(trig) if trig else fs.iloc[0:0]
    out = []
    for _, g in trig.groupby("service"):
        g = g.sort_values(["timestamp", "server", "lag"])
        keep = cooldown_trace_py(g["timestamp"].tolist(), cfg.cooldown_minutes * 60_000.0)
        out.append(g[np.array(keep, dtype=bool)])
    kept = pd.concat(out) if out else trig
    return pd.DataFrame({
        "alerttimestamp": kept["timestamp"].astype("int64"),
        "entrytimestamp": kept["timestamp"].astype("int64"),
        "server": kept["server"],
        "service": kept["service"],
        "lag": kept["lag"].astype("int32"),
        "cause": kept["cause"],
    }).reset_index(drop=True)


def check_zscore_alerts(st: pd.DataFrame, fs: pd.DataFrame, al: pd.DataFrame,
                        services: list[str]) -> tuple[bool, bool]:
    """fs rows of the sampled services equal a per-key pandas replay of
    ``zscore_recursive_py``; their alert rows equal the replayed pipeline."""
    mine = fs[fs["service"].isin(services)].reset_index(drop=True)
    replay = replay_zscore(st[st["service"].isin(services)], LAGS)
    fs_ok = same_rows(mine, replay[mine.columns], ["server", "service", "lag", "timestamp"])
    al_mine = al[al["service"].isin(services)].reset_index(drop=True)
    al_ok = same_rows(al_mine, _expected_alerts(mine),
                       ["service", "alerttimestamp", "server", "lag"])
    return fs_ok, al_ok


LOG_TX_COLS = ["server", "service", "logid", "acctnum", "startts", "endts",
               "elapsed", "toplevel", "matched"]


def loggen_defect(logid: str) -> bool:
    """Records whose expected acctnum ``loggen.generate`` gets wrong: for
    CommonTiming record i with i % 5 == 0 and i % 9 == 7 it writes the
    riskid SOAP frame, which carries a valid account number, but expects
    the rejected-account fallback."""
    _, ct, i = logid.rpartition("-ct-")
    return bool(ct) and i.isdigit() and int(i) % 5 == 0 and int(i) % 9 == 7


def expected_log_tx(expected: list[dict]) -> tuple[list[dict], int]:
    """The generator's expected records with ``loggen_defect``'s records
    given the account number their riskid frame carries (the generator's
    ``acct = 100000000 + i``; SOAP wins over the BAF block, as for every
    other record), and how many records that changed. Once the generator
    expects that account itself, nothing changes."""
    out, fixed = [], 0
    for e in expected:
        if loggen_defect(e["logid"]):
            acct = 100_000_000 + int(e["logid"].rpartition("-ct-")[2])
            if e["acctnum"] != acct:
                e, fixed = {**e, "acctnum": acct}, fixed + 1
        out.append(e)
    return out, fixed


def log_tx_diff(expected: list[dict], tx_logs_path: str) -> dict[str, int]:
    """Parsed and enriched log tx against ``expected_log_tx``: rows parsed
    but not expected, rows expected but not parsed, and the records whose
    expected account the generator gets wrong."""
    want_rows, fixed = expected_log_tx(expected)
    got = Counter(tuple(map(str, r.values()))
                  for r in pq.read_table(tx_logs_path, columns=LOG_TX_COLS).to_pylist())
    want = Counter(tuple(str(e[c]) for c in LOG_TX_COLS) for e in want_rows)
    return {
        "unexpected": sum((got - want).values()),
        "missing": sum((want - got).values()),
        "loggen_expected_wrong": fixed,
    }


def run_checks(inp: dict, out: dict, seed: int) -> tuple[dict[str, bool], dict[str, int]]:
    """The checks by name, and the log tx row differences for the report."""
    st = _frame(out["st"])
    log_diff = log_tx_diff(inp["expected_tx"], out["tx_logs"])
    fs = _frame(out["fs"])
    al = _frame(out["al"])
    services = sample_services(seed, st["service"].unique().tolist())
    fs_ok, al_ok = check_zscore_alerts(st, fs, al, services)
    return {
        "window_stats_vs_duckdb": check_window_stats(inp, st, services),
        "fs_rows_eq_lags_x_st": len(fs) == len(LAGS) * len(st),
        "fs_vs_pandas_replay": fs_ok,
        "alerts_vs_pandas_replay": al_ok,
        "log_tx_vs_expected": log_diff["unexpected"] + log_diff["missing"] == 0,
    }, log_diff
