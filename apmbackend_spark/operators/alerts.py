"""Alerting operators (SURVEY.md F1-F6; reference
``stream_process_alerts.js:335-471``).

Layers:
  * `alert_candidates` [Q] — suppression filters (F1), hard-max threshold
    with per-service override (F2), signal-with-floors predicates incl.
    alertOnBothOnly (F3), cause accumulation in reference order (F6). Pure
    column algebra + a broadcast join against the override dimension; fully
    oracle-checkable.
  * `alert_service_scan` — F4 then F5 over one service's intervals, the
    kernel shared by the batch `alert_pipeline` and the streaming
    `alerts_stateful`. F4: per (server, lag) rolling bad-interval counter
    (+1 on firing interval while counter <= window, -1 floored at 0 on
    quiet ones; trigger at counter >= required) — a clamped recursion
    (output feeds state), so it runs ordered in Python; trace unit tests
    pin `debounce_trace_py`. F5: per-service last-alert registry; suppress
    alerts within the cooldown. The reference measures cooldown in
    processing time (stream_process_alerts.js:437 `new Date()`); here it is
    defined in EVENT time (entry timestamp) with deterministic (timestamp,
    server, lag) ordering so results are reproducible and batch/stream
    identical.
  * `alert_pipeline` — F1-F6 end to end: `_with_cause` over the full
    interval series, then one applyInPandas grouped by service running
    `alert_service_scan` from empty state.

Scale: candidates is one narrow projection (no shuffle beyond the broadcast);
the pipeline shuffles once, on service, into one Python task per task slot
(`session.task_slots`). No driver-side state anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apmbackend_spark.session import task_slots

CAUSE_HARD_AVG = "average exceeded hard ms threshold"
CAUSE_HARD_P75 = "per75 exceeded hard ms threshold"
CAUSE_UB_AVG = "average UB exceeded"
CAUSE_UB_P75 = "per75 UB exceeded"
CAUSE_UB_BOTH = "average and per75 UB exceeded"


@dataclass(frozen=True)
class AlertConfig:
    """Mirrors reference config/apm_config.json:184-211."""

    hard_max_ms: float = 10000.0
    hard_min_ms: float = 200.0
    min_tpm: float = 1.0
    alert_on_both_only: bool = True
    suppressed_lags: tuple[int, ...] = ()
    suppressed_services: tuple[str, ...] = ()
    hard_max_overrides: dict[str, float] = field(default_factory=dict)
    window_size: int = 60       # rollingAlertWindowSizeInIntervals
    required_bad: int = 45      # requiredNumberBadIntervalsInAlertWindowToTrigger
    cooldown_minutes: float = 15.0


def _with_cause(fs: DataFrame, cfg: AlertConfig, keep_quiet: bool) -> DataFrame:
    """Shared F1/F2/F3/F6 predicate block (the single source of truth for
    both alert_candidates and alert_pipeline — they previously duplicated
    this inline and could drift).

    keep_quiet=False drops suppressed + quiet rows (candidate view);
    keep_quiet=True keeps every interval, marking suppressed/quiet ones
    with cause='' (the debounce counter needs the full series)."""
    spark = fs.sparkSession
    if cfg.hard_max_overrides:
        ov = spark.createDataFrame(
            list(cfg.hard_max_overrides.items()), "service string, hardmax_override double"
        )
        fs = fs.join(F.broadcast(ov), "service", "left")
    else:
        fs = fs.withColumn("hardmax_override", F.lit(None).cast("double"))

    hard_max = F.coalesce(F.col("hardmax_override"), F.lit(cfg.hard_max_ms))
    c1 = F.when(F.col("average") > hard_max, F.lit(CAUSE_HARD_AVG))
    c2 = F.when(F.col("per75") > hard_max, F.lit(CAUSE_HARD_P75))
    avg_sig = (
        (F.col("averagesignal") > 0)
        & (F.col("average") > F.lit(cfg.hard_min_ms))
        & (F.col("tpm") > F.lit(cfg.min_tpm))
    )
    p75_sig = (
        (F.col("per75signal") > 0)
        & (F.col("per75") > F.lit(cfg.hard_min_ms))
        & (F.col("tpm") > F.lit(cfg.min_tpm))
    )
    if cfg.alert_on_both_only:
        sig_causes = [F.when(avg_sig & p75_sig, F.lit(CAUSE_UB_BOTH))]
    else:
        sig_causes = [
            F.when(avg_sig, F.lit(CAUSE_UB_AVG)),
            F.when(p75_sig, F.lit(CAUSE_UB_P75)),
        ]
    cause = F.concat_ws(
        ",", F.filter(F.array(c1, c2, *sig_causes), lambda x: x.isNotNull())
    )

    suppressed = F.lit(False)
    if cfg.suppressed_lags:
        suppressed = suppressed | F.col("lag").isin(
            *[int(x) for x in cfg.suppressed_lags]
        )
    if cfg.suppressed_services:
        suppressed = suppressed | F.col("service").isin(
            *list(cfg.suppressed_services)
        )

    if keep_quiet:
        return fs.withColumn(
            "cause", F.when(suppressed, F.lit("")).otherwise(cause)
        )
    return (
        fs.withColumn("cause", cause)
        .where(~suppressed)
        .where(F.col("cause") != "")
    )


def alert_candidates(fs: DataFrame, cfg: AlertConfig) -> DataFrame:
    """Rows whose raw alert predicates fire, cause CSV in reference order."""
    return _with_cause(fs, cfg, keep_quiet=False).select(
        "timestamp", "server", "service", "lag", "tpm",
        "average", "per75", "per95", "cause",
    )


def alert_candidates_oracle_select(cfg: AlertConfig, fs_cte: str = "fs") -> str:
    """DuckDB twin over an `fs` CTE with the zscore output columns."""
    if cfg.hard_max_overrides:
        vals = ", ".join(
            f"('{s}', {v!r})" for s, v in cfg.hard_max_overrides.items()
        )
        join = (
            f"LEFT JOIN (SELECT * FROM (VALUES {vals}) AS t(service, hardmax_override)) o "
            f"USING (service)"
        )
        hard_max = f"COALESCE(o.hardmax_override, {cfg.hard_max_ms!r})"
    else:
        join = ""
        hard_max = repr(cfg.hard_max_ms)

    filters = ["cause <> ''"]
    if cfg.suppressed_lags:
        filters.append(f"lag NOT IN ({', '.join(str(int(x)) for x in cfg.suppressed_lags)})")
    if cfg.suppressed_services:
        filters.append(
            "service NOT IN (" + ", ".join(f"'{s}'" for s in cfg.suppressed_services) + ")"
        )
    return f"""
SELECT timestamp, server, service, lag, tpm, average, per75, per95, cause FROM (
    SELECT {fs_cte}.*, {_cause_expr_sql(cfg, hard_max)} AS cause
    FROM {fs_cte} {join}
) WHERE {' AND '.join(filters)}
"""


def _cause_expr_sql(cfg: AlertConfig, hard_max: str) -> str:
    """The cause-CSV expression shared by both oracle renderings (candidate
    filter and keep-quiet series)."""
    avg_sig = (
        f"(averagesignal > 0 AND average > {cfg.hard_min_ms!r} AND tpm > {cfg.min_tpm!r})"
    )
    p75_sig = (
        f"(per75signal > 0 AND per75 > {cfg.hard_min_ms!r} AND tpm > {cfg.min_tpm!r})"
    )
    causes = [
        f"CASE WHEN average > {hard_max} THEN '{CAUSE_HARD_AVG}' END",
        f"CASE WHEN per75 > {hard_max} THEN '{CAUSE_HARD_P75}' END",
    ]
    if cfg.alert_on_both_only:
        causes.append(f"CASE WHEN {avg_sig} AND {p75_sig} THEN '{CAUSE_UB_BOTH}' END")
    else:
        causes.append(f"CASE WHEN {avg_sig} THEN '{CAUSE_UB_AVG}' END")
        causes.append(f"CASE WHEN {p75_sig} THEN '{CAUSE_UB_P75}' END")
    cause_arr = "list_filter([" + ", ".join(causes) + "], x -> x IS NOT NULL)"
    return f"COALESCE(array_to_string({cause_arr}, ','), '')"


# Tail select shared by alert_pipeline_oracle_sql and composers that need
# the alert rows as a subquery (the broker topology joins entry metrics on).
ALERT_PIPELINE_FINAL_SELECT = """
SELECT l.tss[k.i] AS alerttimestamp,
       l.tss[k.i] AS entrytimestamp,
       l.svs[k.i] AS server,
       k.service AS service,
       l.lgs[k.i] AS lag,
       l.css[k.i] AS cause
FROM keepscan k JOIN trig_lists l USING (service)
WHERE k.keep
"""


def alert_pipeline_oracle_sql(cfg: AlertConfig, fs_cte: str = "fs") -> str:
    """CTE fragment + final select — see alert_pipeline_oracle_ctes."""
    return alert_pipeline_oracle_ctes(cfg, fs_cte) + ALERT_PIPELINE_FINAL_SELECT


def alert_pipeline_oracle_ctes(cfg: AlertConfig, fs_cte: str = "fs") -> str:
    """DuckDB twin of `alert_pipeline` (F1-F6 incl. the RECURSIVE debounce
    counter and cooldown registry), over an `fs` CTE with zscore output
    columns: the CTE fragment through ``keepscan`` (append
    ``ALERT_PIPELINE_FINAL_SELECT``, or wrap it, to read the alert rows).
    The assembled query must start WITH RECURSIVE.

    The debounce counter (stream_process_alerts.js:358-391) is a two-sided
    clamped walk — +1 on firing intervals while counter <= window_size, -1
    floored at 0 on quiet ones, trigger when the post-step counter reaches
    required_bad on a firing interval — and the cooldown registry
    (stream_process_alerts.js:437-460) is a per-service greedy keep-if-
    elapsed scan. Both are sequential recurrences, rendered as recursive
    CTEs that iterate ROW POSITION: each key's interval series is first
    pivoted into ordered lists (MATERIALIZED — the recursive half re-reads
    it every iteration), so one iteration advances every key by one
    position against a |keys|-row working table. Iterations = longest
    per-key series; per-iteration work = |keys| O(1) list probes.
    """
    if cfg.hard_max_overrides:
        vals = ", ".join(
            f"('{s}', {v!r})" for s, v in cfg.hard_max_overrides.items()
        )
        join = (
            f"LEFT JOIN (SELECT * FROM (VALUES {vals}) AS t(service, hardmax_override)) o "
            f"USING (service)"
        )
        hard_max = f"COALESCE(o.hardmax_override, {cfg.hard_max_ms!r})"
    else:
        join = ""
        hard_max = repr(cfg.hard_max_ms)
    cause = _cause_expr_sql(cfg, hard_max)

    suppressed = ["FALSE"]
    if cfg.suppressed_lags:
        suppressed.append(
            f"lag IN ({', '.join(str(int(x)) for x in cfg.suppressed_lags)})"
        )
    if cfg.suppressed_services:
        suppressed.append(
            "service IN (" + ", ".join(f"'{s}'" for s in cfg.suppressed_services) + ")"
        )
    ws = int(cfg.window_size)
    req = int(cfg.required_bad)
    cd = float(cfg.cooldown_minutes) * 60_000.0

    return f"""
, causes AS (
    SELECT timestamp, server, service, lag,
           CASE WHEN {' OR '.join(suppressed)} THEN '' ELSE {cause} END AS cause
    FROM {fs_cte} {join}
), flagged AS MATERIALIZED (
    SELECT server, service, lag,
           list(timestamp ORDER BY timestamp) AS tss,
           list(cause ORDER BY timestamp) AS cs
    FROM causes GROUP BY server, service, lag
), trace AS (
    SELECT server, service, lag, 1 AS i,
           CASE WHEN cs[1] <> '' THEN 1 ELSE 0 END AS c
    FROM flagged
    UNION ALL
    SELECT t.server, t.service, t.lag, t.i + 1,
           CASE WHEN f.cs[t.i + 1] <> ''
                THEN CASE WHEN t.c <= {ws} THEN t.c + 1 ELSE t.c END
                ELSE greatest(t.c - 1, 0) END
    FROM trace t JOIN flagged f USING (server, service, lag)
    WHERE t.i < len(f.cs)
), triggered AS MATERIALIZED (
    -- firing interval whose post-step counter reached required_bad
    SELECT f.server, f.service, f.lag, f.tss[t.i] AS timestamp,
           f.cs[t.i] AS cause
    FROM trace t JOIN flagged f USING (server, service, lag)
    WHERE f.cs[t.i] <> '' AND t.c >= {req}
), trig_lists AS MATERIALIZED (
    -- deterministic event-time cooldown order: (timestamp, server, lag)
    SELECT service,
           list(timestamp ORDER BY timestamp, server, lag) AS tss,
           list(server   ORDER BY timestamp, server, lag) AS svs,
           list(lag      ORDER BY timestamp, server, lag) AS lgs,
           list(cause    ORDER BY timestamp, server, lag) AS css
    FROM triggered GROUP BY service
), keepscan AS (
    SELECT service, 1 AS i, TRUE AS keep, tss[1] AS last_kept
    FROM trig_lists
    UNION ALL
    SELECT k.service, k.i + 1,
           (l.tss[k.i + 1] - k.last_kept) > {cd!r} AS keep,
           CASE WHEN (l.tss[k.i + 1] - k.last_kept) > {cd!r}
                THEN l.tss[k.i + 1] ELSE k.last_kept END
    FROM keepscan k JOIN trig_lists l USING (service)
    WHERE k.i < len(l.tss)
)
"""


# ---------------------------------------------------------------------------
# F4 debounce + F5 cooldown (recursive state).
# ---------------------------------------------------------------------------


def debounce_trace_py(
    fired_flags: list[bool], window_size: int, required: int, start: int = 0
):
    """Reference counter trace (stream_process_alerts.js:370-391,427-434):
    returns (counter_after, triggered) per interval. ``start`` carries the
    counter across micro-batches in the streaming port."""
    c = int(start)
    out = []
    for fired in fired_flags:
        if fired:
            if c <= window_size:
                c += 1
            triggered = c >= required
        else:
            if c > 0:
                c -= 1
            triggered = False
        out.append((c, triggered))
    return out


def cooldown_trace_py(
    ts_list: list[int], cooldown_ms: float, last: int | None = None
) -> list[bool]:
    """F5: keep an alert iff no kept alert for the service within cooldown
    (strict >, reference stream_process_alerts.js:456-460). ``last`` carries
    the last-kept timestamp across micro-batches in the streaming port."""
    out = []
    for ts in ts_list:
        if last is None or (ts - last) > cooldown_ms:
            out.append(True)
            last = ts
        else:
            out.append(False)
    return out


ALERT_INPUT_COLS = ("timestamp", "server", "service", "lag", "cause")
ALERT_SCHEMA = (
    "alerttimestamp long, entrytimestamp long, server string, "
    "service string, lag int, cause string"
)


def alert_service_scan(
    rows: pd.DataFrame,
    cfg: AlertConfig,
    counters: dict[tuple[str, int], int],
    last_ts: int | None,
) -> tuple[pd.DataFrame, int | None]:
    """F4 then F5 over one service's intervals: the kernel of both
    ``alert_pipeline`` and the streaming ``alerts_stateful``.

    ``rows`` has ALERT_INPUT_COLS, quiet intervals marked cause=''. Each
    (server, lag) series runs its debounce counter in timestamp order from
    ``counters[(server, lag)]`` (0 when absent); the triggered rows then
    pass the cooldown in (timestamp, server, lag) order from ``last_ts``,
    the last kept alert (None: none yet). ``counters`` is updated in place;
    returns the kept alerts (ALERT_SCHEMA columns) and the new last_ts."""
    ws, req = int(cfg.window_size), int(cfg.required_bad)
    # cooldown order up front: every (server, lag) series is then in
    # timestamp order, and so is the triggered subset
    rows = rows.sort_values(["timestamp", "server", "lag"])
    fired = (rows["cause"] != "").to_numpy()
    triggered = np.zeros(len(rows), dtype=bool)
    for (srv, lg), idx in rows.groupby(["server", "lag"], dropna=False).indices.items():
        key = (srv, int(lg))
        trace = debounce_trace_py(fired[idx].tolist(), ws, req, start=counters.get(key, 0))
        counters[key] = trace[-1][0]
        triggered[idx] = [t for _, t in trace]
    trig = rows[triggered]
    keep = cooldown_trace_py(
        trig["timestamp"].tolist(), cfg.cooldown_minutes * 60_000.0, last=last_ts
    )
    kept = trig[np.array(keep, dtype=bool)]
    if len(kept):
        last_ts = int(kept["timestamp"].iloc[-1])
    alerts = pd.DataFrame(
        {
            "alerttimestamp": kept["timestamp"],
            "entrytimestamp": kept["timestamp"],
            "server": kept["server"],
            "service": kept["service"],
            "lag": kept["lag"],
            "cause": kept["cause"],
        }
    )
    return alerts, last_ts


def alert_pipeline(fs: DataFrame, cfg: AlertConfig) -> DataFrame:
    """F1-F6 end to end: causes over the full interval series (quiet
    intervals marked cause=''), then one grouped map per service running
    ``alert_service_scan`` from empty state."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return alert_service_scan(pdf, cfg, {}, None)[0]

    flagged = _with_cause(fs, cfg, keep_quiet=True).select(*ALERT_INPUT_COLS)
    return (
        flagged.repartition(task_slots(fs.sparkSession), "service")
        .groupBy("service")
        .applyInPandas(fn, schema=ALERT_SCHEMA)
    )
