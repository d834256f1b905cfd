"""Streaming ports of the recursive operators (SURVEY.md §7 phase 3/4):
influence-damped z-score (A9) and alert debounce/cooldown (F4/F5) as
`applyInPandasWithState` stateful stages.

Each stateful operator runs its batch twin's kernel, resumed from the
state store: the z-score runs ``operators.zscore.zscore_recursive_py``,
the alerts run ``operators.alerts.alert_service_scan``.

Z-score state per (server, service) group: one array<double> history per
(lag, metric) — exactly the reference's FIFO lists capped at lag
(stream_calc_z_score.js:285-306), restored/persisted through Spark's state
store (the reference's JSON resume files, stream_calc_stats.js:54-87).
Nulls inside histories are preserved (they occupy length, skip stats —
util_methods.js:10-24).

Scale: state is hash-partitioned by key, bounded at lag values per metric
(8640 doubles worst case), checkpointed incrementally — the RocksDB state
store holds millions of keys without driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from apmbackend_spark.operators.zscore import (
    DEFAULT_LAGS,
    METRICS,
    fs_schema,
    zscore_recursive_py,
)


def _state_schema(lags: tuple[int, ...], metrics: tuple[str, ...]) -> StructType:
    return StructType(
        [
            StructField(f"h_{lag}_{m}", ArrayType(DoubleType(), True), True)
            for lag in lags
            for m in metrics
        ]
    )


def zscore_stateful(
    st_stream: DataFrame,
    lags: Iterable[int] = DEFAULT_LAGS,
    threshold: float = 3.0,
    influence: float = 0.1,
    metrics: Iterable[str] = METRICS,
) -> DataFrame:
    """Exact reference z-score semantics as a streaming stateful operator:
    each key's micro-batch runs the batch kernel
    (``operators.zscore.zscore_recursive_py``) resumed from the histories
    in the state store, which it updates in place."""
    lags = tuple(int(x) for x in lags)
    metrics = tuple(metrics)
    n_slots = len(lags) * len(metrics)

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hists = [list(x) if x is not None else [] for x in state.get]
        else:
            hists = [[] for _ in range(n_slots)]
        out = zscore_recursive_py(
            pd.concat(list(pdfs)), lags, threshold, influence, metrics, hists=hists
        )
        state.update(tuple(hists))
        yield out

    return st_stream.groupBy("server", "service").applyInPandasWithState(
        fn,
        outputStructType=fs_schema(metrics),
        stateStructType=_state_schema(lags, metrics),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# A2 streaming zero-fill: remembered keys + event-time timers.
# ---------------------------------------------------------------------------

ZF_SLIDE_MS = 10_000


def bucket_zerofill_stateful(
    tx_stream: DataFrame,
    slide_ms: int = ZF_SLIDE_MS,
    watermark: str = "60 seconds",
    time_col: str = "endtime",
) -> DataFrame:
    """A2 zero-row emission as a streaming operator (SURVEY 'hard part #4').
    Emits (timestamp, server, service, cnt, sum_elapsed) per 10 s bucket for
    every key ever seen, cnt=0 while silent — the reference iterates every
    known key each interval (stream_calc_stats.js:159-202). The remembered
    key dimension lives in the state store, and watermark-driven
    ``EventTimeTimeout`` ticks wake silent keys: a timed-out group is invoked
    with no input rows, emits its zero rows, and re-arms the timeout for the
    next bucket boundary. (transformWithState timers would express the same
    thing; applyInPandasWithState timeouts are the portable form — no
    protobuf dependency.)

    State per key: last finalized bucket + pending bucket partials (bounded
    by watermark delay / slide — a bucket finalizes only once the watermark
    passes its end, so late rows inside the delay still count exactly).
    Batch twin: the bucket grid of ``operators.zerofill.st_zerofill``;
    full-window stats compose downstream exactly as window_stats composes
    over buckets.

    Scale: keys partition across the cluster and timeouts fire where the key
    lives — no global key enumeration anywhere; state is a few longs plus
    the in-flight buckets."""
    slide = int(slide_ms)
    out_schema = (
        "timestamp long, server string, service string, cnt long, sum_elapsed long"
    )
    state_schema = StructType(
        [
            StructField("last_bucket", LongType(), True),
            StructField("pend_b", ArrayType(LongType(), True), True),
            StructField("pend_cnt", ArrayType(LongType(), True), True),
            StructField("pend_sum", ArrayType(LongType(), True), True),
        ]
    )
    out_cols = ["timestamp", "server", "service", "cnt", "sum_elapsed"]

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        server, service = key
        if state.exists:
            last_b, pb, pc, ps = state.get
            pending = {int(b): (int(c), int(s)) for b, c, s in zip(pb, pc, ps)}
        else:
            last_b, pending = None, {}

        if not state.hasTimedOut:
            for pdf in pdfs:
                for endts, elapsed in zip(pdf["endts"], pdf["elapsed"]):
                    b = int(endts) // slide
                    c, s = pending.get(b, (0, 0))
                    pending[b] = (c + 1, s + int(elapsed))
            if last_b is None and pending:
                last_b = min(pending) - 1

        wm = state.getCurrentWatermarkMs()
        out = []
        if last_b is not None:
            hi = wm // slide - 1  # highest bucket fully below the watermark
            for b in range(int(last_b) + 1, hi + 1):
                c, s = pending.pop(b, (0, None))
                out.append((b * slide, server, service, c, s))
            last_b = max(int(last_b), hi)

        state.update(
            (
                None if last_b is None else int(last_b),
                list(pending),
                [c for c, _ in pending.values()],
                [s for _, s in pending.values()],
            )
        )
        # next tick strictly above the current watermark so silent keys keep
        # finalizing buckets as the watermark advances
        state.setTimeoutTimestamp((wm // slide + 2) * slide)
        yield pd.DataFrame(out, columns=out_cols)

    return (
        tx_stream.withWatermark(time_col, watermark)
        .groupBy("server", "service")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# F4/F5 streaming: alert debounce + cooldown with store-backed state.
# ---------------------------------------------------------------------------


def alerts_stateful(fs_stream: DataFrame, cfg) -> DataFrame:
    """F1-F6 end to end on a stream. Spark allows one
    ``applyInPandasWithState`` per streaming query, so debounce and
    cooldown run as a single operator keyed by service — the cooldown's
    natural key (the reference's last-alert registry is per-service,
    stream_process_alerts.js:436-467). Each group runs
    ``operators.alerts.alert_service_scan``, the batch ``alert_pipeline``'s
    kernel, from its stored state: parallel arrays of (server, lag) ->
    counter plus the last-kept timestamp. Parallelism is #services, which
    is exactly the contention the reference's per-service registry
    imposes."""
    from apmbackend_spark.operators.alerts import (
        ALERT_INPUT_COLS,
        ALERT_SCHEMA,
        _with_cause,
        alert_service_scan,
    )
    from pyspark.sql.types import StringType

    state_schema = StructType(
        [
            StructField("servers", ArrayType(StringType(), True), True),
            StructField("lags", ArrayType(IntegerType(), True), True),
            StructField("counters", ArrayType(IntegerType(), True), True),
            StructField("last_ts", LongType(), True),
        ]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            servers, lags_, counters, last_ts = state.get
            ctr = {
                (srv, int(lg)): int(c)
                for srv, lg, c in zip(servers or [], lags_ or [], counters or [])
            }
        else:
            ctr, last_ts = {}, None

        alerts, last_ts = alert_service_scan(pd.concat(list(pdfs)), cfg, ctr, last_ts)
        state.update(
            (
                [s for s, _ in ctr],
                [int(l) for _, l in ctr],
                [int(c) for c in ctr.values()],
                None if last_ts is None else int(last_ts),
            )
        )
        yield alerts

    flagged = _with_cause(fs_stream, cfg, keep_quiet=True)
    return (
        flagged.select(*ALERT_INPUT_COLS)
        .groupBy("service")
        .applyInPandasWithState(
            fn,
            outputStructType=ALERT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming funnel: per-user sequential-pattern state machine.
# ---------------------------------------------------------------------------


def funnel_stateful(
    events_stream: DataFrame, steps: tuple[str, ...]
) -> DataFrame:
    """The streaming form of ``operators/sessions.funnel_steps`` — the
    documented flip for unbounded per-user histories: instead of
    collecting a user's whole event list into one aggregation buffer, the
    funnel's stage pointer and step timestamps live in the STATE STORE
    and each micro-batch advances them over just that batch's rows.

    State per user: (stage, t1..tk, n_seen) — O(k), independent of
    history length; per-task input is one micro-batch. Batch rows are
    folded in (ts_us, event_id) order, the same total order as the batch
    operator, so on time-cut deliveries the two forms agree exactly.

    Each batch emits the user's post-batch funnel row tagged with the
    cumulative ``n_seen``; a key's final row is its max-``n_seen`` one
    (strictly increasing across the batches that contain the key, so the
    argmax is unique and deterministic).
    """
    k = len(steps)
    out_schema = (
        "user_id long, stage int, "
        + ", ".join(f"t{i+1} long" for i in range(k))
        + ", n_seen long"
    )
    state_schema = StructType(
        [StructField("stage", IntegerType())]
        + [StructField(f"t{i+1}", LongType()) for i in range(k)]
        + [StructField("n_seen", LongType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            stored = state.get
            stage = int(stored[0])
            times = [
                None if stored[1 + i] is None else int(stored[1 + i])
                for i in range(k)
            ]
            n_seen = int(stored[1 + k])
        else:
            stage, times, n_seen = 0, [None] * k, 0

        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        n_seen += len(rows)
        if stage < k:
            for ty, tus in zip(rows["event_type"], rows["ts_us"]):
                if ty == steps[stage]:
                    times[stage] = int(tus)
                    stage += 1
                    if stage == k:
                        break
        state.update((stage, *times, n_seen))
        out = {"user_id": pd.Series([uid], dtype="int64")}
        out["stage"] = pd.Series([stage], dtype="int32")
        for i in range(k):
            out[f"t{i+1}"] = pd.Series([times[i]], dtype="Int64")
        out["n_seen"] = pd.Series([n_seen], dtype="int64")
        yield pd.DataFrame(out)

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming nearest-event join (direction-agnostic as-of with tolerance) —
# the stateful port of operators/correlation.py::nearest_event_join.
# ---------------------------------------------------------------------------

NEAREST_OUT_SCHEMA = (
    "logid string, server string, endts long, gauge_ts long, "
    "heapused long, dist_ms long, direction string"
)


def nearest_stateful(
    rows_stream: DataFrame, tol_ms: int = 100_000
) -> DataFrame:
    """Streaming form of the nearest-gauge temporal join: tx rows pick the
    NEAREST gauge on their server within ``tol_ms``, earlier OR later,
    ties backward — EXACTLY the batch operator's semantics
    (``nearest_event_join``; reference anchor: the entry/exit correlator's
    gauge alignment, correlate_logs.js), decided incrementally.

    Input: ONE time-ordered stream per server of
    (server, ts, kind, logid, g_heap) rows — kind 0 = gauge, 1 = tx,
    2 = end-of-stream marker. Deliveries must be time-consecutive (the
    gate cuts on ts), so within a key later batches never rewind time.

    State per server: the latest gauge (backward candidate) plus a PENDING
    buffer of tx rows whose nearest gauge is not yet provable. A pending
    tx resolves the moment its outcome is certain, whichever batch that
    lands in:

      * a GAUGE at g resolves every pending exactly (forward distance
        known; pick backward iff d_b <= d_f, then the tolerance gate);
      * any later row at time c proves a pending with backward distance
        d_b once c - t >= d_b (every future forward candidate is at
        least that far, and ties go backward), and proves a gaugeless /
        distant pending null once c - t > tol (no in-tolerance forward
        can exist; a nearer-but-out-of-tol backward already blocks —
        the batch operator's pick-then-null rule);
      * the end marker (ts = +inf) flushes the rest backward-or-null.

    The pending buffer is bounded by the tolerance window (every pending
    older than tol resolves at the next row), so state is O(tx rate x
    tol) per key regardless of stream length — the 100 TB shape. Same
    oracle as the batch gate; the drain gate forces cross-batch carries
    by cutting deliveries mid-stream.

    A gauge at exactly a tx's ts sorts before it (kind asc), making it
    the backward candidate at distance 0 in both engines — the batch
    comparator's tie rule.
    """
    from pyspark.sql.types import StringType

    tol = int(tol_ms)
    state_schema = StructType(
        [
            StructField("b_ts", LongType(), True),
            StructField("b_heap", LongType(), True),
            StructField("p_logid", ArrayType(StringType(), True), True),
            StructField("p_ts", ArrayType(LongType(), True), True),
        ]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (server,) = key
        if state.exists:
            b_ts, b_heap, p_logid, p_ts = state.get
            pend = list(zip(list(p_logid or []), list(p_ts or [])))
        else:
            b_ts, b_heap, pend = None, None, []

        out: list[tuple] = []

        def emit(logid, t, g_ts, g_heap, dist, dirn):
            out.append((logid, server, t, g_ts, g_heap, dist, dirn))

        def emit_backward_or_null(logid, t):
            if b_ts is not None and (t - b_ts) <= tol:
                emit(logid, t, b_ts, b_heap, t - b_ts, "b")
            else:
                emit(logid, t, None, None, None, None)

        rows = pd.concat(list(pdfs)).sort_values(["ts", "kind", "logid"])
        for ts, kind, logid, g_heap in zip(
            rows["ts"].tolist(),
            rows["kind"].tolist(),
            rows["logid"].tolist(),
            rows["g_heap"].tolist(),
        ):
            ts, kind = int(ts), int(kind)
            if kind == 0:  # gauge: resolves EVERY pending exactly
                for pl, pt in pend:
                    d_f = ts - pt
                    d_b = None if b_ts is None else pt - b_ts
                    if d_b is not None and d_b <= d_f:
                        emit_backward_or_null(pl, pt)
                    elif d_f <= tol:
                        emit(pl, pt, ts, int(g_heap), d_f, "f")
                    else:
                        emit(pl, pt, None, None, None, None)
                pend = []
                b_ts, b_heap = ts, int(g_heap)
            else:  # tx or end marker: time has advanced to ts
                keep = []
                for pl, pt in pend:
                    df_min = ts - pt
                    d_b = None if b_ts is None else pt - b_ts
                    if d_b is not None and d_b <= df_min:
                        emit_backward_or_null(pl, pt)  # backward wins ties
                    elif df_min > tol:
                        emit(pl, pt, None, None, None, None)
                    else:
                        keep.append((pl, pt))
                pend = keep
                if kind == 1:
                    pend.append((logid, ts))
                else:  # end marker: no future gauges exist
                    for pl, pt in pend:
                        emit_backward_or_null(pl, pt)
                    pend = []

        state.update(
            (
                b_ts,
                b_heap,
                [pl for pl, _ in pend],
                [pt for _, pt in pend],
            )
        )
        yield pd.DataFrame(
            out,
            columns=[
                "logid",
                "server",
                "endts",
                "gauge_ts",
                "heapused",
                "dist_ms",
                "direction",
            ],
        )

    return rows_stream.groupBy("server").applyInPandasWithState(
        fn,
        outputStructType=NEAREST_OUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
