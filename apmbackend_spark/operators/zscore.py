"""Smoothed z-score anomaly detection (SURVEY.md A8-A9; reference
``stream_calc_z_score.js:66-104,195-311`` + ``util_methods.js:10-50``).

Per (server, service, lag, metric in {average, per75, per95}):
  * history = the trailing `lag` metric values (FIFO capped at lag);
    stats are emitted only once history length == lag
  * mu      = null-skipping mean of history (util_methods.js:10-24)
  * sd      = null-skipping POPULATION stddev, with the reference quirk that
    variance exactly 0 => undefined, so constant series never signal
    (util_methods.js:44-48)
  * lb/ub   = mu -/+ threshold*sd (only when both defined)
  * signal  = +/-1 if |x - mu| > threshold*sd (strict), else 0; 0 when
    history short, stats undefined, or x null (stream_calc_z_score.js:81-94)
  * influence damping: when a signal fires, the value appended to history is
    influence*x + (1-influence)*prev (stream_calc_z_score.js:96-97) — this
    makes the operator RECURSIVE (output feeds its own history) for
    influence < 1.

Two implementations:
  * `zscore_window` — influence=1 semantics (history always receives the raw
    value): a pure window-function plan, one shuffle on (server, service),
    whole-stage-codegen'd, oracle-checkable. This is the 100 TB path: state
    is a bounded rolling frame per key, partitioned by key hash.
  * `zscore_recursive` — exact reference semantics for any influence, as an
    ordered per-key `applyInPandas` (Arrow-batched; each key's series is
    bounded by time span, not data volume, so groups stay executor-sized).
    Its kernel, `_zscore_series_exact`, is also the streaming operator's
    (streaming/stateful.py::zscore_stateful): each micro-batch resumes the
    same exact scan from the histories stored in the state store.

Float determinism: in `zscore_window` (influence=1) metric values entering
the rolling stats are integer-valued (rounded ms), so window sums are exact
in IEEE double regardless of accumulation order, and mu/sd/bounds are
bit-identical between Spark and DuckDB; its variance uses the E[x^2]-mu^2
form on exact integer sums (deterministic), unlike builtin stddev_pop
(merge-order dependent). In `zscore_recursive` (influence<1) damped appends
are NON-integer, so no rolling-sums shortcut is exact — the scan replays
zscore_step's reference arithmetic per step (left-fold sums, deviation-form
variance) and the DuckDB twin (zscore_step_oracle_sql) replays the same
reference arithmetic via list_reduce, so the hash gate checks reference
semantics, not an implementation-private float-op sequence.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apmbackend_spark.session import task_slots

METRICS = ("average", "per75", "per95")
DEFAULT_LAGS = (360, 8640)  # reference config/apm_config.json:137,142


def _threshold_for(
    threshold,
    lag: int,
    service: str | None = None,
    overrides: dict | None = None,
) -> float:
    """Resolve the reference's settings cascade
    (stream_calc_z_score.js:106-127 getServiceSettingsFromConfig):
    per-lag default (scalar threshold applies to every lag; a {lag: value}
    dict mirrors the per-LAG defaults list), then the per-service per-lag
    override when configured (config/apm_config.json:152-172)."""
    base = threshold[lag] if isinstance(threshold, dict) else float(threshold)
    if overrides and service is not None:
        ov = overrides.get(service, {}).get(lag, {})
        base = float(ov.get("threshold", base))
    return float(base)


def _influence_for(
    influence: float,
    lag: int,
    service: str | None = None,
    overrides: dict | None = None,
) -> float:
    base = influence[lag] if isinstance(influence, dict) else float(influence)
    if overrides and service is not None:
        ov = overrides.get(service, {}).get(lag, {})
        base = float(ov.get("influence", base))
    return float(base)


def st_from_window_stats(winstats: DataFrame) -> DataFrame:
    """Project window_stats output into the st record shape
    (reference entries.js:52-84), with integer-valued metric doubles."""
    return winstats.select(
        F.col("win_start").alias("timestamp"),
        "server",
        "service",
        "tpm",
        F.round(F.col("avg_ms"), 0).alias("average"),
        F.round(F.col("p75"), 0).alias("per75"),
        F.round(F.col("p95"), 0).alias("per95"),
    )


ST_ORACLE_CTE = """
, st AS (
    SELECT win_start AS timestamp, server, service, tpm,
           round(avg_ms, 0) AS average,
           round(p75, 0) AS per75,
           round(p95, 0) AS per95
    FROM winstats
)"""


def _lag0(col: Column, offset: int, over: Window) -> Column:
    """lag(col, offset) with out-of-bounds/empty-prefix as 0 — correct for
    cumulative counts and null-skipping cumulative sums (an absent prefix
    contributes zero)."""
    return F.coalesce(F.lag(col, offset).over(over), F.lit(0).cast("long"))


def zscore_window(
    st: DataFrame,
    lags: Iterable[int] = DEFAULT_LAGS,
    threshold: float | dict = 3.0,
    metrics: Iterable[str] = METRICS,
    overrides: dict | None = None,
) -> DataFrame:
    """Window-function z-score (influence=1 semantics), one fs row per lag
    per st row — the lag fan-out mirrors reference stream_calc_z_score.js:473.

    Plan shape (the 100 TB path): Spark's sliding-frame aggregation
    (`rowsBetween(-lag, -1)`) re-aggregates the whole frame per output row —
    O(rows x lag) per window function — and a per-lag `unionAll` recomputes
    the entire upstream per branch. Instead, every trailing-frame statistic
    is derived from CUMULATIVE sums plus `lag()` offsets, both O(1) per row:

        sum over rows[-L..-1] at row i  =  cum(i-1) - cum(i-L-1)
                                        =  lag(cum, 1) - lag(cum, L+1)

    All cumulative/offset functions share one partitioning and sort, so the
    whole operator is ONE shuffle + ONE sort regardless of how many lags are
    requested; the lag fan-out is an `explode` of per-lag structs, not a
    union (st is scanned once).

    Float determinism: metric values are integer-valued doubles (rounded
    ms), so they are accumulated as LONGs — cumulative sums and their
    differences are exact integers, making this formulation bit-identical
    to the naive sliding-frame oracle (DuckDB) at any accumulation order.
    Sum-of-squares fits a long up to ~9e18 (values < 1e5 ms squared = 1e10
    per row => ~9e8 rows per key before overflow; a key is a (server,
    service) minute-series, orders of magnitude below that even at 100 TB).

    Key-cardinality note: parallelism is bounded by |server x service| keys
    (a few dozen on the fixture, thousands in a real fleet), and one key's
    FULL history sorts in one task. Both bounds break at unbounded history
    length, not data width — the mitigations, in preference order: (1) the
    streaming stateful path (streaming/stateful.py) carries only O(lag)
    state per key forever; (2) time-chunk the batch: process window
    [t0, t1) with the trailing `lag` rows before t0 prepended as carry-in,
    then discard carry rows from the output — exact, embarrassingly
    parallel across chunks. The cumulative formulation here is what makes
    (2) cheap: a chunk needs only lag extra rows, not a full rescan.
    """
    return _zscore_window_over(
        st,
        partition_cols=("server", "service"),
        lags=tuple(int(x) for x in lags),
        threshold=threshold,
        metrics=tuple(metrics),
        overrides=overrides,
        extra_cols=(),
    )


def _zscore_window_over(
    st: DataFrame,
    partition_cols: tuple[str, ...],
    lags: tuple[int, ...],
    threshold: float | dict,
    metrics: tuple[str, ...],
    overrides: dict | None,
    extra_cols: tuple[str, ...],
) -> DataFrame:
    """The cumulative-sum z-score plan over an arbitrary partitioning key
    (shared by the global and time-chunked forms); `extra_cols` pass
    through to the output unchanged."""
    # Pinned-count repartition on the window keys: st rows are bytes-tiny
    # but the chained window functions (and whatever rides after them —
    # wire codecs, alert scans) are compute-heavy, so AQE's byte-based
    # coalescing would collapse the ENSURE_REQUIREMENTS exchange to ONE
    # partition and serialize the whole tail of the plan (the grouped-map
    # AQE lesson, JVM edition). REPARTITION_BY_NUM is exempt from
    # coalescing and hashpartitioning(partition_cols, n) satisfies the
    # window's required distribution, so no second exchange appears.
    n_parts = max(st.sparkSession.sparkContext.defaultParallelism, 32)
    st = st.repartition(n_parts, *partition_cols)
    wcum = (
        Window.partitionBy(*partition_cols)
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    word = Window.partitionBy(*partition_cols).orderBy("timestamp")

    # Pass 1: O(1)-per-row cumulative statistics, lag-independent.
    cum_cols = [F.row_number().over(word).alias("__rn")]
    for m in metrics:
        # Integer contract: metrics must be whole-valued (st_from_window_stats
        # rounds them). round() before the cast so an unrounded caller gets
        # nearest-integer semantics instead of a silent truncation toward 0.
        xl = F.round(F.col(m)).cast("long")
        cum_cols += [
            F.count(F.col(m)).over(wcum).alias(f"__cn_{m}"),
            F.sum(xl).over(wcum).alias(f"__cs_{m}"),
            F.sum(xl * xl).over(wcum).alias(f"__cq_{m}"),
        ]
    base_cols = ["timestamp", "server", "service", "tpm"]
    base_cols += [c for c in partition_cols if c not in base_cols]
    base_cols += list(extra_cols)
    cum = st.select(*base_cols, *metrics, *cum_cols)

    # Pass 2 (same sort, chained window — no extra shuffle): per-lag frame
    # stats as offset differences. Window (lag) expressions must live in a
    # plain projection — a Generate (explode) cannot host them — so mu/sd
    # are materialized as flat columns first.
    stat_cols = []
    for lag in lags:
        full = F.col("__rn") > F.lit(lag)  # trailing history holds >= lag rows
        for m in metrics:
            n = _lag0(F.col(f"__cn_{m}"), 1, word) - _lag0(
                F.col(f"__cn_{m}"), lag + 1, word
            )
            s1 = _lag0(F.col(f"__cs_{m}"), 1, word) - _lag0(
                F.col(f"__cs_{m}"), lag + 1, word
            )
            s2 = _lag0(F.col(f"__cq_{m}"), 1, word) - _lag0(
                F.col(f"__cq_{m}"), lag + 1, word
            )
            mu_raw = s1.cast("double") / n
            var = s2.cast("double") / n - mu_raw * mu_raw
            stat_cols += [
                F.when(full & (n > 0), mu_raw).alias(f"__mu_{m}_{lag}"),
                F.when(full & (n > 0) & (var > 0), F.sqrt(var)).alias(
                    f"__sd_{m}_{lag}"
                ),
            ]
    stats = cum.select(*base_cols, *metrics, *stat_cols)

    # Pass 3: pure column arithmetic — per-lag structs, one explode. The
    # per-service threshold cascade compiles to a literal when-chain on the
    # service column (a handful of configured overrides — constant-folded,
    # JVM-side, no join needed).
    lag_structs = []
    for lag in lags:
        t = F.lit(_threshold_for(threshold, lag))
        if overrides:
            for svc in sorted(overrides):
                if "threshold" in overrides[svc].get(lag, {}):
                    t = F.when(
                        F.col("service") == svc,
                        F.lit(_threshold_for(threshold, lag, svc, overrides)),
                    ).otherwise(t)
        fields = [F.lit(int(lag)).alias("lag")]
        for m in metrics:
            x = F.col(m)
            mu = F.col(f"__mu_{m}_{lag}")
            sd = F.col(f"__sd_{m}_{lag}")
            lb = F.when(mu.isNotNull() & sd.isNotNull(), mu - t * sd)
            ub = F.when(mu.isNotNull() & sd.isNotNull(), mu + t * sd)
            signal = (
                F.when(mu.isNull() | sd.isNull() | x.isNull(), F.lit(0))
                .when(
                    F.abs(x - mu) > t * sd,
                    F.when(x > mu, F.lit(1)).otherwise(F.lit(-1)),
                )
                .otherwise(F.lit(0))
            )
            fields += [
                x.alias(m),
                mu.alias(f"{m}avg"),
                lb.alias(f"{m}lb"),
                ub.alias(f"{m}ub"),
                signal.cast("int").alias(f"{m}signal"),
            ]
        lag_structs.append(F.struct(*fields))

    out_fields = ["lag"]
    for m in metrics:
        out_fields += [m, f"{m}avg", f"{m}lb", f"{m}ub", f"{m}signal"]
    exploded = stats.select(
        *base_cols,
        F.explode(F.array(*lag_structs)).alias("__z"),
    )
    return exploded.select(
        *base_cols,
        *[F.col(f"__z.{f}").alias(f) for f in out_fields],
    )


def zscore_window_chunked(
    st: DataFrame,
    lags: Iterable[int] = DEFAULT_LAGS,
    threshold: float | dict = 3.0,
    metrics: Iterable[str] = METRICS,
    overrides: dict | None = None,
    chunk_intervals: int = 8_640,
    slide_ms: int = 10_000,
) -> DataFrame:
    """`zscore_window` with TIME-CHUNKED key histories — the documented
    mitigation for the key-parallelism cap (a (server, service) key's FULL
    multi-year history sorting in one task).

    Each chunk of ``chunk_intervals`` slide-grid intervals is processed
    independently, with the trailing ``max(lags)`` intervals of the previous
    chunk prepended as carry-in (their output rows are dropped after the
    window pass). The window partitioning becomes (server, service, chunk),
    so parallelism is keys x chunks and per-task state is bounded by
    chunk + carry length — O(1) in total history.

    Exactness contract: the trailing-`lag` ROW frame equals the trailing
    `lag*slide_ms` TIME range only when the per-key series is DENSE on the
    slide grid. The reference guarantees exactly that — it emits one st per
    interval for every known key, silent ones zero-filled
    (stream_calc_stats.js:159-202; engine twin `zerofill.st_zerofill`) — so
    feed this operator the zero-filled st stream. Parity with the global
    `zscore_window` on dense input is asserted in tests/test_zscore.py.
    """
    lags = tuple(int(x) for x in lags)
    if max(lags) > int(chunk_intervals):
        # carry reaches exactly one chunk back; a longer lag would read a
        # silently truncated history
        raise ValueError(
            f"max lag ({max(lags)}) must be <= chunk_intervals "
            f"({chunk_intervals}) so the carry covers the frame"
        )
    span = int(chunk_intervals) * int(slide_ms)
    carry_ms = max(lags) * int(slide_ms)
    # single scan: a row in the trailing carry zone of its chunk is exploded
    # into (own chunk, next chunk); everything else stays one row — no
    # unionAll, so the (expensive) upstream st plan is evaluated ONCE.
    # Known, intentional waste: the LAST chunk's carry rows spawn a phantom
    # chunk N+1 whose output is entirely dropped by the ~__carry filter —
    # max(lags) rows per key per run. Suppressing it would need the global
    # max timestamp, i.e. a second evaluation of the upstream st plan for a
    # 1-row aggregate, which costs far more than the phantom rows' window
    # pass at any scale.
    own = F.expr(f"timestamp DIV {span}")
    in_carry = F.col("timestamp") >= (own + F.lit(1)) * F.lit(span) - F.lit(
        carry_ms
    )
    chunks = F.when(in_carry, F.array(own, own + F.lit(1))).otherwise(
        F.array(own)
    )
    both = st.select(
        "*", F.explode(chunks).alias("__chunk")
    ).withColumn("__carry", F.col("__chunk") != own)
    # EXPLICIT repartition on the full (key, chunk) tuple: a Window's
    # ClusteredDistribution(server, service, __chunk) is also satisfied by
    # any upstream hashpartitioning on the SUBSET (server, service) — e.g.
    # the zerofill key-dim groupBy — in which case EnsureRequirements
    # inserts no exchange and one task would again sort a key's FULL
    # history, silently defeating the whole point of chunking. Forcing the
    # exchange here guarantees parallelism = keys x chunks.
    both = both.repartition("server", "service", "__chunk")

    # same cumulative plan as zscore_window, with __chunk joined into the
    # partitioning key
    out = _zscore_window_over(
        both,
        partition_cols=("server", "service", "__chunk"),
        lags=lags,
        threshold=threshold,
        metrics=tuple(metrics),
        overrides=overrides,
        extra_cols=("__carry",),
    )
    return out.where(~F.col("__carry")).drop("__carry", "__chunk")


def _zscore_metric_sql(metric: str, lag: int, threshold) -> str:
    m = metric
    w = f"(PARTITION BY server, service ORDER BY timestamp ROWS BETWEEN {lag} PRECEDING AND 1 PRECEDING)"
    histlen = f"COUNT(*) OVER {w}"
    n = f"COUNT({m}) OVER {w}"
    mu_raw = f"(SUM({m}) OVER {w} / {n})"
    ex2 = f"(SUM({m} * {m}) OVER {w} / {n})"
    var = f"({ex2} - {mu_raw} * {mu_raw})"
    mu = f"(CASE WHEN {histlen} >= {lag} AND {n} > 0 THEN {mu_raw} END)"
    sd = f"(CASE WHEN {histlen} >= {lag} AND {n} > 0 AND {var} > 0 THEN sqrt({var}) END)"
    t = threshold if isinstance(threshold, str) else repr(float(threshold))
    return f"""
        {m},
        {mu} AS {m}avg,
        (CASE WHEN {mu} IS NOT NULL AND {sd} IS NOT NULL THEN {mu} - {t} * {sd} END) AS {m}lb,
        (CASE WHEN {mu} IS NOT NULL AND {sd} IS NOT NULL THEN {mu} + {t} * {sd} END) AS {m}ub,
        CAST(CASE
            WHEN {mu} IS NULL OR {sd} IS NULL OR {m} IS NULL THEN 0
            WHEN abs({m} - {mu}) > {t} * {sd} THEN (CASE WHEN {m} > {mu} THEN 1 ELSE -1 END)
            ELSE 0 END AS INT) AS {m}signal"""


def zscore_oracle_select(
    lags: Iterable[int] = DEFAULT_LAGS,
    threshold: float | dict = 3.0,
    metrics: Iterable[str] = METRICS,
    overrides: dict | None = None,
) -> str:
    """DuckDB twin of zscore_window over the `st` CTE (naive sliding-frame
    form; the engine's cumulative formulation is exact-integer so the two
    are bit-identical). The override cascade renders as a CASE chain on
    service, mirroring the when-chain in zscore_window."""
    selects = []
    for lag in lags:
        t_sql = repr(_threshold_for(threshold, lag))
        if overrides:
            cases = "".join(
                f"WHEN service = '{svc}' THEN {_threshold_for(threshold, lag, svc, overrides)!r} "
                for svc in sorted(overrides)
                if "threshold" in overrides[svc].get(lag, {})
            )
            if cases:
                t_sql = f"(CASE {cases}ELSE {t_sql} END)"
        metric_sql = ",".join(_zscore_metric_sql(m, lag, t_sql) for m in metrics)
        selects.append(
            f"SELECT timestamp, server, service, tpm, {lag} AS lag, {metric_sql} FROM st"
        )
    return "\nUNION ALL\n".join(selects)


def zscore_step_oracle_sql(
    lags: Iterable[int] = (60,),
    threshold: float | dict = 3.0,
    influence: float | dict = 0.1,
    metrics: Iterable[str] = METRICS,
) -> str:
    """DuckDB twin of the `zscore_step` arithmetic (the reference that
    `_zscore_series_exact`, behind `zscore_recursive` and `zscore_stateful`,
    replays bit for bit), appended to an `st` CTE. The assembled query must
    start WITH RECURSIVE.

    `zscore_step` RECOMPUTES the window stats each step — Python `sum()`
    left-to-right over the FIFO window's non-null values, variance as the
    mean of squared deviations, and the `var != 0` quirk — so this oracle
    carries each (key, lag) slot's history LIST through a position-
    iterating recursive CTE and folds the sums with `list_reduce` (a
    left-to-right fold, the same op sequence as Python `sum`)."""
    lags = tuple(int(x) for x in lags)
    metrics = tuple(metrics)

    cfg_rows = []
    for lag in lags:
        t_eff = _threshold_for(threshold, lag)
        i_eff = _influence_for(influence, lag)
        cfg_rows.append(
            f"(CAST({lag} AS INTEGER), CAST('{t_eff!r}' AS DOUBLE), "
            f"CAST('{i_eff!r}' AS DOUBLE), CAST('{1.0 - i_eff!r}' AS DOUBLE))"
        )
    cfg_values = ", ".join(cfg_rows)

    anchor_cols, l1_cols, l2_cols, l3_cols, l4_cols, upd_cols = [], [], [], [], [], []
    out_cols = []
    for m in metrics:
        anchor_cols.append(
            f"CAST([] AS DOUBLE[]) AS h_{m}, "
            f"CAST(NULL AS DOUBLE) AS o_avg_{m}, CAST(NULL AS DOUBLE) AS o_lb_{m}, "
            f"CAST(NULL AS DOUBLE) AS o_ub_{m}, 0 AS o_sg_{m}"
        )
        # L1: raw value, filtered window, last-appended (prev)
        l1_cols += [
            f"raw_{m}[i + 1] AS x_{m}",
            f"list_filter(h_{m}, v -> v IS NOT NULL) AS vals_{m}",
            f"(CASE WHEN len(h_{m}) > 0 THEN h_{m}[len(h_{m})] END) AS prev_{m}",
        ]
        # L2: mean over non-null window values (left-to-right fold / n)
        l2_cols.append(
            f"(CASE WHEN len(h_{m}) >= lag AND len(vals_{m}) > 0 "
            f"THEN list_reduce(vals_{m}, (acc, v) -> acc + v) / len(vals_{m}) END) "
            f"AS avg_{m}"
        )
        # L3: mean squared deviation + var != 0 quirk
        l3_cols.append(
            f"(CASE WHEN avg_{m} IS NOT NULL THEN (CASE WHEN "
            f"list_reduce(list_transform(vals_{m}, v -> (v - avg_{m}) * (v - avg_{m})), "
            f"(acc, v) -> acc + v) / len(vals_{m}) != 0 THEN "
            f"sqrt(list_reduce(list_transform(vals_{m}, v -> (v - avg_{m}) * (v - avg_{m})), "
            f"(acc, v) -> acc + v) / len(vals_{m})) END) END) AS sd_{m}"
        )
        # L4: bounds, signal, appended value
        l4_cols += [
            f"(CASE WHEN avg_{m} IS NOT NULL AND sd_{m} IS NOT NULL "
            f"THEN avg_{m} - th * sd_{m} END) AS lb_{m}",
            f"(CASE WHEN avg_{m} IS NOT NULL AND sd_{m} IS NOT NULL "
            f"THEN avg_{m} + th * sd_{m} END) AS ub_{m}",
            f"(CASE WHEN avg_{m} IS NOT NULL AND sd_{m} IS NOT NULL "
            f"AND x_{m} IS NOT NULL AND abs(x_{m} - avg_{m}) > th * sd_{m} "
            f"THEN (CASE WHEN x_{m} > avg_{m} THEN 1 ELSE -1 END) ELSE 0 END) AS sig_{m}",
        ]
        appended = (
            f"(CASE WHEN sig_{m} <> 0 AND prev_{m} IS NOT NULL "
            f"THEN infl * x_{m} + infl1 * prev_{m} ELSE x_{m} END)"
        )
        upd_cols.append(
            f"""
           (CASE WHEN len(h_{m}) + 1 > lag
                 THEN list_append(h_{m}, {appended})[2:]
                 ELSE list_append(h_{m}, {appended}) END) AS h_{m},
           avg_{m} AS o_avg_{m},
           lb_{m} AS o_lb_{m},
           ub_{m} AS o_ub_{m},
           sig_{m} AS o_sg_{m}"""
        )
        out_cols.append(
            f"f.raw_{m}[t.i] AS {m}, t.o_avg_{m} AS {m}avg, "
            f"t.o_lb_{m} AS {m}lb, t.o_ub_{m} AS {m}ub, "
            f"CAST(t.o_sg_{m} AS INTEGER) AS {m}signal"
        )

    raw_lists = ", ".join(
        f"list({m} ORDER BY timestamp) AS raw_{m}" for m in metrics
    )
    raw_refs = ", ".join(f"f.raw_{m}" for m in metrics)
    carry_refs = ", ".join(f"t.h_{m}" for m in metrics)

    return f"""
, zs_flagged AS MATERIALIZED (
    SELECT server, service,
           list(timestamp ORDER BY timestamp) AS tss,
           list(tpm ORDER BY timestamp) AS tpms,
           {raw_lists}
    FROM st GROUP BY server, service
), zs_trace AS (
    SELECT server, service, lg.lag, lg.th, lg.infl, lg.infl1, 0 AS i,
           {', '.join(anchor_cols)}
    FROM zs_flagged
    CROSS JOIN (VALUES {cfg_values}) AS lg(lag, th, infl, infl1)
    UNION ALL
    SELECT server, service, lag, th, infl, infl1, i + 1 AS i,{','.join(upd_cols)}
    FROM (
      SELECT *, {', '.join(l4_cols)}
      FROM (
        SELECT *, {', '.join(l3_cols)}
        FROM (
          SELECT *, {', '.join(l2_cols)}
          FROM (
            SELECT *, {', '.join(l1_cols)}
            FROM (
              SELECT t.server, t.service, t.lag, t.th, t.infl, t.infl1, t.i,
                     {carry_refs}, {raw_refs}
              FROM zs_trace t JOIN zs_flagged f USING (server, service)
              WHERE t.i < len(f.tss)
            )
          )
        )
      )
    )
)
SELECT f.tss[t.i] AS timestamp, t.server, t.service, f.tpms[t.i] AS tpm,
       t.lag AS lag,
       {', '.join(out_cols)}
FROM zs_trace t JOIN zs_flagged f USING (server, service)
WHERE t.i >= 1
"""


# ---------------------------------------------------------------------------
# Exact reference semantics (any influence) — recursive per-key scan.
# ---------------------------------------------------------------------------


def zscore_step(lag, threshold, influence, new_value, history):
    """One reference z-score step (stream_calc_z_score.js:66-104). `history`
    is the trailing list (may contain None). Returns
    (appended_value, avg, lb, ub, signal)."""
    import math

    infl_value = new_value
    avg = sd = lb = ub = None
    signal = 0
    if len(history) >= lag:
        vals = [v for v in history if v is not None and not (isinstance(v, float) and math.isnan(v))]
        if vals:
            avg = sum(vals) / len(vals)
            # (v-avg)*(v-avg), NOT **2: CPython pow(x, 2) is not always the
            # correctly-rounded square on this libm, while the single
            # multiplication is — and the DuckDB oracle squares by
            # multiplication, so pow here would hash-mismatch ~0.1% of rows
            sq = [(v - avg) * (v - avg) for v in vals]
            var = sum(sq) / len(sq)
            sd = math.sqrt(var) if var != 0 else None  # variance-0 quirk
        if avg is not None and sd is not None:
            lb = avg - threshold * sd
            ub = avg + threshold * sd
        if avg is None or sd is None:
            signal = 0
        elif new_value is None:
            signal = 0
        elif abs(new_value - avg) > threshold * sd:
            signal = 1 if new_value > avg else -1
            prev = history[-1] if history else None
            if prev is not None:
                infl_value = influence * new_value + (1 - influence) * prev
        else:
            signal = 0
    return infl_value, avg, lb, ub, signal


def _zscore_series_exact(xs, lag, threshold, influence, block=1024):
    """Exact scan of one metric series: bit-for-bit the reference's
    per-step arithmetic (``zscore_step``: left-to-right ``sum()`` over the
    window's non-null values, variance as the mean of squared deviations,
    the variance-0 => undefined-sd quirk, influence damping into the FIFO
    history).

    A rolling-sums O(1) form was tried and REVERTED: incremental
    add/subtract leaves ~1e-10 residue once a damped (non-integer) append
    cycles through the sums, which defeats the variance-0 quirk
    (util_methods.js:44-48 — constant series must NEVER signal) and
    fabricates spurious signals/bounds.

    Exactness is instead vectorized: blocks of steps are evaluated as 2D
    sliding windows over the history, with row-wise ``np.cumsum`` (a
    strictly sequential accumulation, so its last column is bitwise Python
    ``sum()``'s left-fold; NaN slots are zero-padded, and adding +0.0 is
    an exact IEEE no-op for the non-negative partial sums here). The
    recursion bites only at a DAMPED append (a fired signal with a defined
    previous value whose damped value differs from the raw one): rows
    computed after it assumed the raw value, so the block is cut there,
    the damped value is written into the history, and the block loop
    simply restarts at the next step — the 2D windows re-read the
    finalized history, damped values included, so no scalar fallback is
    needed. Block size adapts (doubling on damp-free blocks, reset on
    damping) so signal-dense stretches waste at most a small block per
    signal. The property/bitwise tests in test_zscore.py guard the
    equivalence, including across block boundaries.

    Returns (avg, lb, ub, signal, h), where ``h`` is the appended-value
    history. Resuming a scan = prepending the last ``<= lag`` values of a
    previous ``h`` to the new values: the scan starts at index ``lag``, so
    the prepended values are read only as window context and as ``prev``
    for damping (their null-ness equals the raw values', keeping ``nncum``
    valid)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    n = len(xs)
    if isinstance(xs, np.ndarray):
        x_arr = xs  # NaN = null; read-only here (h below is a copy)
    else:
        x_arr = np.array(
            [np.nan if v is None else float(v) for v in xs], dtype=np.float64
        )
    h = x_arr.copy()  # appended-value history; diverges only at damped idx
    avg_o = np.full(n, np.nan)
    lb_o = np.full(n, np.nan)
    ub_o = np.full(n, np.nan)
    sig_o = np.zeros(n, dtype=np.int32)
    if n <= lag:
        return avg_o, lb_o, ub_o, sig_o, h

    # exact O(1)-per-step non-null window counts from one prefix sum:
    # damping never changes null-ness (a signal requires x non-null), so
    # the raw series' counts stay valid for h throughout
    nncum = np.concatenate(([0], np.cumsum(~np.isnan(x_arr), dtype=np.int64)))

    # preallocated per-block work buffers: the 2D cumsums are the hot loop,
    # and fresh allocations per block dominate otherwise
    bufA = np.empty((min(block, n - lag), lag))
    bufB = np.empty((min(block, n - lag), lag))

    blk = min(16, block)
    i = lag
    while i < n:
        e = min(i + blk, n)
        b = e - i
        # windows for steps [i, e): window of step s is h[s-lag:s]
        seg = h[i - lag : e - 1]
        W = sliding_window_view(seg, lag)
        nn = nncum[i:e] - nncum[i - lag : e - lag]
        has = nn > 0
        A, B = bufA[:b], bufB[:b]
        with np.errstate(invalid="ignore", divide="ignore"):
            if np.isnan(seg).any():
                nanmask = np.isnan(W)
                Z = np.where(nanmask, 0.0, W)
                np.cumsum(Z, axis=1, out=A)
                S = A[:, -1].copy()
                avg = S / nn
                D = np.where(nanmask, 0.0, W - avg[:, None])
                np.multiply(D, D, out=B)
            else:
                # fully non-null stretch: zero-padding is a no-op, skip
                # the 2D masks/copies entirely
                np.cumsum(W, axis=1, out=A)
                S = A[:, -1].copy()
                avg = S / nn
                np.subtract(W, avg[:, None], out=B)
                np.multiply(B, B, out=B)
            np.cumsum(B, axis=1, out=A)
            msq = A[:, -1] / nn
            sd = np.sqrt(msq)
            quirk = has & (msq != 0)  # variance-0 quirk: 0 => sd undefined
            xs_b = x_arr[i:e]
            lb = avg - threshold * sd
            ub = avg + threshold * sd
            hot = quirk & ~np.isnan(xs_b) & (np.abs(xs_b - avg) > threshold * sd)
        sig = np.where(hot, np.where(xs_b > avg, 1, -1), 0).astype(np.int32)

        # first DAMPING append bounds how far the block's rows are valid:
        # later rows assumed the raw value at that position. A signal damps
        # only when prev is non-null and the damped value differs bitwise
        # from the raw one (equal-value appends leave the history as-is).
        cut = e
        damped_val = None
        for s_off in np.nonzero(sig)[0]:
            s = i + int(s_off)
            prev = h[s - 1]
            if prev != prev:
                continue
            x = x_arr[s]
            a = influence * x + (1 - influence) * prev
            if a != x:
                cut = s
                damped_val = a
                break
        good = slice(i, cut + 1 if damped_val is not None else cut)
        g = slice(0, good.stop - i)
        avg_o[good] = np.where(has[g], avg[g], np.nan)
        lb_o[good] = np.where(quirk[g], lb[g], np.nan)
        ub_o[good] = np.where(quirk[g], ub[g], np.nan)
        sig_o[good] = sig[g]
        if damped_val is None:
            i = e
            blk = min(blk * 2, block)
        else:
            h[cut] = damped_val
            i = cut + 1
            blk = min(16, block)
    return avg_o, lb_o, ub_o, sig_o, h


def zscore_recursive_py(
    rows: pd.DataFrame,
    lags: Iterable[int],
    threshold: float | dict,
    influence: float | dict,
    metrics: Iterable[str] = METRICS,
    overrides: dict | None = None,
    *,
    hists: list[list] | None = None,
) -> pd.DataFrame:
    """Driver-side-free sequential scan of ONE key's st series (sorted by
    timestamp), exact reference semantics (see _zscore_series_exact — a
    rolling-sums variant drifted and was reverted). Used inside
    applyInPandas (batch) and applyInPandasWithState (stream).

    `hists` resumes the scan: one FIFO list per (lag, metric) slot, in
    ``for lag in lags: for m in metrics`` order, holding the last <= lag
    appended values (None = null). Each slot's history is prepended to the
    new values, only the new rows are emitted, and the list is replaced in
    place by the scan's last `lag` appended values. None starts every slot
    empty."""
    import numpy as np

    metrics = tuple(metrics)
    rows = rows.sort_values("timestamp", ignore_index=True)
    n = len(rows)
    base = rows[["timestamp", "server", "service", "tpm"]]
    # NaN-as-null float arrays feed the scan directly (it is numpy-native;
    # a per-value None-list conversion here costs millions of pd.isna
    # calls per key at scale)
    metric_np = {m: rows[m].to_numpy(dtype="float64") for m in metrics}

    # One applyInPandas group == one (server, service) key, so the settings
    # cascade resolves once per group (stream_calc_z_score.js:134-150
    # updateServiceSettings applies per-service settings to every lag slot).
    service = rows["service"].iloc[0] if n else None

    frames = []
    for li, lag in enumerate(lags):
        t_eff = _threshold_for(threshold, lag, service, overrides)
        i_eff = _influence_for(influence, lag, service, overrides)
        # one-shot dict-of-arrays construction in final column order:
        # per-column inserts into a copied frame consolidate blocks per
        # insert and were measurably slower
        data = {
            "timestamp": base["timestamp"],
            "server": base["server"],
            "service": base["service"],
            "tpm": base["tpm"],
            "lag": np.full(n, lag, dtype=np.int32),
        }
        for mi, m in enumerate(metrics):
            xs = metric_np[m]
            hist = None if hists is None else hists[li * len(metrics) + mi]
            k = len(hist) if hist else 0
            if k:
                xs = np.concatenate((np.array(hist, dtype=np.float64), xs))
            avg_o, lb_o, ub_o, sig_o, h = _zscore_series_exact(
                xs, lag, t_eff, i_eff
            )
            if hist is not None:
                hist[:] = [None if v != v else v for v in h[-lag:].tolist()]
            data[m] = metric_np[m]
            data[f"{m}avg"] = avg_o[k:]
            data[f"{m}lb"] = lb_o[k:]
            data[f"{m}ub"] = ub_o[k:]
            data[f"{m}signal"] = sig_o[k:]
        frames.append(pd.DataFrame(data))
    return pd.concat(frames, ignore_index=True)


def fs_schema(metrics: Iterable[str] = METRICS) -> str:
    """DDL of the fs rows the z-score operators emit: the st columns, the
    lag, then (value, avg, lb, ub, signal) per metric."""
    parts = ["timestamp long", "server string", "service string", "tpm double", "lag int"]
    for m in metrics:
        parts += [f"{m} double", f"{m}avg double", f"{m}lb double", f"{m}ub double", f"{m}signal int"]
    return ", ".join(parts)


def zscore_recursive(
    st: DataFrame,
    lags: Iterable[int] = DEFAULT_LAGS,
    threshold: float | dict = 3.0,
    influence: float | dict = 0.1,
    metrics: Iterable[str] = METRICS,
    overrides: dict | None = None,
) -> DataFrame:
    """Exact reference z-score for any influence, as ordered per-key
    applyInPandas. Partitioned by (server, service): each group holds one
    key's full series — bounded by the time span, independent of total data
    volume. Arithmetic is a bit-for-bit replay of zscore_step (reference
    stream_calc_z_score.js:66-104), so the DuckDB twin is
    zscore_step_oracle_sql — the oracle replays REFERENCE arithmetic, not
    an implementation-private float-op sequence."""
    lags = tuple(int(x) for x in lags)
    metrics = tuple(metrics)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return zscore_recursive_py(
            pdf, lags, threshold, influence, metrics, overrides
        )

    # Grouped by (server, service) ONLY — a lag fan-out before the shuffle
    # was tried and is a net loss: it multiplies the Arrow transfer volume
    # by len(lags) while the per-group Python scan total stays the same.
    return (
        st.repartition(task_slots(st.sparkSession), "server", "service")
        .groupBy("server", "service")
        .applyInPandas(fn, schema=fs_schema(metrics))
    )
