"""Round-5 feature/serving operators: seasonal baseline scoring, Theil–Sen
trends, histogram-sketch quantiles, decayed counters, incremental rollup
maintenance.

Same contract as test_pipeline_ops.py: semantics against an independent
pure-Python reference or an in-Spark differential (NOT the DuckDB oracle —
scripts/check_oracle.py grades that), plus a physical-plan assertion per
scale claim. One exception checks an oracle itself: the sketch-quantile
oracles against the same pure-Python rule, at several DuckDB thread counts."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _ts(day: int, hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, minute, 0)


def _events(spark, rows):
    # (event_id, ts, user_id, event_type, value)
    return spark.createDataFrame(
        [r + ("{}",) for r in rows],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )


# ---------------------------------------------------------------------------
# seasonal_baseline


def test_seasonal_baseline_matches_hand_computation(spark):
    from apmbackend_spark.operators.seasonal import seasonal_baseline

    rows = []
    eid = 0
    # baseline: hour 9 of days 1..4 for type 'a' -> values 10, 12, 10, 12
    for day, v in ((1, 10.0), (2, 12.0), (3, 10.0), (4, 12.0)):
        rows.append((eid := eid + 1, _ts(day, 9), 1, "a", v))
    # scoring: day 25 hour 9, two obs mean 20 -> z = (2000-1100)/100 = 9
    rows.append((eid := eid + 1, _ts(25, 9), 1, "a", 20.0))
    rows.append((eid := eid + 1, _ts(25, 9, 30), 1, "a", 20.0))
    # scoring hour with NO baseline -> z NULL, not anomalous
    rows.append((eid := eid + 1, _ts(25, 10), 1, "a", 99.0))
    out = {
        (r["event_type"], r["day"], r["hour"]): r.asDict()
        for r in seasonal_baseline(_events(spark, rows)).collect()
    }
    hit = out[("a", 25, 9)]
    # baseline cents: mean 1100, sd = 100 (pop stddev of 1000/1200 x2)
    assert hit["base_n"] == 4
    assert hit["base_mean"] == 1100.0
    assert hit["base_sd"] == 100.0
    assert hit["mean_cents"] == 2000.0
    assert hit["z"] == 9.0
    assert hit["anomalous"] is True
    miss = out[("a", 25, 10)]
    assert miss["z"] is None and miss["anomalous"] is False


def test_seasonal_baseline_zero_variance_never_signals(spark):
    from apmbackend_spark.operators.seasonal import seasonal_baseline

    rows = [
        (1, _ts(1, 9), 1, "a", 10.0),
        (2, _ts(2, 9), 1, "a", 10.0),
        (3, _ts(25, 9), 1, "a", 10000.0),  # wild deviation
    ]
    [r] = seasonal_baseline(_events(spark, rows)).collect()
    # constant baseline -> sd 0 -> the reference variance-0 quirk: never signal
    assert r["base_sd"] == 0.0
    assert r["z"] is None
    assert r["anomalous"] is False


def test_seasonal_baseline_broadcasts_baseline_no_python(spark):
    from apmbackend_spark.operators.seasonal import seasonal_baseline
    from apmbackend_spark.sources.loaders import load_table

    df = seasonal_baseline(load_table(spark, SF_SMOKE, "events"))
    p = plan(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p
    assert "Python" not in p and "BatchEvalPython" not in p


# ---------------------------------------------------------------------------
# trend_slopes


def test_trend_slopes_matches_python_reference_and_resists_outlier(spark):
    from apmbackend_spark.functions.percentile import midpoint_percentile_py
    from apmbackend_spark.operators.seasonal import trend_slopes

    # hourly counts: 1,2,3,...,12 events in hours 0..11 of day 1 (slope 1
    # per hour), plus one wild 80-event outlier hour at hour 13.
    rows = []
    eid = 0
    counts = {h: h + 1 for h in range(12)}
    counts[13] = 80
    for h, c in counts.items():
        for i in range(c):
            rows.append((eid := eid + 1, _ts(1, h, i % 60), 1, "a", 1.0))
    out = {r["event_type"]: r.asDict() for r in trend_slopes(_events(spark, rows)).collect()}
    got = out["a"]

    # independent reference: all pair slopes, midpoint-rule median
    hs = sorted(counts)
    slopes = sorted(
        (counts[h2] - counts[h1]) / (h2 - h1)
        for i, h1 in enumerate(hs)
        for h2 in hs[i + 1 :]
    )
    want_slope = midpoint_percentile_py(slopes, 50.0)
    assert got["n_pairs"] == len(slopes)
    assert got["n_points"] == len(hs)
    assert got["slope_per_hour"] == want_slope
    # robustness: the outlier hour cannot drag the slope far from 1
    assert 0.8 <= got["slope_per_hour"] <= 1.5
    # intercept: median residual at the anchor origin
    anchor_h = [
        int((_ts(1, h) - dt.datetime(2024, 1, 1)).total_seconds() // 3600)
        for h in hs
    ]
    resid = sorted(
        counts[h] - want_slope * ah for h, ah in zip(hs, anchor_h)
    )
    assert got["intercept"] == midpoint_percentile_py(resid, 50.0)


def test_trend_slopes_pairs_on_grid_no_cartesian_no_python(spark):
    from apmbackend_spark.operators.seasonal import trend_slopes
    from apmbackend_spark.sources.loaders import load_table

    df = trend_slopes(load_table(spark, SF_SMOKE, "events"))
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "Python" not in p and "BatchEvalPython" not in p
    # the pair join consumes the checkpointed GRID, not the raw table:
    # no parquet scan may appear upstream of the join
    assert p.count("Scan parquet") == 0, p


# ---------------------------------------------------------------------------
# hist_quantiles


def test_hist_quantiles_lands_in_the_exact_quantiles_bin(spark):
    from apmbackend_spark.operators.profile import HIST_QS, hist_quantiles
    from apmbackend_spark.sources.loaders import load_table

    events = load_table(spark, SF_SMOKE, "events")
    got = {r["event_type"]: r.asDict() for r in hist_quantiles(events).collect()}
    vals = (
        events.where(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in vals:
        by_type.setdefault(r["event_type"], []).append(
            max(1, math.floor(r["value"] * 100.0 + 0.5))
        )
    for et, cents in by_type.items():
        cents.sort()
        assert got[et]["n"] == len(cents)
        for q in HIST_QS:
            # the exact rank-q value's power-of-two bin [lo, 2lo] must
            # contain the sketch estimate: that IS the sketch's error bound
            exact = cents[math.ceil(q / 100.0 * len(cents)) - 1]
            lo = 1 << (exact.bit_length() - 1)
            est_cents = got[et][f"q{int(q)}"] * 100.0
            assert lo <= est_cents <= 2 * lo, (et, q, exact, est_cents)


def test_subbin_quantiles_error_bounded_by_sub_octave_bin(spark):
    from apmbackend_spark.operators.profile import HIST_QS, subbin_quantiles
    from apmbackend_spark.sources.loaders import load_table

    events = load_table(spark, SF_SMOKE, "events")
    got = {
        r["event_type"]: r.asDict() for r in subbin_quantiles(events).collect()
    }
    vals = (
        events.where(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in vals:
        by_type.setdefault(r["event_type"], []).append(
            max(1, math.floor(r["value"] * 100.0 + 0.5))
        )
    for et, cents in by_type.items():
        cents.sort()
        assert got[et]["n"] == len(cents)
        for q in HIST_QS:
            # the estimate must land inside the exact rank-q value's
            # SUB-OCTAVE bin [lo, lo + width] — width = 2^(bitlen-7)-ish,
            # i.e. 1/64 of the octave (vs hist_quantiles' full [lo, 2lo])
            exact = cents[math.ceil(q / 100.0 * len(cents)) - 1]
            shift = max(exact.bit_length() - 7, 0)
            lo = (exact >> shift) << shift
            width = 1 << shift
            est_cents = got[et][f"q{int(q)}"] * 100.0
            # top-inclusive (an estimate at full-bin cum lands exactly on
            # lo + width); 1e-6 absorbs the /100*100 float round-trip
            assert lo - 1e-6 <= est_cents <= lo + width + 1e-6, (
                et, q, exact, est_cents,
            )
            # the bin really is a 1/64 slice of the value's octave
            assert width * 128 > exact, (et, q, exact, width)


def test_hist_quantiles_interpolates_exactly_on_tiny_case(spark):
    from apmbackend_spark.operators.profile import hist_quantiles

    # cents: 100 (bin 6, lo=64), 300 x3 (bin 8, lo=256)  n=4
    rows = [
        (1, _ts(1, 0), 1, "a", 1.0),
        (2, _ts(1, 1), 1, "a", 3.0),
        (3, _ts(1, 2), 1, "a", 3.0),
        (4, _ts(1, 3), 1, "a", 3.0),
    ]
    [r] = hist_quantiles(_events(spark, rows)).collect()
    # q50: target ceil(.5*4)=2 -> bin 8 after cum 1: est=256+256*(2-1)/3
    assert r["q50"] == (256 + 256 * (2 - 1) / 3) / 100.0
    # q99: target 4 -> est = 256 + 256*(4-1)/3 = 512 (bin top)
    assert r["q99"] == 5.12


def _sketch_quantiles_py(sf_dir: str, binner) -> dict:
    """The documented sketch rule (`_hist_est` / `_subbin_est` docstrings)
    in pure Python: cents = max(1, floor(value*100 + 0.5)); `binner(cents)`
    gives the bin's (lo, width); per event_type, the first bin in lo order
    whose running count reaches ceil(q*n) gives
    (lo + width * (target - cum_before) / cnt) / 100."""
    import pyarrow.parquet as pq

    from apmbackend_spark.operators.profile import HIST_QS

    cols = ("event_type", "value")
    t = pq.read_table(f"{sf_dir}/events.parquet", columns=list(cols))
    bins: dict[str, dict[tuple[int, int], int]] = {}
    for et, v in zip(*(t.column(c).to_pylist() for c in cols)):
        if v is not None:
            b = binner(max(1, math.floor(v * 100.0 + 0.5)))
            per = bins.setdefault(et, {})
            per[b] = per.get(b, 0) + 1
    out = {}
    for et, per in bins.items():
        n = sum(per.values())
        row = [n]
        for q in HIST_QS:
            target = math.ceil(q / 100.0 * float(n))
            cum = 0
            for (lo, width), cnt in sorted(per.items()):
                if cum + cnt >= target:
                    frac = float(target - cum) / float(cnt)
                    row.append((float(lo) + float(width) * frac) / 100.0)
                    break
                cum += cnt
        out[et] = tuple(row)
    return out


def _octave_bin(c: int) -> tuple[int, int]:
    lo = 1 << (c.bit_length() - 1)
    return lo, lo


def _sub_octave_bin(c: int) -> tuple[int, int]:
    shift = max(c.bit_length() - 7, 0)
    return (c >> shift) << shift, 1 << shift


@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, SF_CORRECT], ids=["sf0.001", "sf0.01"]
)
def test_sketch_quantile_oracles_match_python_rule_at_any_thread_count(sf_dir):
    """Both sketch oracles equal the documented rule exactly whatever
    DuckDB's thread count (DuckDB only, no Spark). A list_reduce fold over
    per-row lists returned another row's estimate on DuckDB 1.0 at some
    thread counts (hist `view` q99 = `purchase`'s at sf0.001, 1 or 4
    threads)."""
    from apmbackend_spark.operators.profile import (
        hist_quantiles_oracle_sql,
        subbin_quantiles_oracle_sql,
    )
    from apmbackend_spark.testing import duckdb_connect

    cases = [
        ("hist", hist_quantiles_oracle_sql(), _octave_bin),
        ("subbin", subbin_quantiles_oracle_sql(), _sub_octave_bin),
    ]
    con = duckdb_connect(sf_dir)
    for threads in (1, 2, 4, 8):
        con.sql(f"SET threads={threads}")
        for name, sql, binner in cases:
            got = {r[0]: tuple(r[1:]) for r in con.sql(sql).fetchall()}
            assert got == _sketch_quantiles_py(sf_dir, binner), (name, threads)


def test_hist_quantiles_single_scan_single_wide_agg_no_python(spark):
    from apmbackend_spark.operators.profile import hist_quantiles
    from apmbackend_spark.sources.loaders import load_table

    df = hist_quantiles(load_table(spark, SF_SMOKE, "events"))
    p = plan(df)
    # one scan detail block == one parquet scan in the plan
    assert p.count("InMemoryFileIndex") == 1, p
    assert "Python" not in p and "BatchEvalPython" not in p
    assert "Exchange" in p  # exactly the two grouped aggs
    assert "CartesianProduct" not in p and "Join" not in p


# ---------------------------------------------------------------------------
# decayed_counts


def test_decayed_counts_matches_python_reference(spark):
    from apmbackend_spark.operators.sessions import (
        DECAY_ASOF_US,
        DECAY_SCALE,
        decayed_counts,
    )

    asof = dt.datetime(2024, 1, 31)
    rows = [
        (1, asof - dt.timedelta(hours=1), 7, "a", 1.0),     # age 0
        (2, asof - dt.timedelta(days=1), 7, "a", 1.0),      # age 1
        (3, asof - dt.timedelta(days=2, hours=3), 7, "a", 1.0),  # age 2
        (4, asof - dt.timedelta(days=10), 7, "b", 1.0),     # age 10
        (5, asof + dt.timedelta(hours=1), 7, "a", 1.0),     # future: dropped
    ]
    out = {
        (r["user_id"], r["event_type"]): r.asDict()
        for r in decayed_counts(_events(spark, rows)).collect()
    }
    a = out[(7, "a")]
    assert a["n_events"] == 3
    assert a["decayed"] == 1.0 + 0.5 + 0.25
    assert a["last_seen_ms"] == int(
        (asof - dt.timedelta(hours=1)).replace(tzinfo=dt.timezone.utc).timestamp() * 1000
    )
    b = out[(7, "b")]
    assert b["decayed"] == 2.0**-10
    assert DECAY_ASOF_US == int(asof.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert DECAY_SCALE >= 30  # fixture ages (<=30d) never hit the cap


def test_decayed_counts_age_cap_floors_not_throws(spark):
    from apmbackend_spark.operators.sessions import DECAY_SCALE, decayed_counts

    rows = [(1, dt.datetime(2014, 1, 1), 1, "a", 1.0)]  # ~10 years old
    [r] = decayed_counts(_events(spark, rows)).collect()
    assert r["decayed"] == 2.0**-DECAY_SCALE


def test_decayed_counts_one_combinable_agg_no_python(spark):
    from apmbackend_spark.operators.sessions import decayed_counts
    from apmbackend_spark.sources.loaders import load_table

    df = decayed_counts(load_table(spark, SF_SMOKE, "events"))
    p = plan(df)
    assert p.count("InMemoryFileIndex") == 1
    assert "Python" not in p
    # partial + final hash aggregate around ONE exchange
    assert p.count("HashAggregate (") == 2, p
    # the as-of cutoff reaches the scan as a pushed filter
    assert "PushedFilters: [IsNotNull(ts), LessThanOrEqual(ts," in p, p


# ---------------------------------------------------------------------------
# rollup_incremental


def test_rollup_incremental_equals_direct_recompute(spark):
    """The in-Spark differential: base + changelog delta must equal the
    direct aggregate over the new snapshot, row for row."""
    from apmbackend_spark.operators.cdc import (
        _new_snapshot,
        _order_cents,
        rollup_incremental,
    )
    from apmbackend_spark.sources.loaders import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    inc = {
        r["o_custkey"]: (r["n_orders"], r["total_cents"])
        for r in rollup_incremental(orders).collect()
    }
    direct = {
        r["o_custkey"]: (r["n_orders"], r["total_cents"])
        for r in _new_snapshot(orders)
        .select("o_custkey", _order_cents("o_totalprice").alias("c"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("c").alias("total_cents"),
        )
        .collect()
    }
    assert inc == direct
    assert len(inc) > 0


def test_rollup_incremental_handles_vanished_customer(spark):
    """A customer whose only order is deleted must vanish from the rollup
    (n drops to 0 -> filtered), not linger as a zero row."""
    from apmbackend_spark.operators.cdc import NEW_DROP_MOD, OLD_DROP_MOD, rollup_incremental

    # orderkey 11 survives the old snapshot (11 % 13 != 0) but is dropped
    # from the new one (11 % 11 == 0); custkey 999 has no other orders.
    rows = [
        (11, 999, "O", 10.0, dt.datetime(1995, 1, 1), "1-URGENT"),
        (24, 500, "O", 20.0, dt.datetime(1995, 1, 2), "1-URGENT"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = {r["o_custkey"]: r.asDict() for r in rollup_incremental(orders).collect()}
    assert 999 not in out
    assert out[500]["n_orders"] == 1 and out[500]["total_cents"] == 2000


def test_rollup_incremental_no_cartesian_no_python(spark):
    from apmbackend_spark.operators.cdc import rollup_incremental
    from apmbackend_spark.sources.loaders import load_table

    p = plan(rollup_incremental(load_table(spark, SF_SMOKE, "orders")))
    assert "CartesianProduct" not in p
    assert "Python" not in p
    assert "FullOuter (" in p  # the changelog derivation join


# ---------------------------------------------------------------------------
# retention_cohorts


def test_retention_cohorts_matches_hand_computation(spark):
    from apmbackend_spark.operators.sessions import retention_cohorts

    rows = [
        # cohort day 1: users 1, 2
        (1, _ts(1, 9), 1, "view", 1.0),
        (2, _ts(1, 10), 2, "view", 1.0),
        # user 1 returns day 2 and 3 (twice -> still one active row)
        (3, _ts(2, 9), 1, "click", 1.0),
        (4, _ts(3, 9), 1, "click", 1.0),
        (5, _ts(3, 10), 1, "view", 1.0),
        # cohort day 2: user 3, returns day 3
        (6, _ts(2, 12), 3, "view", 1.0),
        (7, _ts(3, 12), 3, "view", 1.0),
    ]
    got = {
        (str(r["cohort_day"]), r["offset"]): (r["n_active"], r["cohort_size"], r["retention"])
        for r in retention_cohorts(_events(spark, rows)).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-01", 2)] == (1, 2, 0.5)
    assert got[("2024-01-02", 0)] == (1, 1, 1.0)
    assert got[("2024-01-02", 1)] == (1, 1, 1.0)
    assert len(got) == 5


def test_retention_cohorts_offset_zero_equals_cohort_size(spark):
    from apmbackend_spark.operators.sessions import retention_cohorts
    from apmbackend_spark.sources.loaders import load_table

    out = retention_cohorts(load_table(spark, SF_SMOKE, "events"))
    day0 = out.where(F.col("offset") == 0).collect()
    assert len(day0) > 0
    for r in day0:
        assert r["n_active"] == r["cohort_size"]
        assert r["retention"] == 1.0


# ---------------------------------------------------------------------------
# session_attribution


def test_session_attribution_last_touch_semantics(spark):
    from apmbackend_spark.operators.sessions import session_attribution

    rows = [
        (1, _ts(1, 9, 0), 1, "purchase", 1.0),   # no preceding touch
        (2, _ts(1, 10, 0), 1, "view", 1.0),
        (3, _ts(1, 10, 30), 1, "error", 1.0),    # not a touch type
        (4, _ts(1, 11, 0), 1, "purchase", 1.0),  # -> view @10:00 (id 2)
        (5, _ts(1, 12, 0), 1, "click", 1.0),
        (6, _ts(1, 12, 0), 1, "purchase", 1.0),  # tie: click id 5 < 6 precedes
    ]
    got = {r["conversion_id"]: r.asDict() for r in session_attribution(_events(spark, rows)).collect()}
    assert got[1]["touch_id"] is None and got[1]["touch_type"] is None
    assert got[4]["touch_id"] == 2 and got[4]["touch_type"] == "view"
    assert got[4]["gap_ms"] == 3600_000
    # same-timestamp touch sorts BEFORE the conversion by event_id
    assert got[6]["touch_id"] == 5 and got[6]["gap_ms"] == 0


def test_session_attribution_one_window_no_join_no_python(spark):
    from apmbackend_spark.operators.sessions import session_attribution
    from apmbackend_spark.sources.loaders import load_table

    p = plan(session_attribution(load_table(spark, SF_SMOKE, "events")))
    assert "Join" not in p, p
    assert "Python" not in p
    assert p.count("Window (") == 1, p
    assert p.count("InMemoryFileIndex") == 1


# ---------------------------------------------------------------------------
# schema_merge_ingest


def test_schema_merge_ingest_roundtrips_both_generations(spark):
    from apmbackend_spark.sources.evolution import SPLIT_DATE, schema_merge_ingest
    from apmbackend_spark.sources.loaders import load_table

    out = schema_merge_ingest(spark, SF_SMOKE)
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    want = {}
    split = dt.datetime.fromisoformat(SPLIT_DATE)
    for r in orders:
        pre = r["o_orderdate"].replace(tzinfo=None) < split
        want[r["o_orderkey"]] = (
            1 if pre else 2,
            r["o_custkey"],
            r["o_totalprice"],
            None if pre else r["o_orderpriority"],
            pre,
        )
    got = {
        r["o_orderkey"]: (
            r["gen"], r["o_custkey"], r["o_totalprice"],
            r["o_orderpriority"], r["pre_evolution"],
        )
        for r in out.collect()
    }
    assert got == want  # nothing lost, nothing invented, NULLs exact


# ---------------------------------------------------------------------------
# stream_decayed


def test_stream_decayed_equals_batch_operator(spark):
    """Cross-batch state-store merge must be bit-identical to the one-shot
    batch aggregate (the dyadic-integer claim, checked in-Spark)."""
    from apmbackend_spark.operators.sessions import decayed_counts
    from apmbackend_spark.sources.loaders import load_table
    from apmbackend_spark.streaming.topology import stream_decayed_gate

    streamed = {
        (r["user_id"], r["event_type"]): (
            r["n_events"], r["last_seen_ms"], r["decayed"]
        )
        for r in stream_decayed_gate(spark, SF_SMOKE).collect()
    }
    batch = {
        (r["user_id"], r["event_type"]): (
            r["n_events"], r["last_seen_ms"], r["decayed"]
        )
        for r in decayed_counts(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


# ---------------------------------------------------------------------------
# dq_rules


def test_dq_rules_matches_python_replay(spark):
    from apmbackend_spark.operators.profile import (
        _DQ_BIG_MOD,
        _DQ_NEG_MOD,
        _DQ_TYPE_MOD,
        _DQ_USER_MOD,
        _KNOWN_TYPES,
        DQ_VALUE_MAX,
        dq_rules,
    )
    from apmbackend_spark.sources.loaders import load_table

    events = load_table(spark, SF_SMOKE, "events")
    rows = events.select("event_id", "ts", "user_id", "event_type", "value").collect()
    total = len(rows)
    # pure-python replay of dirt + rules
    window_lo = dt.datetime(2024, 1, 1)
    window_hi = dt.datetime(2024, 2, 1)
    viol: dict[str, list[int]] = {k: [] for k in (
        "value_non_negative", "value_in_range", "user_id_present",
        "event_type_in_domain", "ts_in_load_window")}
    for r in rows:
        eid = r["event_id"]
        user = None if eid % _DQ_USER_MOD == 0 else r["user_id"]
        etype = "__bogus__" if eid % _DQ_TYPE_MOD == 0 else r["event_type"]
        if eid % _DQ_NEG_MOD == 0:
            val = -r["value"]
        elif eid % _DQ_BIG_MOD == 0:
            val = r["value"] + 10_000.0
        else:
            val = r["value"]
        ts = r["ts"].replace(tzinfo=None)
        if val is not None and val < 0:
            viol["value_non_negative"].append(eid)
        if val is not None and val > DQ_VALUE_MAX:
            viol["value_in_range"].append(eid)
        if user is None:
            viol["user_id_present"].append(eid)
        if etype not in _KNOWN_TYPES:
            viol["event_type_in_domain"].append(eid)
        if ts < window_lo or ts >= window_hi:
            viol["ts_in_load_window"].append(eid)

    got = {r["rule"]: r.asDict() for r in dq_rules(events).collect()}
    assert set(got) == set(viol)
    for rule, ids in viol.items():
        g = got[rule]
        assert g["n_violations"] == len(ids), rule
        assert g["first_bad_id"] == (min(ids) if ids else None), rule
        assert g["last_bad_id"] == (max(ids) if ids else None), rule
        assert g["violation_rate"] == len(ids) / total
    # the dirt must actually exercise the failure paths
    assert sum(len(v) for v in viol.values()) > 0


def test_dq_rules_single_pass_no_python(spark):
    from apmbackend_spark.operators.profile import dq_rules
    from apmbackend_spark.sources.loaders import load_table

    p = plan(dq_rules(load_table(spark, SF_SMOKE, "events")))
    assert p.count("InMemoryFileIndex") == 1
    assert "Python" not in p
    assert "Join" not in p  # suite evaluated in one aggregate, no legs


# ---------------------------------------------------------------------------
# pivot_matrix


def test_pivot_matrix_matches_python_replay(spark):
    from apmbackend_spark.operators.profile import _KNOWN_TYPES, pivot_matrix
    from apmbackend_spark.sources.loaders import load_table

    events = load_table(spark, SF_SMOKE, "events")
    rows = events.select("ts", "event_type").collect()
    want: dict = {}
    for r in rows:
        day = r["ts"].date()
        want.setdefault(day, {t: 0 for t in _KNOWN_TYPES})
        if r["event_type"] in _KNOWN_TYPES:
            want[day][r["event_type"]] += 1
    got = {r["day"]: r.asDict() for r in pivot_matrix(events).collect()}
    assert set(got) == set(want)
    for day, counts in want.items():
        g = got[day]
        for t in _KNOWN_TYPES:
            assert g[t] == counts[t], (day, t)
        assert g["total"] == sum(counts.values())


def test_pivot_matrix_single_pass_pinned_values(spark):
    from apmbackend_spark.operators.profile import pivot_matrix
    from apmbackend_spark.sources.loaders import load_table

    p = plan(pivot_matrix(load_table(spark, SF_SMOKE, "events")))
    # pinned pivot values -> NO distinct-values pre-query (one scan);
    # Spark's pivot is two aggregate pairs, where only the FIRST exchange
    # sees raw rows — the second carries the bounded (day, type) grid
    assert p.count("InMemoryFileIndex") == 1
    assert p.count("HashAggregate (") == 4, p
    assert p.count("Exchange (") == 2, p
    assert "Python" not in p


# ---------------------------------------------------------------------------
# fk_integrity


def test_fk_integrity_matches_python_replay(spark):
    from apmbackend_spark.operators.profile import (
        _FK_CUST_DROP_MOD,
        _FK_ORD_DROP_MOD,
        fk_integrity,
    )
    from apmbackend_spark.sources.loaders import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    got = {r["rel"]: r.asDict() for r in fk_integrity(orders, customer, lineitem).collect()}

    custs = {r["c_custkey"] for r in customer.collect()
             if r["c_custkey"] % _FK_CUST_DROP_MOD != 0}
    o_rows = [r["o_custkey"] for r in orders.select("o_custkey").collect()]
    o_orph = sorted(k for k in o_rows if k not in custs)
    ords = {r["o_orderkey"] for r in orders.collect()
            if r["o_orderkey"] % _FK_ORD_DROP_MOD != 0}
    l_rows = [r["l_orderkey"] for r in lineitem.select("l_orderkey").collect()]
    l_orph = sorted(k for k in l_rows if k not in ords)

    g1 = got["orders.o_custkey -> customer.c_custkey"]
    assert g1["n_child"] == len(o_rows)
    assert g1["n_orphans"] == len(o_orph)
    assert g1["first_orphan_key"] == (o_orph[0] if o_orph else None)
    assert g1["last_orphan_key"] == (o_orph[-1] if o_orph else None)
    assert g1["coverage"] == 1.0 - len(o_orph) / len(o_rows)
    g2 = got["lineitem.l_orderkey -> orders.o_orderkey"]
    assert g2["n_orphans"] == len(l_orph)
    assert g2["n_child"] == len(l_rows)
    # the thinning must actually create orphans on both legs
    assert g1["n_orphans"] > 0 and g2["n_orphans"] > 0


def test_fk_integrity_anti_joins_pruned_no_python(spark):
    from apmbackend_spark.operators.profile import fk_integrity
    from apmbackend_spark.sources.loaders import load_table

    p = plan(
        fk_integrity(
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "customer"),
            load_table(spark, SF_SMOKE, "lineitem"),
        )
    )
    assert p.count("LeftAnti") >= 2, p
    assert "Python" not in p
    # child scans prune to the FK column only
    assert "ReadSchema: struct<l_orderkey:bigint>" in p, p


# ---------------------------------------------------------------------------
# interval_union


def test_interval_union_merges_chains_and_touching_intervals(spark):
    from apmbackend_spark.operators.correlation import (
        IU_MS_PER_CENT,
        interval_union,
    )

    # value 60 -> cents 6000 -> length 6000*IU_MS_PER_CENT ms
    length_ms = 6000 * IU_MS_PER_CENT
    base = _ts(1, 0)

    def at(ms_offset, eid, etype="a", value=60.0):
        return (
            eid,
            base + dt.timedelta(milliseconds=ms_offset),
            1,
            etype,
            value,
        )

    rows = [
        # chain: A overlaps B, B overlaps C (A does NOT overlap C) -> one island
        at(0, 1),
        at(length_ms - 1000, 2),
        at(2 * (length_ms - 1000), 3),
        # touching: starts exactly at previous end -> merges (closed bound)
        at(3 * length_ms, 4),
        at(4 * length_ms, 5),
        # isolated
        at(10 * length_ms, 6),
        # below the value floor: never becomes an interval
        at(20 * length_ms, 7, value=10.0),
        # second key: ignored by key 'a' islands
        at(500, 8, etype="b"),
    ]
    out = {(r["event_type"], r["island"]): r.asDict()
           for r in interval_union(_events(spark, rows)).collect()}
    a = sorted(k for k in out if k[0] == "a")
    assert len(a) == 3
    chain = out[a[0]]
    assert chain["n_intervals"] == 3
    assert chain["covered_ms"] == 2 * (length_ms - 1000) + length_ms
    touch = out[a[1]]
    assert touch["n_intervals"] == 2
    assert touch["covered_ms"] == 2 * length_ms
    lone = out[a[2]]
    assert lone["n_intervals"] == 1 and lone["covered_ms"] == length_ms
    assert len([k for k in out if k[0] == "b"]) == 1


def test_interval_union_one_window_shuffle_no_join_no_python(spark):
    from apmbackend_spark.operators.correlation import interval_union
    from apmbackend_spark.sources.loaders import load_table

    p = plan(interval_union(load_table(spark, SF_SMOKE, "events")))
    assert "Join" not in p
    assert "Python" not in p
    assert p.count("Window (") <= 2  # flag pass + island cumsum, same order
    assert p.count("Exchange (") == 1, p  # ONE key shuffle feeds both


# ---------------------------------------------------------------------------
# feature_hashing


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_feature_hashing_matches_python_replay(spark):
    import hashlib

    from apmbackend_spark.operators.textstats import FH_DIM, feature_hashing

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [
        (1, "the cat sat on the mat", "en", "web", 22),
        (2, "THE the The", "en", "web", 11),      # case folds -> one token x3
        (3, "", "en", "web", 0),                  # no tokens -> no output row
        (4, "x1 y-2 x1", "en", "web", 9),         # punct split, repeats
    ]
    out = {r["doc_id"]: r.asDict() for r in feature_hashing(_docs(spark, rows)).collect()}
    assert 3 not in out

    import re

    for doc_id, text, *_ in rows:
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        if not toks:
            continue
        vec = [0] * FH_DIM
        for t in toks:
            sign = 1 if h64("s:" + t) % 2 == 0 else -1
            vec[h64(t) % FH_DIM] += sign
        g = out[doc_id]
        assert g["vec_str"] == ",".join(str(v) for v in vec), doc_id
        assert g["nnz"] == sum(1 for v in vec if v != 0)
        assert g["l1"] == sum(abs(v) for v in vec)


def test_feature_hashing_dimension_fixed_and_combinable_plan(spark):
    from apmbackend_spark.operators.textstats import FH_DIM, feature_hashing
    from apmbackend_spark.sources.loaders import load_table

    df = feature_hashing(load_table(spark, SF_SMOKE, "documents"))
    rows = df.collect()
    assert all(len(r["vec_str"].split(",")) == FH_DIM for r in rows)
    p = plan(df)
    assert "Python" not in p
    assert "Join" not in p  # no vocabulary broadcast, no dictionary pass
    assert p.count("InMemoryFileIndex") == 1


# ---------------------------------------------------------------------------
# series_similarity (hour-of-day profile distance vs the fleet mean)


def _tx_df_series(spark, rows):
    # (server, service, endts_ms) minimal tx shape for the profile op
    return spark.createDataFrame(
        [(s, sv, ts) for s, sv, ts in rows],
        schema="server string, service string, endts long",
    )


def _series_reference(rows):
    from collections import defaultdict

    hourly = defaultdict(int)
    for s, sv, ts in rows:
        hourly[(s, sv, (ts % 86400000) // 3600000)] += 1
    keys = sorted({(s, sv) for s, sv, _ in rows})
    tot = defaultdict(int)
    for (s, sv, h), c in hourly.items():
        tot[h] += c
    nk = len(keys)
    out = []
    for s, sv in keys:
        acc = 0.0
        for h in range(24):  # hour-order left fold — the gate contract
            d = float(hourly.get((s, sv, h), 0)) - float(tot.get(h, 0)) / float(nk)
            acc = acc + d * d
        n_ev = sum(c for (ks, kv, _), c in hourly.items() if (ks, kv) == (s, sv))
        out.append((s, sv, n_ev, math.sqrt(acc)))
    out.sort(key=lambda r: (-r[3], r[0], r[1]))
    return [(s, sv, n, d, i + 1) for i, (s, sv, n, d) in enumerate(out)]


def test_series_similarity_matches_python_reference(spark):
    from apmbackend_spark.operators.seasonal import series_similarity

    H = 3_600_000
    rows = (
        # srv0/a: flat traffic, hours 0-5
        [("srv0", "a", h * H + 7) for h in range(6) for _ in range(4)]
        # srv1/a: spiky — everything in hour 3
        + [("srv1", "a", 3 * H + 11) for _ in range(24)]
        # srv0/b: moderate, hours 2-4 (second day: hour buckets wrap)
        + [("srv0", "b", (26 + k) * H + 5) for k in range(3) for _ in range(5)]
    )
    got = [
        (r["server"], r["service"], r["n_events"], r["dist"], r["rank"])
        for r in series_similarity(_tx_df_series(spark, rows))
        .orderBy("rank")
        .collect()
    ]
    want = _series_reference(rows)
    assert [(g[0], g[1], g[2], g[4]) for g in got] == [
        (w[0], w[1], w[2], w[4]) for w in want
    ]
    for g, w in zip(got, want):
        assert g[3] == w[3], (g, w)  # bit-exact: same fold order, IEEE ops


def test_series_similarity_plan_broadcasts_probe(spark):
    from apmbackend_spark.operators.seasonal import series_similarity

    df = series_similarity(
        _tx_df_series(spark, [("srv0", "a", 100), ("srv1", "b", 4_000_000)])
    )
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p
    # fleet totals + key count ride broadcast single-row dims
    assert p.count("BroadcastExchange") >= 2


# ---------------------------------------------------------------------------
# product quantization


def _pq_reference(vecs, dims, m, mod, iters=0):
    """Literal trained PQ: quantize (round*1e4), slice, per-subspace Lloyd
    (argmin assign, floor-mean update, empty codewords dropped), argmin
    encode against the final codebook."""
    import math

    step = dims // m
    q = {
        vid: [round(x * 10_000) for x in v] for vid, v in vecs
    }

    def sub(v, s):
        return v[s * step:(s + 1) * step]

    def argmin(subv, cbs):
        best = None
        for cid in sorted(cbs):
            d = sum((a - b) ** 2 for a, b in zip(subv, cbs[cid]))
            if best is None or (d, cid) < best:
                best = (d, cid)
        return best  # (d, code_id)

    # per-subspace codebooks: seed then Lloyd
    books = []
    for s in range(m):
        cbs = {vid: sub(q[vid], s) for vid, _ in vecs if vid % mod == 0}
        for _ in range(iters):
            members = {}
            for vid, _ in vecs:
                _, cid = argmin(sub(q[vid], s), cbs)
                members.setdefault(cid, []).append(sub(q[vid], s))
            cbs = {
                cid: [
                    math.floor(sum(col) / len(vs))
                    for col in zip(*vs)
                ]
                for cid, vs in members.items()
            }
        books.append(cbs)

    enc = {}
    for vid, _ in vecs:
        codes, err = [], 0
        for s in range(m):
            d, cid = argmin(sub(q[vid], s), books[s])
            codes.append(cid)
            err += d
        enc[vid] = ("-".join(str(c) for c in codes), err)
    return enc


def test_pq_encode_matches_python_reference(spark):
    import random

    from apmbackend_spark.operators.similarity import pq_encode

    rng = random.Random(7)
    dims, m, mod = 8, 4, 3
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(12)]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    # float32 storage: re-read the values the engine actually sees
    stored = {
        r["vec_id"]: list(r["embedding"]) for r in df.select("vec_id", "embedding").collect()
    }
    for iters in (0, 2):  # seeded codebook AND the trained path
        want = _pq_reference(sorted(stored.items()), dims, m, mod, iters)
        got = {
            r["vec_id"]: (r["codes"], r["sq_err"])
            for r in pq_encode(df, dims=dims, m=m, mod=mod, iters=iters).collect()
        }
        assert got == want, f"iters={iters}"


def test_pq_search_candidates_never_carry_vectors(spark):
    # the ADC join's candidate side is (cand_id, sub, code_id) — assert no
    # exchange ships an embedding/subvector column
    import re

    from apmbackend_spark.operators.similarity import pq_search
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    df = pq_search(embs)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p
    # the final (query, cand) aggregate exchange must be codes-only
    for mch in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        keys = mch.group(1)
        if "query_id" in keys and "cand_id" in keys:
            assert "embedding" not in keys and "subv" not in keys


def test_pq_rerank_equals_bruteforce_at_full_shortlist(spark):
    # mechanism equivalence: with shortlist >= corpus the ADC stage prunes
    # nothing, so the exact rerank must reproduce ann_bruteforce's top-k
    # bit-for-bit (same cosine arithmetic, same tie rule). At the default
    # 20/500 shortlist recall on the near-RANDOM fixture embeddings is
    # fixture-limited (quantized L2 vs cosine on unnormalized uniform
    # noise) — the equivalence property is the implementation check.
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        pq_rerank,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    exact = sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in ann_bruteforce(embs, k=5).collect()
    )
    full = sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in pq_rerank(embs, k=5, shortlist=10_000).collect()
    )
    assert full == exact
    # and at the serving shortlist, reranked sims are the EXACT cosine
    # (identical doubles) wherever bruteforce scored the same pair
    exact_sims = {(q, c): s for q, c, s, _ in exact}
    for r in pq_rerank(embs, k=5).collect():
        key = (r["query_id"], r["cand_id"])
        if key in exact_sims:
            assert r["sim"] == exact_sims[key]


def test_ivfpq_candidates_never_carry_vectors(spark):
    # the residual-ADC join's candidate side is (cand_id, list_id, sub,
    # code_id) — no exchange may ship an embedding/residual column
    import re

    from apmbackend_spark.operators.similarity import ivfpq_search
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    df = ivfpq_search(embs)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for mch in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        keys = mch.group(1)
        if "query_id" in keys and "cand_id" in keys:
            assert "embedding" not in keys and "subv" not in keys


def test_ivfpq_rerank_equals_ivf_at_full_budget(spark):
    # with shortlist >= corpus and nprobe >= n_lists the composed index
    # prunes nothing: the exact rerank must reproduce ann_ivf at full
    # probe (== bruteforce ordering over all candidates)
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ivfpq_rerank,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    exact = sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in ann_bruteforce(embs, k=5).collect()
    )
    full = sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in ivfpq_rerank(
            embs, k=5, nprobe=10_000, shortlist=10_000
        ).collect()
    )
    assert full == exact


def test_ann_budget_curve_monotone_and_consistent(spark):
    # recall@k can only grow with exact-scoring budget (a larger ADC
    # shortlist is a superset of candidates entering the exact rerank),
    # and each curve point must equal the directly-run rerank's recall
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ann_budget_curve,
        pq_rerank,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    rows = ann_budget_curve(embs).collect()
    assert len(rows) == 6
    by_method = {}
    for r in rows:
        assert r["shortlist"] == 5 * r["budget_x"]
        assert r["total"] == 50  # 10 queries x k=5 ground-truth pairs
        by_method.setdefault(r["method"], []).append(
            (r["budget_x"], r["hits"])
        )
    for method, pts in by_method.items():
        hits = [h for _, h in sorted(pts)]
        assert hits == sorted(hits), f"{method} recall not monotone: {hits}"
    # spot-check one point against the standalone operator
    bf = {
        (r["query_id"], r["cand_id"])
        for r in ann_bruteforce(embs, k=5).collect()
    }
    direct = sum(
        (r["query_id"], r["cand_id"]) in bf
        for r in pq_rerank(embs, k=5, shortlist=20).collect()
    )
    [pq4] = [
        r["hits"]
        for r in rows
        if r["method"] == "pq_rerank" and r["budget_x"] == 4
    ]
    assert pq4 == direct


def test_ivf_probe_curve_monotone_and_matches_ann_ivf(spark):
    # recall grows with nprobe (larger probe sets are supersets), and
    # each point equals a directly-run ann_ivf at that nprobe — proof the
    # single-pass probe-rank-cut formulation is exactly the per-nprobe
    # search
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ann_ivf,
        ivf_probe_curve,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    rows = {r["nprobe"]: r["hits"] for r in ivf_probe_curve(embs).collect()}
    assert list(rows) == [1, 5, 25]
    hits = [rows[m] for m in (1, 5, 25)]
    assert hits == sorted(hits)
    bf = {
        (r["query_id"], r["cand_id"])
        for r in ann_bruteforce(embs, k=5).collect()
    }
    for m in (1, 25):
        direct = sum(
            (r["query_id"], r["cand_id"]) in bf
            for r in ann_ivf(embs, k=5, nprobe=m).collect()
        )
        assert rows[m] == direct, m


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)


def _semdedup_reference(stored, mod, tau):
    """Literal replay of the SemDeDup rule: seed-centroid assignment
    (cosine argmax, list_id-asc ties), then prune d iff some same-cluster
    d' with cosine >= tau outranks it under (centroid_sim ASC, vec_id ASC)."""
    import math

    q = {vid: [round(x * 10_000) for x in v] for vid, v in stored.items()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    cents = {vid: v for vid, v in q.items() if vid % mod == 0}
    assign = {}
    for vid, v in q.items():
        best = max(
            ((cos(v, cv), -lid) for lid, cv in cents.items()),
            key=lambda t: (t[0], t[1]),
        )
        assign[vid] = (-best[1], best[0])  # (list_id, centroid_sim)

    out = {}
    for vid, (lid, csim) in assign.items():
        pruned = any(
            cos(q[vid], q[o]) >= tau
            and (osim, o) < (csim, vid)
            for o, (olid, osim) in assign.items()
            if o != vid and olid == lid
        )
        out[vid] = (lid, csim, pruned)
    return out


def test_semantic_dedup_matches_python_reference(spark):
    import random

    from apmbackend_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    vecs = []
    for i in range(18):
        if i % 3 == 0:
            v = [rng.uniform(-1, 1) for _ in range(8)]
        else:  # near-copy of the previous anchor: guaranteed dup edges
            v = [x + rng.uniform(-0.01, 0.01) for x in vecs[i - i % 3][1]]
        vecs.append((i, v))
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    stored = {
        r["vec_id"]: list(r["embedding"])
        for r in df.select("vec_id", "embedding").collect()
    }
    want = _semdedup_reference(stored, mod=5, tau=0.9)
    got = {
        r["vec_id"]: (r["list_id"], r["centroid_sim"], r["pruned"])
        for r in semantic_dedup(df, tau=0.9, n_lists_mod=5).collect()
    }
    assert set(got) == set(want)
    for vid in got:
        assert got[vid][0] == want[vid][0], vid
        assert got[vid][1] == want[vid][1], vid  # bit-exact cosine
        assert got[vid][2] == want[vid][2], vid
    # the rule must actually fire on the planted near-copies
    assert sum(1 for v in got.values() if v[2]) >= 6


def test_semantic_dedup_keep_policy_and_bounds(spark):
    # Per cluster the priority-minimal member is NEVER pruned (there is no
    # one to outrank it), and tau > 1 prunes nothing (cosine <= 1).
    from apmbackend_spark.operators.similarity import semantic_dedup
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    rows = semantic_dedup(embs).collect()
    by_list = {}
    for r in rows:
        by_list.setdefault(r["list_id"], []).append(r)
    for lid, members in by_list.items():
        head = min(members, key=lambda r: (r["centroid_sim"], r["vec_id"]))
        assert not head["pruned"], lid
    assert all(not r["pruned"] for r in semantic_dedup(embs, tau=1.01).collect())


def test_semantic_dedup_plan_semi_join_no_pair_materialization(spark):
    # pair rows reduce to a distinct id set before the flag join, and the
    # flag join carries NO broadcast hint (pruned can approach corpus
    # size on a duplicate-heavy corpus — AQE decides at runtime)
    from apmbackend_spark.operators.similarity import semantic_dedup
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    df = semantic_dedup(embs)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p  # the distinct pruned-id reduction


# ---------------------------------------------------------------------------
# MMR diversified rerank


def _mmr_reference(stored, n_queries, k, shortlist, lam):
    """Literal greedy MMR replay on the quantized vectors."""
    import math

    q = {vid: [round(x * 10_000) for x in v] for vid, v in stored.items()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    out = []
    for qid in sorted(v for v in q if v < n_queries):
        rel = {c: cos(q[qid], q[c]) for c in q if c != qid}
        cands = sorted(rel, key=lambda c: (-rel[c], c))[:shortlist]
        picked = []
        for step in range(1, k + 1):
            best = None
            for c in cands:
                if c in (p[0] for p in picked):
                    continue
                ms = max((cos(q[c], q[p]) for p, _ in picked), default=0.0)
                score = lam * rel[c] - (1.0 - lam) * ms
                if best is None or (-score, c) < (-best[1], best[0]):
                    best = (c, score)
            picked.append(best)
            out.append((qid, step, best[0], rel[best[0]], best[1]))
    return out


def test_mmr_rerank_matches_python_reference(spark):
    import random

    from apmbackend_spark.operators.similarity import mmr_rerank

    rng = random.Random(23)
    vecs = []
    for i in range(30):
        if i >= 10 and i % 2 == 0:  # plant near-copies among candidates
            v = [x + rng.uniform(-0.02, 0.02) for x in vecs[i - 1][1]]
        else:
            v = [rng.uniform(-1, 1) for _ in range(8)]
        vecs.append((i, v))
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    stored = {
        r["vec_id"]: list(r["embedding"])
        for r in df.select("vec_id", "embedding").collect()
    }
    want = _mmr_reference(stored, n_queries=3, k=4, shortlist=8, lam=0.7)
    got = [
        (r["query_id"], r["step"], r["cand_id"], r["rel"], r["mmr_score"])
        for r in mmr_rerank(df, n_queries=3, k=4, shortlist=8)
        .orderBy("query_id", "step")
        .collect()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == w[3] and g[4] == w[4], (g, w)  # bit-exact doubles


def test_mmr_step1_is_pure_relevance_and_no_repeats(spark):
    from apmbackend_spark.operators.similarity import ann_bruteforce, mmr_rerank
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    got = mmr_rerank(embs).collect()
    top1 = {
        r["query_id"]: r["cand_id"]
        for r in ann_bruteforce(embs, k=1).collect()
    }
    for r in got:
        if r["step"] == 1:
            assert r["cand_id"] == top1[r["query_id"]], r
    seen = {}
    for r in got:
        key = (r["query_id"], r["cand_id"])
        assert key not in seen, key  # greedy never re-picks
        seen[key] = True
    # lam=1 degenerates to pure top-k relevance order
    pure = mmr_rerank(embs, lam=1.0).collect()
    topk = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in ann_bruteforce(embs, k=5).collect()
    }
    for r in pure:
        assert topk[(r["query_id"], r["step"])] == r["cand_id"], r


def test_binary_rerank_equals_bruteforce_at_full_shortlist(spark):
    # with shortlist >= corpus the Hamming stage prunes nothing, so the
    # exact rerank must reproduce ann_bruteforce bit-for-bit
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        binary_rerank,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    want = {
        (r["query_id"], r["rank"]): (r["cand_id"], r["sim"])
        for r in ann_bruteforce(embs).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["cand_id"], r["sim"])
        for r in binary_rerank(embs, shortlist=10_000).collect()
    }
    assert got == want


def test_binary_rerank_signature_matches_python_and_recall_beats_floor(spark):
    import hashlib

    from apmbackend_spark.operators.similarity import (
        _bq_signature,
        _quantize,
        _srp_signs,
        ann_bruteforce,
        binary_rerank,
    )
    from apmbackend_spark.sources.loaders import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    planes = _srp_signs(n_bits=60)
    sigs = {
        r["vec_id"]: r["sig"]
        for r in embs.select(
            "vec_id",
            _bq_signature(_quantize(F.col("embedding")), planes).alias("sig"),
        )
        .where(F.col("vec_id") < 5)
        .collect()
    }
    stored = {
        r["vec_id"]: list(r["embedding"])
        for r in embs.where(F.col("vec_id") < 5).collect()
    }
    for vid, v in stored.items():
        q = [round(x * 10_000) for x in v]
        want = 0
        for j, row in enumerate(planes):
            d = sum(a * b for a, b in zip(q, row))
            if d >= 0:
                want |= 1 << j
        assert sigs[vid] == want, vid
    # at the default 40-candidate budget the Hamming prefilter must do
    # real work: recall@5 above the random-shortlist floor (~40/500)
    truth = {
        (r["query_id"], r["cand_id"])
        for r in ann_bruteforce(embs).collect()
    }
    got = {
        (r["query_id"], r["cand_id"])
        for r in binary_rerank(embs).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.3, recall


def test_binary_rerank_shortlist_ships_signatures_only(spark):
    import re

    from apmbackend_spark.operators.similarity import binary_rerank
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    df = binary_rerank(embs)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p
    # the Hamming ranking window partitions on query_id with no vector col
    for mch in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        keys = mch.group(1)
        if "query_id" in keys and "hamming" in keys:
            assert "embedding" not in keys and "qv" not in keys


def test_cluster_profile_consistent_with_assignment(spark):
    from apmbackend_spark.operators.similarity import cluster_profile, ivf_assign
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents")
    prof = {r["list_id"]: r for r in cluster_profile(embs, docs).collect()}
    sizes = {}
    for r in ivf_assign(embs).collect():
        sizes[r["list_id"]] = sizes.get(r["list_id"], 0) + 1
    assert {k: r["n_docs"] for k, r in prof.items()} == sizes
    for r in prof.values():
        assert 1 <= r["top_lang_n"] <= r["n_docs"]
        assert 1 <= r["top_label_n"] <= r["n_docs"]
        assert r["total_tokens"] > 0
    assert sum(r["n_docs"] for r in prof.values()) == embs.count()


def test_hard_negatives_label_disjoint_and_hardest(spark):
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        hard_negatives,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in embs.select("vec_id", "label").collect()}
    got = hard_negatives(embs).collect()
    for r in got:
        assert r["clabel"] == labels[r["cand_id"]]
        assert labels[r["query_id"]] != r["clabel"], r  # never same label
    # hardest: each anchor's rank-1 negative is at least as similar as any
    # different-label member of its bruteforce top-5
    bf = {}
    for r in ann_bruteforce(embs).collect():
        bf.setdefault(r["query_id"], []).append((r["cand_id"], r["sim"]))
    top1 = {r["query_id"]: r["sim"] for r in got if r["rank"] == 1}
    for qid, cands in bf.items():
        for cand_id, sim in cands:
            if labels[cand_id] != labels[qid]:
                assert top1[qid] >= sim, (qid, cand_id)


# ---------------------------------------------------------------------------
# Hierarchical (two-level) coarse assignment


def test_ivf_assign_2level_probe_all_equals_flat(spark):
    # with every L1 cell probed, the candidate set is every list, so the
    # two-level argmin must equal the flat assignment exactly
    from apmbackend_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_2level,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    flat = {
        r["vec_id"]: (r["list_id"], r["centroid_sim"])
        for r in ivf_assign(embs).collect()
    }
    # l1_factor=5 over the 10-list fixture gives 2 cells; probe both
    two = {
        r["vec_id"]: (r["list_id"], r["centroid_sim"])
        for r in ivf_assign_2level(embs, probe_l1=2).collect()
    }
    assert two == flat


def test_ivf_assign_2level_probe1_routing_is_sane(spark):
    # probe_l1=1 exercises the real routing loss: every vector still gets
    # exactly one list, the chosen sim never beats the flat optimum, and
    # agreement with flat stays high (boundary vectors only)
    from apmbackend_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_2level,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    flat = {
        r["vec_id"]: (r["list_id"], r["centroid_sim"])
        for r in ivf_assign(embs).collect()
    }
    two = {
        r["vec_id"]: (r["list_id"], r["centroid_sim"])
        for r in ivf_assign_2level(embs, probe_l1=1).collect()
    }
    assert set(two) == set(flat)  # total assignment
    agree = sum(1 for v in two if two[v][0] == flat[v][0])
    assert agree / len(two) >= 0.5, agree
    for v in two:
        assert two[v][1] <= flat[v][1], v  # never beats the flat optimum
        if two[v][0] == flat[v][0]:
            assert two[v][1] == flat[v][1], v  # same list -> same exact sim


def test_ann_ivf_2level_probe_all_equals_flat_search(spark):
    # with every L1 cell probed (2 cells at fixture scale, probe_l1=2),
    # both the corpus assignment and the query probe ranking see every
    # list, so the served top-k must equal flat ann_ivf exactly
    from apmbackend_spark.operators.similarity import ann_ivf, ann_ivf_2level
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    flat = {
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in ann_ivf(embs).collect()
    }
    two = {
        (r["query_id"], r["cand_id"], r["sim"], r["rank"])
        for r in ann_ivf_2level(embs, l1_factor=5, probe_l1=2).collect()
    }
    assert two == flat


def test_ann_ivf_2level_recall_pins_to_flat_published(spark):
    # the gate's knobs (l1_factor=2 -> 5 cells, probe_l1=3) exercise real
    # routing loss; at the driver's sf0.01 the routed search still lands
    # recall 0.76 vs bruteforce — the flat ann_ivf's published number —
    # so two-level serving costs O(N*sqrt(k)) without giving up recall
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ann_ivf,
        ann_ivf_2level,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_CORRECT

    embs = load_table(spark, SF_CORRECT, "embeddings")
    bf = {(r["query_id"], r["cand_id"]) for r in ann_bruteforce(embs).collect()}
    flat = {(r["query_id"], r["cand_id"]) for r in ann_ivf(embs).collect()}
    two = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivf_2level(embs, l1_factor=2, probe_l1=3).collect()
    }
    assert len(flat & bf) / len(bf) == 0.76  # the published flat number
    assert len(two & bf) / len(bf) == 0.76  # routed serving matches it
    assert two != flat  # ... while genuinely probing differently


def test_ivfpq_search_2level_recall_vs_flat_published(spark):
    # the residual-PQ tier through the router: ADC recall at the gate
    # knobs is 0.44 vs the flat ivfpq's published 0.50 — the bounded
    # routing loss, pinned so a silent regression (or a silent
    # flat-fallback) fails loudly in either direction
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ivfpq_search,
        ivfpq_search_2level,
    )
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_CORRECT

    embs = load_table(spark, SF_CORRECT, "embeddings")
    bf = {(r["query_id"], r["cand_id"]) for r in ann_bruteforce(embs).collect()}
    flat = {(r["query_id"], r["cand_id"]) for r in ivfpq_search(embs).collect()}
    two = {
        (r["query_id"], r["cand_id"])
        for r in ivfpq_search_2level(embs).collect()
    }
    assert len(flat & bf) / len(bf) == 0.50  # published flat ADC number
    assert len(two & bf) / len(bf) == 0.44  # routed, bounded loss
    assert two != flat


def test_ann_l1probe_curve_monotone_and_lands_on_flat(spark):
    # the routed-serving tuning curve: recall is non-decreasing in
    # probe_l1, and at the fixture geometry the top of the curve reaches
    # flat ann_ivf's published 0.76
    from apmbackend_spark.operators.similarity import ann_l1probe_curve
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_CORRECT

    embs = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(
        ann_l1probe_curve(embs).collect(), key=lambda r: r["probe_l1"]
    )
    assert [r["probe_l1"] for r in rows] == [1, 2, 3]
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)  # monotone in probed cells
    assert recalls == [0.40, 0.62, 0.76]  # the measured curve, pinned
    for r in rows:
        assert r["total"] == 50 and 0 <= r["hits"] <= r["total"]


def test_ivfpq_l1probe_curve_monotone_and_lands_on_routed(spark):
    # the routed residual-PQ tier's tuning curve: the index is built once
    # at the shipped build_probe_l1=3, only the query-side router sweeps;
    # recall is non-decreasing, and the top leg reproduces
    # ivfpq_search_2level's published 0.44 exactly (same index, same
    # serving knobs), so the curve and the shipped gate can't drift apart
    from apmbackend_spark.operators.similarity import ivfpq_l1probe_curve
    from apmbackend_spark.sources.loaders import load_table
    from tests.conftest import SF_CORRECT

    embs = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(
        ivfpq_l1probe_curve(embs).collect(), key=lambda r: r["probe_l1"]
    )
    assert [r["probe_l1"] for r in rows] == [1, 2, 3]
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)  # monotone in probed cells
    assert recalls == [0.22, 0.38, 0.44]  # the measured curve, pinned
    for r in rows:
        assert r["total"] == 50 and 0 <= r["hits"] <= r["total"]


def test_ann_dim_curve_monotone_with_exact_top_leg(spark):
    # recall climbs with the prefix length and the full-width leg IS the
    # exact ground truth (recall 1.0 by construction); sf0.001 values
    # pinned as the published operating points of this fixture geometry
    from apmbackend_spark.operators.similarity import ann_dim_curve

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(ann_dim_curve(embs).collect(), key=lambda r: r["dims"])
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    assert [round(r, 2) for r in recalls] == [0.1, 0.14, 0.24, 1.0]
    assert all(r["total"] == 50 for r in rows)


def test_ann_dim_curve_routed_monotone_ceiling_is_the_router(spark):
    # recall climbs with prefix length, and the FULL-width leg equals the
    # routed index's own recall (the curve's ceiling is the index, not
    # 1.0) — computed independently from ann_ivf_2level vs bruteforce
    from apmbackend_spark.operators.similarity import (
        ann_bruteforce,
        ann_dim_curve_routed,
        ann_ivf_2level,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(
        ann_dim_curve_routed(embs).collect(), key=lambda r: r["dims"]
    )
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    gt = {
        (r["query_id"], r["cand_id"])
        for r in ann_bruteforce(embs).collect()
    }
    served = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivf_2level(
            embs, l1_factor=2, probe_l1=3
        ).collect()
    }
    assert rows[-1]["recall"] == len(served & gt) / len(gt)


def _cusum_py(series, tot, n):
    from apmbackend_spark.operators.seasonal import (
        CUSUM_H_NUM,
        CUSUM_SLACK_DEN,
    )

    kap = tot // CUSUM_SLACK_DEN
    H = CUSUM_H_NUM * tot
    sp = sn = 0
    alarms = []
    for hr, cnt in series:
        spn = max(0, sp + (n * cnt - tot) - kap)
        snn = max(0, sn + (tot - n * cnt) - kap)
        if spn > H:
            alarms.append((hr, 1, spn))
            sp = 0
        else:
            sp = spn
        if snn > H:
            alarms.append((hr, -1, snn))
            sn = 0
        else:
            sn = snn
    return alarms


def test_cusum_changepoints_matches_python_reference(spark):
    from apmbackend_spark.operators.seasonal import cusum_changepoints

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {}
    for r in cusum_changepoints(ev).collect():
        got.setdefault(r["event_type"], []).append(
            (r["hr"], r["side"], r["stat"])
        )
    # rebuild the zero-filled hourly series independently
    from pyspark.sql import functions as F

    hc = (
        ev.groupBy(
            "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
        )
        .count()
        .collect()
    )
    lo = min(r["hr"] for r in hc)
    hi = max(r["hr"] for r in hc)
    by_key = {}
    for r in hc:
        by_key.setdefault(r["event_type"], {})[r["hr"]] = r["count"]
    n = hi - lo + 1
    for k, counts in by_key.items():
        series = [(h, counts.get(h, 0)) for h in range(lo, hi + 1)]
        tot = sum(c for _, c in series)
        want = _cusum_py(series, tot, n)
        assert sorted(got.get(k, [])) == sorted(want), k


def test_cusum_detects_an_injected_level_shift(spark):
    # a flat series with a mid-stream level shift must alarm on the +
    # side AFTER the shift and never before it
    rows = []
    for h in range(0, 48):
        cnt = 10 if h < 24 else 30  # shift at hour 24
        for i in range(cnt):
            rows.append(("shifted", h * 3600 * 10**6 + i))
    df = spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type", F.expr("timestamp_micros(us)").alias("ts")
    )
    from apmbackend_spark.operators.seasonal import cusum_changepoints

    al = sorted(
        (r["hr"], r["side"]) for r in cusum_changepoints(df).collect()
    )
    assert al, "no alarm on a 3x level shift"
    first_pos = min(h for h, s in al if s == 1)
    assert 24 <= first_pos <= 30  # fires shortly after the shift
    assert all(h >= 24 for h, s in al if s == 1)
