"""Z-score semantics tests (reference stream_calc_z_score.js:66-104).

The recursive implementation is validated two ways: hand-computed step
traces (FIXTURES.md F-8), and influence=1 equivalence with the
window-function implementation (at influence=1 the history always receives
the raw value, so the recursion degenerates to a rolling window)."""

from __future__ import annotations

import math

from apmbackend_spark.operators.zscore import zscore_step


def run_series(values, lag, threshold, influence):
    hist = []
    out = []
    for x in values:
        appended, avg, lb, ub, signal = zscore_step(lag, threshold, influence, x, hist)
        out.append((avg, lb, ub, signal))
        hist.append(appended)
        if len(hist) > lag:
            hist.pop(0)
    return out


def test_short_history_never_signals():
    out = run_series([100, 200, 5000], lag=5, threshold=1.0, influence=1.0)
    assert all(sig == 0 and avg is None for avg, _, _, sig in out)


def test_constant_series_never_signals():
    # variance-0 quirk (util_methods.js:44-48): stddev undefined on constant
    # history, so even a huge jump cannot signal against a flat baseline.
    out = run_series([100] * 10 + [100000], lag=5, threshold=3.0, influence=1.0)
    assert all(sig == 0 for _, _, _, sig in out)
    avg, lb, ub, sig = out[-1]
    assert avg == 100 and lb is None and ub is None


def test_step_change_signals_and_influence_damps():
    vals = [100, 110, 90, 105, 95, 1000]
    out = run_series(vals, lag=5, threshold=3.0, influence=0.0)
    avg, lb, ub, sig = out[-1]
    assert sig == 1
    assert avg == sum(vals[:5]) / 5
    # influence=0: the appended history value is the PREVIOUS value, so the
    # spike never contaminates the baseline.
    hist = []
    for x in vals:
        appended, *_ = zscore_step(5, 3.0, 0.0, x, hist)
        hist.append(appended)
        if len(hist) > 5:
            hist.pop(0)
    assert hist[-1] == 95  # not 1000

    # influence=0.1: appended = 0.1*1000 + 0.9*95
    hist = []
    for x in vals:
        appended, *_ = zscore_step(5, 3.0, 0.1, x, hist)
        hist.append(appended)
        if len(hist) > 5:
            hist.pop(0)
    assert math.isclose(hist[-1], 0.1 * 1000 + 0.9 * 95)


def test_boundary_is_strict():
    # |x - avg| == threshold*sd must NOT signal (strict >).
    vals = [1, 3, 1, 3, 1, 3]
    hist = vals[:4]
    avg = 2.0
    sd = 1.0
    x = avg + 2.0 * sd  # exactly at threshold 2
    _, _, _, _, sig = zscore_step(4, 2.0, 1.0, x, list(hist))
    assert sig == 0
    _, _, _, _, sig = zscore_step(4, 2.0, 1.0, x + 0.001, list(hist))
    assert sig == 1


def test_null_value_gives_zero_signal_but_occupies_history():
    hist = [10, 12, 11, None]
    # history length counts the None (reference: list length includes
    # undefined entries); average skips it.
    appended, avg, lb, ub, sig = zscore_step(4, 3.0, 1.0, None, hist)
    assert sig == 0
    assert avg == (10 + 12 + 11) / 3
    assert appended is None


def test_per_service_overrides_window_and_recursive(spark):
    """Reference cascade (stream_calc_z_score.js:106-150 +
    apm_config.json:152-172): per-lag default thresholds, per-(service,
    lag) threshold overrides. An overridden service must match a run with
    that threshold applied globally; every other service must match the
    default run."""
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.operators.zscore import (
        st_from_window_stats,
        zscore_recursive,
        zscore_window,
    )
    from apmbackend_spark.sources.tx import load_tx

    st = st_from_window_stats(
        window_stats(load_tx(spark, "/root/testdata/sf0.001"))
    ).persist()
    services = [r[0] for r in st.select("service").distinct().collect()]
    target = sorted(services)[0]
    overrides = {target: {60: {"threshold": 1.5}}}

    def rows(df):
        return {
            (r["server"], r["service"], r["timestamp"], r["lag"]): tuple(
                r[f"{m}signal"] for m in ("average", "per75", "per95")
            )
            for r in df.collect()
        }

    base = rows(zscore_window(st, lags=(60,), threshold=3.0))
    ov = rows(zscore_window(st, lags=(60,), threshold=3.0, overrides=overrides))
    tight = rows(zscore_window(st, lags=(60,), threshold=1.5))
    assert set(base) == set(ov)
    changed = 0
    for k in ov:
        if k[1] == target:
            assert ov[k] == tight[k], k
            changed += ov[k] != base[k]
        else:
            assert ov[k] == base[k], k
    assert changed > 0  # the tighter threshold must actually fire more

    # recursive form resolves the same cascade per group (influence=1)
    rec = rows(
        zscore_recursive(
            st, lags=(60,), threshold=3.0, influence=1.0, overrides=overrides
        )
    )
    assert rec == ov
    st.unpersist()


def test_recursive_influence1_matches_window_impl(spark):
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.operators.zscore import (
        st_from_window_stats,
        zscore_recursive,
        zscore_window,
    )
    from apmbackend_spark.sources.tx import load_tx

    st = st_from_window_stats(window_stats(load_tx(spark, "/root/testdata/sf0.001")))
    key_cols = ["server", "service", "timestamp", "lag"]
    a = {
        tuple(r[k] for k in key_cols): r
        for r in zscore_window(st, lags=(60,), threshold=3.0).collect()
    }
    b = {
        tuple(r[k] for k in key_cols): r
        for r in zscore_recursive(st, lags=(60,), threshold=3.0, influence=1.0).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    n_signals = 0
    for k, ra in a.items():
        rb = b[k]
        for m in ("average", "per75", "per95"):
            assert ra[f"{m}signal"] == rb[f"{m}signal"], (k, m)
            n_signals += abs(ra[f"{m}signal"])
            for f in (m, f"{m}avg", f"{m}lb", f"{m}ub"):
                va, vb = ra[f], rb[f]
                if va is None or vb is None:
                    assert va == vb, (k, f)
                else:
                    assert math.isclose(va, vb, rel_tol=1e-9), (k, f, va, vb)
    assert n_signals > 0  # the fixture data must actually exercise signals


def test_window_stats_rejects_non_divisible_slide(spark):
    # the bucket-partial rollup requires window % slide == 0; a silent
    # truncation would under-cover every window (see window_stats docstring)
    import pytest

    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.sources.tx import load_tx
    from tests.conftest import SF_SMOKE

    tx = load_tx(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="multiple of slide"):
        window_stats(tx, window="25 seconds", slide="10 seconds")


def test_zscore_chunked_matches_global_on_dense_grid(spark):
    # The time-chunked form must equal the global window form bit-for-bit on
    # a dense per-key slide grid — the shape the reference's
    # emit-every-interval contract (A2 zero-fill) produces at steady state.
    # Silent intervals carry NULL metrics (history slots that skip stats);
    # chunk span forces many chunks, carry crossings, and a mid-stream key.
    import pandas as pd

    from apmbackend_spark.operators.zscore import (
        zscore_window,
        zscore_window_chunked,
    )

    rows = []
    for i in range(1200):  # 1200 slots x 10 s, chunk_intervals=100 -> 12 chunks
        ts = 1_700_000_000_000 + i * 10_000
        for srv in ("srv0", "srv1"):
            srv_off = {"srv0": 3, "srv1": 9}[srv]
            val = None if (i % 37 == 5 and srv == "srv0") else float(
                100 + (i * 7 + srv_off) % 50 + (400 if i > 900 else 0)
            )
            rows.append(
                {
                    "timestamp": ts,
                    "server": srv,
                    "service": "svc",
                    "tpm": 1.0,
                    "average": val,
                    "per75": None if val is None else val + 1,
                    "per95": None if val is None else val + 3,
                }
            )
        if i >= 400:  # key that first appears mid-stream (chunk 4)
            rows.append(
                {
                    "timestamp": ts,
                    "server": "srv9",
                    "service": "late",
                    "tpm": 1.0,
                    "average": float(200 + i % 11),
                    "per75": float(201 + i % 11),
                    "per95": float(203 + i % 11),
                }
            )
    st = spark.createDataFrame(pd.DataFrame(rows)).persist()
    lags = (30, 60)
    want = sorted(
        map(tuple, zscore_window(st, lags=lags, threshold=3.0).collect())
    )
    got = sorted(
        map(
            tuple,
            zscore_window_chunked(
                st, lags=lags, threshold=3.0, chunk_intervals=100
            ).collect(),
        )
    )
    st.unpersist()
    assert len(got) == len(want) > 0
    assert got == want


def test_incremental_scan_matches_step_loop_property():
    # The exact block scan (_zscore_series_exact) must agree BITWISE with a
    # naive zscore_step loop on arbitrary series — including nulls,
    # constant runs (variance-0 quirk), spikes and damped appends — both
    # in one shot and resumed piecewise from stored histories through
    # zscore_recursive_py(..., hists=...), the streaming operator's path.
    import pandas as pd
    from hypothesis import example, given, settings, strategies as st_

    from apmbackend_spark.operators.zscore import (
        _zscore_series_exact,
        zscore_recursive_py,
        zscore_step,
    )

    val = st_.one_of(
        st_.none(),
        st_.integers(min_value=0, max_value=10_000).map(float),
        st_.just(500.0),  # encourage constant runs
    )

    def assert_matches(where, got, want):
        avg_o, lb_o, ub_o, sig_o = got
        for i, (avg, lb, ub, signal) in enumerate(want):
            assert sig_o[i] == signal, (where, i)
            for g, w in ((avg_o[i], avg), (lb_o[i], lb), (ub_o[i], ub)):
                if w is None:
                    assert math.isnan(g), (where, i)
                else:
                    assert g == w, (where, i, g, w)

    @settings(max_examples=40, deadline=None)
    @given(
        xs=st_.lists(val, min_size=1, max_size=300),
        lag=st_.integers(min_value=1, max_value=12),
        influence=st_.sampled_from([0.0, 0.1, 1.0]),
        cuts=st_.lists(st_.integers(min_value=1, max_value=299), max_size=8),
    )
    # round-4 counterexamples, pinned so the regression stays caught without
    # the local .hypothesis example database: a damped (non-integer) append
    # cycling through rolling sums left ~1e-10 residue, defeating the
    # variance-0 quirk (spurious signal -1; non-NaN bounds where the
    # reference gives undefined)
    @example(
        xs=[None, 1426.0, 2351.0, 500.0, None, None, 500.0],
        lag=3,
        influence=0.1,
        cuts=[],
    )
    @example(xs=[1426.0, 2351.0, 500.0, None, None], lag=2, influence=0.1, cuts=[])
    # a spike after a constant-ish run: damped append at 6, null at 8
    @example(
        xs=[10.0, 12.0, 11.0, 10.0, 12.0, 11.0, 900.0, 11.0, None, 10.0, 12.0],
        lag=4,
        influence=0.1,
        cuts=[3],
    )
    def check(xs, lag, influence, cuts):
        threshold = 3.0
        want, hist, damped = [], [], []
        for i, x in enumerate(xs):
            appended, avg, lb, ub, signal = zscore_step(
                lag, threshold, influence, x, hist
            )
            want.append((avg, lb, ub, signal))
            if appended != x:
                damped.append(i)
            hist.append(appended)
            if len(hist) > lag:
                hist.pop(0)

        # block=7 forces the block hand-off every few steps — the block
        # boundary logic must be invisible
        for block in (4096, 7):
            got = _zscore_series_exact(xs, lag, threshold, influence, block=block)
            assert_matches(("one-shot", block), got[:4], want)

        # piecewise: the drawn cuts plus one inside warm-up, one on the
        # first null, and one right after the first damped append
        n = len(xs)
        nulls = [i for i, x in enumerate(xs) if x is None]
        forced = [lag // 2] + nulls[:1] + [s + 1 for s in damped[:1]]
        bounds = sorted({c for c in cuts + forced if 0 < c < n} | {0, n})
        hists = [[]]
        pieces = []
        for lo, hi in zip(bounds, bounds[1:]):
            rows = pd.DataFrame(
                {
                    "timestamp": range(lo, hi),
                    "server": "s",
                    "service": "svc",
                    "tpm": 1.0,
                    "average": pd.Series(xs[lo:hi], dtype="float64"),
                }
            )
            pieces.append(
                zscore_recursive_py(
                    rows, (lag,), threshold, influence, ("average",), hists=hists
                )
            )
            assert len(hists[0]) == min(hi, lag)
        out = pd.concat(pieces, ignore_index=True)
        assert list(out["timestamp"]) == list(range(n))
        cols = ("averageavg", "averagelb", "averageub", "averagesignal")
        assert_matches(
            ("piecewise", bounds), [out[c].to_numpy() for c in cols], want
        )
        assert [None if v is None else float(v) for v in hist] == hists[0]

    check()


def test_exact_scan_long_series_bitwise():
    # deterministic long mixed series (nulls, spikes, constant-zero runs
    # exercising the O(1) fast path): the scan must be BITWISE equal to the
    # zscore_step loop — not merely close — since the DuckDB oracle replays
    # the reference arithmetic
    from apmbackend_spark.operators.zscore import (
        _zscore_series_exact,
        zscore_step,
    )

    xs = [
        None
        if i % 53 == 0
        else (0.0 if (i // 97) % 3 == 0 else float((i * 31 + 7) % 997))
        for i in range(9000)
    ]
    lag = 64
    avg_o, lb_o, ub_o, sig_o, _ = _zscore_series_exact(xs, lag, 3.0, 0.1)
    hist = []
    for i, x in enumerate(xs):
        appended, avg, lb, ub, signal = zscore_step(lag, 3.0, 0.1, x, hist)
        hist.append(appended)
        if len(hist) > lag:
            hist.pop(0)
        assert sig_o[i] == signal, i
        for got, want in ((avg_o[i], avg), (lb_o[i], lb), (ub_o[i], ub)):
            if want is None:
                assert got != got, i  # NaN
            else:
                assert got == want, i  # bitwise


def test_longlag_8640_warmup_boundary(spark):
    # Production lag gate semantics (config/apm_config.json:142): a lag-L
    # mean is defined only once the key has L FULL intervals of history —
    # on a dense grid starting at t0, the first non-null average for lag
    # 8640 lands exactly at slot 8640 (24 h in), never earlier. Uses a
    # single-key 9000-slot grid so the window pass is one task.
    from apmbackend_spark.operators.zscore import zscore_window_chunked

    n = 9000
    rows = [
        {
            "timestamp": 1_700_000_000_000 + i * 10_000,
            "server": "srv0",
            "service": "error",
            "tpm": 1.0,
            "average": float(100 + i % 13),
            "per75": float(101 + i % 13),
            "per95": float(103 + i % 13),
        }
        for i in range(n)
    ]
    st = spark.createDataFrame(rows)
    out = (
        zscore_window_chunked(st, lags=(8640,), threshold=3.0)
        .select("timestamp", "averageavg")
        .collect()
    )
    assert len(out) == n
    by_ts = {r["timestamp"]: r["averageavg"] for r in out}
    first_defined = 1_700_000_000_000 + 8640 * 10_000
    assert all(
        (v is None) == (ts < first_defined) for ts, v in by_ts.items()
    )
    # the first defined mean averages slots 0..8639 exactly
    want = sum(100 + i % 13 for i in range(8640)) / 8640
    assert by_ts[first_defined] == want
