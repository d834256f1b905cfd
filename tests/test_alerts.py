"""Alert debounce (F4) and cooldown (F5) trace semantics
(reference stream_process_alerts.js:358-467)."""

from __future__ import annotations

from apmbackend_spark.operators.alerts import (
    AlertConfig,
    cooldown_trace_py,
    debounce_trace_py,
)


def test_debounce_requires_sustained_bad_intervals():
    # 2 bad intervals never trigger at required=3; 3 in a row do.
    trace = debounce_trace_py([True, True, False, True, True, True], 6, 3)
    assert [t for _, t in trace] == [False, False, False, False, True, True]
    assert [c for c, _ in trace] == [1, 2, 1, 2, 3, 4]


def test_debounce_counter_clamps():
    ws = 4
    trace = debounce_trace_py([True] * 10, ws, 3)
    # increments only while counter <= window size -> saturates at ws+1
    assert [c for c, _ in trace][-1] == ws + 1
    # quiet intervals decrement but floor at 0
    trace2 = debounce_trace_py([False] * 3 + [True] + [False] * 5, ws, 3)
    counters = [c for c, _ in trace2]
    assert counters[:3] == [0, 0, 0] and counters[3] == 1 and counters[-1] == 0


def test_debounce_asymmetric_hysteresis():
    # long bad run, then alternating: the counter decays slowly (one per
    # quiet interval), so triggering persists through short quiet gaps.
    flags = [True] * 6 + [False, True, False, True]
    trace = debounce_trace_py(flags, 6, 3)
    # after the run the counter sits at 6; F,T,F,T walks 5,6,5,6 — every
    # fired interval still triggers, quiet ones never do.
    assert [t for _, t in trace[6:]] == [False, True, False, True]


def test_cooldown_strict_inequality():
    cooldown_ms = 60_000.0
    ts = [0, 30_000, 60_000, 60_001, 121_000]
    keep = cooldown_trace_py(ts, cooldown_ms)
    # 60_000 - 0 is NOT > 60_000 (strict), 60_001 is; 121_000 - 60_001 =
    # 60_999 clears the cooldown again.
    assert keep == [True, False, False, True, True]


def test_cooldown_measured_from_last_emitted():
    cooldown_ms = 10.0
    ts = [0, 5, 11, 20, 25, 36]
    keep = cooldown_trace_py(ts, cooldown_ms)
    assert keep == [True, False, True, False, True, True]


def test_pipeline_end_to_end_counts(spark):
    # A deterministic mini-series: one key alternates hot/quiet.
    import pandas as pd

    from apmbackend_spark.operators.alerts import alert_pipeline

    rows = []
    for i in range(40):
        hot = i >= 10  # sustained breach from interval 10 on
        rows.append(
            {
                "timestamp": i * 10_000,
                "server": "srv0",
                "service": "svc",
                "lag": 60,
                "tpm": 1.0,
                "average": 50_000.0 if hot else 100.0,
                "averagesignal": 0,
                "per75": 100.0,
                "per75signal": 0,
                "per95": 100.0,
                "per95signal": 0,
            }
        )
    fs = spark.createDataFrame(pd.DataFrame(rows))
    cfg = AlertConfig(
        hard_max_ms=10_000.0,
        window_size=6,
        required_bad=3,
        cooldown_minutes=1.0,
        min_tpm=0.5,
    )
    alerts = alert_pipeline(fs, cfg).collect()
    # breach starts at t=100s; counter hits 3 at t=120s; cooldown 60s
    # passes alerts at 120s, then next at >180s, >240s ... through 390s.
    got = sorted(a["alerttimestamp"] for a in alerts)
    assert got[0] == 120_000
    assert all(b - a > 60_000 for a, b in zip(got, got[1:]))
    assert all(a["cause"] == "average exceeded hard ms threshold" for a in alerts)


def test_pipeline_and_stream_break_cooldown_ties_by_server_then_lag(spark, tmp_path):
    """One service, 2 servers x 2 lags. At t=70 s (srvA, 360) and
    (srvB, 60) trigger together: the server decides, srvA is kept. At
    t=140 s (srvB, 60) and (srvB, 360) trigger together: the lag decides.
    The batch pipeline, its DuckDB oracle and the stateful stream (three
    micro-batches, so counters and the cooldown carry across batches) must
    all return exactly those alerts."""
    import duckdb
    import pandas as pd

    from pyspark.sql import functions as F

    from apmbackend_spark.operators.alerts import (
        alert_pipeline,
        alert_pipeline_oracle_sql,
    )
    from apmbackend_spark.streaming.pipeline import run_available_now
    from apmbackend_spark.streaming.stateful import alerts_stateful

    bad = {
        ("srvA", 60): range(0),
        ("srvA", 360): range(5, 12),
        ("srvB", 60): range(5, 30),
        ("srvB", 360): range(8, 30),
    }
    rows = [
        {
            "timestamp": i * 10_000,
            "server": srv,
            "service": "svc",
            "lag": lag,
            "tpm": 1.0,
            "average": 50_000.0 if i in hot else 100.0,
            "per75": 100.0,
            "per95": 100.0,
            "averagesignal": 0,
            "per75signal": 0,
            "per95signal": 0,
        }
        for (srv, lag), hot in bad.items()
        for i in range(41)
    ]
    schema = (
        "timestamp long, server string, service string, lag int, tpm double, "
        "average double, per75 double, per95 double, averagesignal int, "
        "per75signal int, per95signal int"
    )
    fs = spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    cfg = AlertConfig(
        hard_max_ms=10_000.0, window_size=6, required_bad=3, cooldown_minutes=1.0
    )
    cause = "average exceeded hard ms threshold"
    want = [
        (70_000, "srvA", 360, cause),
        (140_000, "srvB", 60, cause),
        (210_000, "srvB", 60, cause),
        (280_000, "srvB", 60, cause),
    ]

    def key(r):
        assert r[0] == r[1]  # alerttimestamp == entrytimestamp
        return (r[0], r[2], r[4], r[5])

    cols = ["alerttimestamp", "entrytimestamp", "server", "service", "lag", "cause"]
    got = sorted(key(r) for r in alert_pipeline(fs, cfg).select(*cols).collect())
    assert got == want

    con = duckdb.connect()
    con.register("fs_pdf", fs.toPandas())
    oracle = con.sql(
        "WITH RECURSIVE fs AS (SELECT * FROM fs_pdf)" + alert_pipeline_oracle_sql(cfg)
    ).fetchall()
    assert sorted(key(r) for r in oracle) == want

    src = str(tmp_path / "fs_src")
    for lo, hi in [(0, 8), (8, 20), (20, 41)]:
        fs.where(
            (F.col("timestamp") >= lo * 10_000) & (F.col("timestamp") < hi * 10_000)
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    streamed = run_available_now(
        alerts_stateful(stream, cfg), str(tmp_path / "ckpt"), query_name="al_ties"
    ).select(*cols).collect()
    assert sorted(key(r) for r in streamed) == want
