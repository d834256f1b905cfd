"""Streaming skin tests: batch/stream parity for the windowed stats and the
stateful z-score, plus the foreachBatch fan-out sink."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="apm_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_window_stats_stream_matches_batch(spark, tmpdir):
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.sources.tx import load_tx
    from apmbackend_spark.streaming.pipeline import (
        run_available_now,
        tx_stream,
        window_stats_stream,
    )

    tx = tx_stream(spark, f"{SF_SMOKE}")
    # stream the events dir (single parquet file -> one micro-batch)
    got = run_available_now(
        window_stats_stream(tx), f"{tmpdir}/ckpt", query_name="ws_stream"
    ).collect()
    assert len(got) > 0

    batch = {
        (r["server"], r["service"], r["win_start"]): r
        for r in window_stats(load_tx(spark, SF_SMOKE)).collect()
    }
    # append mode emits only windows closed by the final watermark; every
    # emitted window must match the batch result exactly.
    assert len(got) <= len(batch)
    for r in got:
        b = batch[(r["server"], r["service"], r["win_start"])]
        assert r["cnt"] == b["cnt"]
        assert r["tpm"] == b["tpm"]
        assert r["avg_ms"] == b["avg_ms"]
        assert r["p75"] == b["p75"] and r["p95"] == b["p95"]
    # and nearly all windows should have closed (watermark = max - 60 s)
    assert len(got) >= 0.95 * len(batch)


_ST_DDL = (
    "timestamp long, server string, service string, tpm double, "
    "average double, per75 double, per95 double"
)

# (server, row, metric) cells left null: one in warm-up, and some in the
# last lag=30 rows before the delivery cuts (40/80 and 50/90) so a null
# crosses the state store
_ST_NULLS = {
    ("srv0", 25, "average"),
    ("srv0", 45, "per75"),
    ("srv0", 70, "average"),
    ("srv1", 79, "per95"),
    ("srv1", 105, "per75"),
}


def _zscore_st_rows():
    """Two keys x 120 intervals with a step change at 100 and a few nulls,
    as _ST_DDL tuples."""
    rows = []
    for i in range(120):
        for srv in ("srv0", "srv1"):
            base = 100.0 if i < 100 else 5000.0  # step change at i=100
            vals = [
                None if (srv, i, m) in _ST_NULLS else base + (i % mod)
                for m, mod in (("average", 7), ("per75", 5), ("per95", 3))
            ]
            rows.append((i * 10_000, srv, "svc", 1.0, *vals))
    return rows


def _assert_fs_equal(got: dict, expect: dict) -> int:
    """Exact equality of z-score rows keyed alike; returns |signals|."""
    assert len(got) == len(expect) > 0
    n_sig = 0
    for k, e in expect.items():
        r = got[k]
        for m in ("average", "per75", "per95"):
            n_sig += abs(r[f"{m}signal"])
            for f in (m, f"{m}avg", f"{m}lb", f"{m}ub", f"{m}signal"):
                assert r[f] == e[f], (k, f, r[f], e[f])
    return n_sig


def test_zscore_stateful_matches_recursive_across_batches(spark, tmpdir):
    from pyspark.sql import functions as F

    from apmbackend_spark.operators.zscore import zscore_recursive
    from apmbackend_spark.streaming.pipeline import run_available_now
    from apmbackend_spark.streaming.stateful import zscore_stateful

    st = spark.createDataFrame(_zscore_st_rows(), _ST_DDL)

    # Split into 3 time-sliced parquet files -> 3 micro-batches in order.
    src = f"{tmpdir}/st_src"
    for n, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        (
            st.where((F.col("timestamp") >= lo * 10_000) & (F.col("timestamp") < hi * 10_000))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    st_stream = spark.readStream.schema(_ST_DDL).option("maxFilesPerTrigger", 1).parquet(src)

    got = run_available_now(
        zscore_stateful(st_stream, lags=(30,), threshold=3.0, influence=0.1),
        f"{tmpdir}/ckpt2",
        query_name="zs_stream",
        output_mode="append",
    ).collect()

    expect = {
        (r["server"], r["timestamp"]): r
        for r in zscore_recursive(
            st, lags=(30,), threshold=3.0, influence=0.1
        ).collect()
    }
    assert len(got) == len(expect)
    got = {(r["server"], r["timestamp"]): r for r in got}
    assert _assert_fs_equal(got, expect) > 0  # the step change must signal


def test_bucket_zerofill_emits_silent_intervals(spark, tmpdir):
    """A2 zero-row emission (SURVEY 'hard part #4'): a key silent for six
    buckets must still emit cnt=0 rows for them, driven by event-time
    timers; counted buckets must match the batch aggregation exactly."""
    from pyspark.sql import functions as F

    from apmbackend_spark.streaming.pipeline import run_available_now
    from apmbackend_spark.streaming.stateful import bucket_zerofill_stateful

    # key B: buckets 0..15; key A: 0..5 then silent 6..11 then 12..15
    rows = []
    for b in range(16):
        rows.append(("srvB", "svc", b * 10_000 + 500, 10 + b))
        if b <= 5 or b >= 12:
            rows.append(("srvA", "svc", b * 10_000 + 500, 100 + b))
    schema = "server string, service string, endts long, elapsed long"
    src = f"{tmpdir}/zf_src"
    df = spark.createDataFrame(rows, schema=schema)
    for lo, hi in [(0, 6), (6, 12), (12, 16)]:
        (
            df.where((F.col("endts") >= lo * 10_000) & (F.col("endts") < hi * 10_000))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("endtime", F.timestamp_millis(F.col("endts")))
    )
    got = run_available_now(
        bucket_zerofill_stateful(stream, watermark="0 seconds"),
        f"{tmpdir}/ckpt_zf",
        query_name="zf_stream",
    ).collect()

    by_key = {}
    for r in got:
        k = (r["server"], r["timestamp"] // 10_000)
        assert k not in by_key, f"duplicate emission {k}"
        by_key[k] = (r["cnt"], r["sum_elapsed"])

    # counted buckets match the batch aggregation
    batch = {}
    for r in (
        df.withColumn("bkt", (F.col("endts") / 10_000).cast("long"))
        .groupBy("server", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("elapsed").alias("s"))
        .collect()
    ):
        batch[(r["server"], r["bkt"])] = (r["cnt"], r["s"])
    for k, v in by_key.items():
        if v[0] > 0:
            assert batch[k] == v, k
    # the silent gap emits zeros (this is the feature under test)
    for b in range(6, 12):
        assert by_key.get(("srvA", b)) == (0, None), b
    # coverage: every finalized bucket up to the final watermark - 1
    assert {b for (s, b) in by_key if s == "srvB"} >= set(range(0, 14))


def test_alerts_stateful_matches_batch_across_batches(spark, tmpdir):
    """F4+F5 streaming: counters and cooldown registry carry across
    micro-batches; output must equal the batch alert_pipeline exactly."""
    import pandas as pd

    from apmbackend_spark.operators import alerts as al
    from apmbackend_spark.streaming.pipeline import run_available_now
    from apmbackend_spark.streaming.stateful import alerts_stateful

    cfg = al.AlertConfig(
        hard_max_ms=1e12,  # only the signal path fires
        hard_min_ms=200.0,
        min_tpm=0.1,
        alert_on_both_only=True,
        window_size=6,
        required_bad=3,
        cooldown_minutes=1.0,
    )
    rows = []
    for i in range(60):
        for srv in ("srv0", "srv1"):
            burst = 10 <= i < 30  # 20 bad intervals: debounce arms, fires,
            rows.append(                    # cooldown thins the fires
                {
                    "timestamp": i * 10_000,
                    "server": srv,
                    "service": "svc",
                    "lag": 60,
                    "tpm": 5.0,
                    "average": 900.0 if burst else 100.0,
                    "per75": 950.0 if burst else 110.0,
                    "per95": 990.0 if burst else 120.0,
                    "averagesignal": 1 if burst else 0,
                    "per75signal": 1 if burst else 0,
                    "per95signal": 0,
                }
            )
    schema = (
        "timestamp long, server string, service string, lag int, tpm double, "
        "average double, per75 double, per95 double, averagesignal int, "
        "per75signal int, per95signal int"
    )
    fs = spark.createDataFrame(pd.DataFrame(rows), schema=schema)

    src = f"{tmpdir}/fs_src"
    from pyspark.sql import functions as F

    for lo, hi in [(0, 20), (20, 40), (40, 60)]:
        (
            fs.where(
                (F.col("timestamp") >= lo * 10_000)
                & (F.col("timestamp") < hi * 10_000)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    fs_stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )

    got = sorted(
        (r["alerttimestamp"], r["server"], r["service"], r["lag"], r["cause"])
        for r in run_available_now(
            alerts_stateful(fs_stream, cfg), f"{tmpdir}/ckpt_al", query_name="al_stream"
        ).collect()
    )
    expect = sorted(
        (r["alerttimestamp"], r["server"], r["service"], r["lag"], r["cause"])
        for r in al.alert_pipeline(fs, cfg).collect()
    )
    assert got == expect
    assert len(expect) > 2  # burst must produce several cooldown-spaced alerts


ENV_SCHEMA = (
    "rectype string, endts long, startts long, server string, "
    "service string, logid string, acctnum long, elapsed long, "
    "toplevel string, timestamp long, tpm double, lag long, "
    "stats string, entrytimestamp long, alerttimestamp long, "
    "cause string, entry string, heapused long, heapmax long, "
    "threadcnt long, sysload double"
)

_ENV_NULLS = {
    f.strip().split()[0]: None for f in ENV_SCHEMA.split(",")
}


def _env_row(**kw):
    r = dict(_ENV_NULLS)
    r.update(kw)
    return r


def _envelope_stream(spark, tmpdir, rows):
    src = f"{tmpdir}/env_src"
    # explicit schema: pandas would infer None-mixed int columns as double
    spark.createDataFrame(rows, schema=ENV_SCHEMA).coalesce(1).write.parquet(src)
    return spark.readStream.schema(ENV_SCHEMA).parquet(src)


def test_db_insert_sink_routes_typed_tables(spark, tmpdir):
    """S6 contract (stream_insert_db.js:149-160, 277-353): the envelope
    stream splits by rectype and each table receives exactly its reference
    column set."""
    from apmbackend_spark.streaming.pipeline import DB_TABLE_COLUMNS, db_insert_sink

    rows = []
    for i in range(20):
        rows.append(
            {
                "rectype": "tx",
                "endts": 1000 + i,
                "startts": 900 + i,
                "server": "srv0",
                "service": "svc",
                "logid": str(i),
                "acctnum": 100000000 + i,
                "elapsed": 100 + i,
                "toplevel": "Y",
                "timestamp": None,
                "tpm": None,
                "lag": None,
                "stats": None,
                "entrytimestamp": None,
                "alerttimestamp": None,
                "cause": None,
                "entry": None,
                "heapused": None,
                "heapmax": None,
                "threadcnt": None,
                "sysload": None,
            }
        )
        rows.append(
            {
                "rectype": "fs",
                "endts": None,
                "startts": None,
                "server": "srv0",
                "service": "svc",
                "logid": None,
                "acctnum": None,
                "elapsed": None,
                "toplevel": None,
                "timestamp": 1000 + i,
                "tpm": 6.0,
                "lag": 360,
                "stats": "{}",
                "entrytimestamp": None,
                "alerttimestamp": None,
                "cause": None,
                "entry": None,
                "heapused": None,
                "heapmax": None,
                "threadcnt": None,
                "sysload": None,
            }
        )
    env = _envelope_stream(spark, tmpdir, rows)

    captured: dict[str, list] = {}

    def capture(sub, table, batch_id):
        captured.setdefault(table, []).extend(
            (tuple(sub.columns), r) for r in sub.collect()
        )

    q = db_insert_sink(env, f"{tmpdir}/ckpt_db", write_fn=capture)
    q.awaitTermination(300)

    assert set(captured) >= {"apm_tx", "apm_fs"}
    tx_cols = captured["apm_tx"][0][0]
    assert tx_cols == DB_TABLE_COLUMNS["tx"]  # exact reference column set
    assert len(captured["apm_tx"]) == 20
    fs_cols = captured["apm_fs"][0][0]
    assert fs_cols == tuple(
        c for c in DB_TABLE_COLUMNS["fs"] if c in fs_cols
    )
    assert len(captured["apm_fs"]) == 20
    # empty rectypes still route (zero rows, correct schema)
    assert len(captured.get("apm_al", [])) == 0
    assert len(captured.get("apm_jx", [])) == 0


def test_db_insert_sink_writes_real_jdbc(spark, tmpdir):
    """S6's PRODUCTION branch (batch.write.jdbc) against embedded Derby —
    the JDBC engine Spark ships with — asserting the four typed tables
    land with the reference column sets (stream_insert_db.js:149-160) and
    exact row counts, read back through spark.read.jdbc."""
    from apmbackend_spark.streaming.pipeline import DB_TABLE_COLUMNS, db_insert_sink

    rows = []
    for i in range(7):
        rows.append(
            _env_row(
                rectype="tx", endts=1000 + i, startts=900 + i, server="srv0",
                service="svc", logid=str(i), acctnum=100000000 + i,
                elapsed=100 + i, toplevel="Y",
            )
        )
        rows.append(
            _env_row(
                rectype="fs", server="srv0", service="svc",
                timestamp=1000 + i, tpm=6.0, lag=360, stats="{}",
            )
        )
    rows.append(
        _env_row(
            rectype="al", entrytimestamp=1000, alerttimestamp=1001,
            server="srv0", service="svc", cause="average UB exceeded",
            entry="{}",
        )
    )
    rows.append(
        _env_row(
            rectype="jx", timestamp=1000, server="srv0",
            heapused=100, heapmax=512, threadcnt=7, sysload=0.5,
        )
    )
    env = _envelope_stream(spark, tmpdir, rows)

    url = f"jdbc:derby:{tmpdir}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    q = db_insert_sink(
        env, f"{tmpdir}/ckpt_jdbc", jdbc_url=url, properties=props
    )
    q.awaitTermination(300)

    want_counts = {"tx": 7, "fs": 7, "al": 1, "jx": 1}
    for rectype, n in want_counts.items():
        back = spark.read.jdbc(url, f"apm_{rectype}", properties=props)
        assert tuple(c.lower() for c in back.columns) == DB_TABLE_COLUMNS[rectype]
        assert back.count() == n


def test_fanout_parquet_sink(spark, tmpdir):
    from apmbackend_spark.streaming.pipeline import (
        fanout_parquet_sink,
        tx_stream,
        window_stats_stream,
    )

    ws = window_stats_stream(tx_stream(spark, f"{SF_SMOKE}"))
    q = fanout_parquet_sink(ws, f"{tmpdir}/out", f"{tmpdir}/ckpt3")
    q.awaitTermination(300)
    written = spark.read.parquet(f"{tmpdir}/out")
    assert written.count() > 0
    assert "_batch_id" in written.columns


def test_apm_topology_end_to_end(spark, tmpdir):
    """The four-stage queue topology drained over the sf0.001 events: every
    handoff populated, tx count exact, st rows matching the batch operator
    for closed windows, fs = st x lags, and the alert stage fires."""
    from apmbackend_spark.operators.alerts import AlertConfig
    from apmbackend_spark.streaming.topology import run_apm_topology

    cfg = AlertConfig(
        hard_max_ms=1.0,      # everything exceeds the hard max -> causes fire
        hard_min_ms=0.0,
        min_tpm=0.0,
        window_size=3,
        required_bad=2,       # debounce arms on the second bad interval
        cooldown_minutes=5.0,
    )
    # the streaming file source wants a directory with only the events table
    import os
    import shutil

    ev_dir = f"{tmpdir}/events_src"
    os.makedirs(ev_dir)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{ev_dir}/events.parquet")
    dirs = run_apm_topology(spark, ev_dir, f"{tmpdir}/topo", alert_cfg=cfg)

    tx = spark.read.parquet(dirs["tx"])
    assert tx.count() == 1000

    st = spark.read.parquet(dirs["st"])
    n_st = st.count()
    assert n_st > 0

    from apmbackend_spark.operators.window_stats import WINDOW_MS, window_stats
    from apmbackend_spark.operators.zscore import st_from_window_stats
    from apmbackend_spark.sources.tx import load_tx

    # append mode emits exactly the windows the final watermark closed:
    # end <= max(endts) - the 60 s delay; each equals the batch operator's
    tx_batch = load_tx(spark, SF_SMOKE)
    closed_by = tx_batch.agg({"endts": "max"}).collect()[0][0] - 60_000
    batch = st_from_window_stats(window_stats(tx_batch)).where(
        f"timestamp + {WINDOW_MS} <= {closed_by}"
    )
    cols = ["timestamp", "server", "service", "tpm", "average", "per75", "per95"]
    assert sorted(map(tuple, st.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )

    fs = spark.read.parquet(dirs["fs"])
    assert fs.count() == n_st  # one lag configured -> one fs row per st row

    al = spark.read.parquet(dirs["al"])
    assert al.count() > 0  # the always-bad config must produce alerts
    assert set(al.columns) == {
        "alerttimestamp", "entrytimestamp", "server", "service", "lag", "cause"
    }


def test_dedup_stream_drops_cross_batch_redeliveries(spark, tmpdir):
    """A record redelivered in a LATER micro-batch (within the watermark)
    must be emitted exactly once."""
    from pyspark.sql import functions as F

    from apmbackend_spark.streaming.pipeline import dedup_stream, run_available_now

    schema = "logid string, server string, endts long, elapsed long"
    base = [(f"L{i}", "srv0", 1_700_000_000_000 + i * 1000, 100 + i) for i in range(10)]
    redelivered = base[3:6]  # replayed verbatim in the next batch
    src = f"{tmpdir}/dedup_src"
    spark.createDataFrame(base, schema=schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(redelivered, schema=schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("endtime", F.timestamp_millis(F.col("endts")))
    )
    got = run_available_now(
        dedup_stream(stream), f"{tmpdir}/ckpt_dd", query_name="dd_stream"
    ).collect()
    logids = [r["logid"] for r in got]
    assert sorted(logids) == sorted({r[0] for r in base})  # each exactly once


def test_correlate_stream_matches_batch(spark, tmpdir):
    # J1 stream-stream join vs the batch correlate: every emitted row must
    # equal its batch twin; all MATCHED rows emit (inner results don't wait
    # for the watermark), unmatched salvage emits as the watermark passes.
    from apmbackend_spark.operators.correlation import correlate, entry_leg, exit_leg
    from apmbackend_spark.sources.tx import load_tx
    from apmbackend_spark.streaming.pipeline import (
        correlate_stream,
        run_available_now,
        tx_stream,
    )

    tx = tx_stream(spark, f"{SF_SMOKE}")
    # generous ttl: the fixture's elapsed values must not cross the time
    # bound, so stream results are comparable 1:1 with the (unbounded) batch
    got = run_available_now(
        correlate_stream(tx, ttl="24 hours"), f"{tmpdir}/ckpt_corr",
        query_name="corr_stream",
    ).collect()
    assert len(got) > 0

    batch_tx = load_tx(spark, SF_SMOKE)
    batch = {
        (r["logid"], r["service"]): r
        for r in correlate(entry_leg(batch_tx), exit_leg(batch_tx)).collect()
    }
    for r in got:
        b = batch[(r["logid"], r["service"])]
        assert (r["server"], r["startts"], r["endts"], r["elapsed"], r["matched"]) == (
            b["server"], b["startts"], b["endts"], b["elapsed"], b["matched"]
        )
    # every matched batch row must have been emitted by the stream
    n_matched_batch = sum(1 for b in batch.values() if b["matched"] == "Y")
    n_matched_got = sum(1 for r in got if r["matched"] == "Y")
    assert n_matched_got == n_matched_batch


def test_acct_enrich_stream_matches_batch(spark, tmpdir):
    # J2 stream-stream enrichment vs batch acct_enrich: every emitted row
    # equals its batch twin; all soap-matched rows emit immediately, parked
    # rows (baf/none fallback) emit as the watermark passes.
    from apmbackend_spark.operators.correlation import acct_enrich
    from apmbackend_spark.sources.tx import load_tx
    from apmbackend_spark.streaming.pipeline import (
        acct_enrich_stream,
        run_available_now,
        tx_stream,
    )

    tx = tx_stream(spark, f"{SF_SMOKE}")
    got = run_available_now(
        acct_enrich_stream(tx, ttl="24 hours"), f"{tmpdir}/ckpt_acct",
        query_name="acct_stream",
    ).collect()
    assert len(got) > 0

    batch = {r["logid"]: r for r in acct_enrich(load_tx(spark, SF_SMOKE)).collect()}
    for r in got:
        b = batch[r["logid"]]
        assert (r["service"], r["server"], r["endts"], r["acct"], r["acct_source"]) == (
            b["service"], b["server"], b["endts"], b["acct"], b["acct_source"]
        )
    n_soap_batch = sum(1 for b in batch.values() if b["acct_source"] == "soap")
    n_soap_got = sum(1 for r in got if r["acct_source"] == "soap")
    assert n_soap_got == n_soap_batch


def test_zscore_stateful_resumes_from_checkpoint_across_query_restarts(
    spark, tmpdir
):
    """S7 resume-snapshot semantics under the real mechanism: source
    offsets AND the per-key FIFO state survive a query RESTART. Query 1
    drains delivery 1 and terminates; a brand-new query object on the
    same checkpoint drains deliveries 2-3. The combined sink must equal
    the batch reference exactly — no reprocessed rows, and the restored
    histories must continue the recursion mid-series (any state loss
    would show as a fresh warmup: NULL bounds after the restart point)."""
    from pyspark.sql import functions as F

    from apmbackend_spark.operators.zscore import zscore_recursive
    from apmbackend_spark.streaming.stateful import zscore_stateful

    st = spark.createDataFrame(_zscore_st_rows(), _ST_DDL)
    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"

    def deliver(lo, hi):
        (
            st.where(
                (F.col("timestamp") >= lo * 10_000)
                & (F.col("timestamp") < hi * 10_000)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def drain():
        stream = (
            spark.readStream.schema(_ST_DDL).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            zscore_stateful(stream, lags=(30,), threshold=3.0, influence=0.1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    deliver(0, 50)
    drain()  # query 1 ends after delivery 1
    n_first = spark.read.parquet(out).count()
    assert n_first == 2 * 50
    deliver(50, 90)
    deliver(90, 120)
    drain()  # query 2: NEW query, same checkpoint — must resume, not replay

    got = {
        (r["server"], r["timestamp"]): r for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r["server"], r["timestamp"]): r
        for r in zscore_recursive(st, lags=(30,), threshold=3.0, influence=0.1).collect()
    }
    assert len(got) == len(expect) == 2 * 120  # exactly once, no replays
    _assert_fs_equal(got, expect)
    # the restart fell mid-warmup (50 < ... < 50+30): rows right after the
    # restart DO have bounds, proving the FIFO state was restored (a state
    # loss would re-warm and leave them NULL)
    r = got[("srv0", 60 * 10_000)]
    assert r["averageavg"] is not None


def test_stream_sessions_merges_across_micro_batches(spark, tmpdir):
    """The session-gate's first delivery boundary bisects the largest
    session, so its events arrive in different micro-batches; the drained
    output must still contain that session WHOLE (n_events intact) —
    direct evidence the session state merged across batches."""
    from pyspark.sql import functions as F

    from apmbackend_spark.operators.sessions import sessionize
    from apmbackend_spark.sources.tx import load_tx
    from apmbackend_spark.streaming.topology import (
        SESSIONS_GATE_SLICE_MS,
        SESSIONS_GATE_WATERMARK_MS,
        _session_cuts,
        stream_sessions_gate,
    )
    from tests.conftest import SF_CORRECT

    # sf0.01: the smoke fixture's 24 h slice is too sparse to contain any
    # multi-event session, so the merge scenario only exists at this SF
    tx = load_tx(spark, SF_CORRECT).select("server", "service", "endts", "elapsed")
    lo = int(tx.agg(F.min("endts")).collect()[0][0])
    hi = lo + SESSIONS_GATE_SLICE_MS
    sliced = tx.where(F.col("endts") < hi)
    gap_ms = 5 * 60_000
    c1, _ = _session_cuts(sliced, gap_ms, lo, hi)
    big = (
        sessionize(sliced)
        .where(F.col("n_events") >= 2)
        .orderBy(F.col("n_events").desc(), F.col("session_start"))
        .limit(1)
        .collect()[0]
    )
    # the cut really bisects it: at least one event strictly before c1 and
    # its last event at/after c1
    assert big["session_start"] < c1 <= big["session_end"] - gap_ms

    out = {
        (r["server"], r["service"], r["session_start"]): r["n_events"]
        for r in stream_sessions_gate(spark, SF_CORRECT).collect()
    }
    key = (big["server"], big["service"], big["session_start"])
    hi_wm = int(sliced.agg(F.max("endts")).collect()[0][0]) - SESSIONS_GATE_WATERMARK_MS
    if big["session_end"] <= hi_wm:  # emitted only if watermark-closed
        assert out[key] == big["n_events"]


def test_nearest_stateful_cross_batch_resolutions(spark, tmpdir):
    # Forces every resolution path ACROSS batch boundaries: (a) a pending
    # tx whose winning FORWARD gauge arrives in a later batch, (b) a
    # backward carry from an earlier batch, (c) a tie (d_b == d_f) going
    # backward, (d) an out-of-tolerance tx resolved null by time passing,
    # (e) trailing pendings flushed by the end marker.
    import os

    from pyspark.sql import functions as F

    from apmbackend_spark.streaming.stateful import (
        NEAREST_OUT_SCHEMA,
        nearest_stateful,
    )
    from apmbackend_spark.streaming.topology import (
        NEAREST_STREAM_SCHEMA,
        _run_stage,
        _write_time_deliveries,
    )

    tol = 1000
    rows = [
        # batch 1: [0, 5000)
        ("s1", 1000, 0, None, 10),     # gauge A
        ("s1", 1600, 1, "tie", None),  # d_b=600; gauge B at 2200: d_f=600 tie -> backward A
        ("s1", 1900, 1, "fwd", None),  # d_b=900; gauge B: d_f=300 -> forward B (cross-batch? no, B in b2)
        ("s2", 1000, 1, "null2", None),  # no gauge on s2 ever within tol -> nulls
        # batch 2: [5000, 8000)  (gauge B lands here -> 'fwd' resolves cross-batch... see bounds)
        ("s1", 2200, 0, None, 20),     # gauge B  (batch depends on bounds below)
        ("s1", 6000, 1, "bwd", None),  # d_b=3800 > tol; no later gauge -> nulls
        ("s1", 7500, 1, "tail", None), # pends into the marker flush -> nulls (d_b big)
        # batch 3: [8000, 10002): markers only (written below)
    ]
    # bounds chosen so gauge B (2200) is in the SECOND delivery: tie/fwd
    # pend across the first cut and resolve from state in batch 2.
    bounds = [0, 2000, 8000, 10002]
    df = spark.createDataFrame(rows, NEAREST_STREAM_SCHEMA)
    markers = (
        df.select("server").distinct()
        .select("server", F.lit(10001).alias("ts"), F.lit(2).alias("kind"),
                F.lit(None).cast("string").alias("logid"),
                F.lit(None).cast("long").alias("g_heap"))
    )
    work = str(tmpdir)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")
    _write_time_deliveries(df.unionAll(markers), src, "ts", bounds)

    stream = (
        spark.readStream.schema(NEAREST_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _run_stage(
        nearest_stateful(stream, tol_ms=tol),
        out, os.path.join(work, "ck"), 120,
    )
    got = {
        r["logid"]: (r["gauge_ts"], r["heapused"], r["dist_ms"], r["direction"])
        for r in spark.read.schema(NEAREST_OUT_SCHEMA).parquet(out).collect()
    }
    assert got == {
        "tie": (1000, 10, 600, "b"),    # tie resolves backward, cross-batch
        "fwd": (2200, 20, 300, "f"),    # forward gauge from a LATER batch
        "null2": (None, None, None, None),
        "bwd": (None, None, None, None),  # nearest (backward) out of tol
        "tail": (None, None, None, None),  # marker flush
    }


def test_nearest_stateful_resumes_from_checkpoint_across_query_restarts(
    spark, tmpdir
):
    """S7 resume for the nearest join: query 1 drains delivery 1 (tx rows
    left PENDING in state awaiting a possible closer forward gauge and
    the latest-gauge carry stored); a brand-new query on the same
    checkpoint drains delivery 2 whose gauge must resolve those pendings
    from RESTORED state. Output must match the batch operator exactly —
    state loss would null the cross-restart resolutions."""
    import os

    from pyspark.sql import functions as F

    from apmbackend_spark.operators.correlation import nearest_event_join
    from apmbackend_spark.streaming.stateful import (
        NEAREST_OUT_SCHEMA,
        nearest_stateful,
    )
    from apmbackend_spark.streaming.topology import NEAREST_STREAM_SCHEMA

    tol = 1000
    d1 = [  # gauge at 100; tx at 700 pends (d_b=600, a closer forward could come)
        ("s1", 100, 0, None, 10),
        ("s1", 700, 1, "cross", None),
        ("s1", 750, 1, "cross2", None),
    ]
    d2 = [  # gauge at 1000 resolves both forward (d_f=300/250 < d_b)
        ("s1", 1000, 0, None, 20),
        ("s1", 1600, 1, "late", None),   # backward to the NEW gauge
        ("s1", 9000, 2, None, None),     # end marker flush
    ]
    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"

    def deliver(rows):
        spark.createDataFrame(rows, NEAREST_STREAM_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(NEAREST_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            nearest_stateful(stream, tol_ms=tol)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    deliver(d1)
    drain()
    assert spark.read.schema(NEAREST_OUT_SCHEMA).parquet(out).count() == 0
    deliver(d2)
    drain()  # NEW query object, same checkpoint

    got = {
        r["logid"]: (r["gauge_ts"], r["heapused"], r["dist_ms"], r["direction"])
        for r in spark.read.schema(NEAREST_OUT_SCHEMA).parquet(out).collect()
    }
    assert got == {
        "cross": (1000, 20, 300, "f"),   # resolved ACROSS the restart
        "cross2": (1000, 20, 250, "f"),
        "late": (1000, 20, 600, "b"),
    }
    # and the batch operator agrees value-for-value
    tx = spark.createDataFrame(
        [("cross", "s1", 700, 1), ("cross2", "s1", 750, 1), ("late", "s1", 1600, 1)],
        "logid string, server string, endts long, elapsed long",
    )
    g = spark.createDataFrame(
        [("s1", 100, 10), ("s1", 1000, 20)],
        "server string, timestamp long, heapused long",
    )
    want = {
        r["logid"]: (r["gauge_ts"], r["heapused"], r["dist_ms"], r["direction"])
        for r in nearest_event_join(tx, g, tol_ms=tol).collect()
    }
    assert got == want


def test_stream_hll_equals_batch_gate_across_forced_batches(spark):
    # MAX-merge across 4 forced micro-batch cuts must reproduce the batch
    # sketch bit-for-bit (registers are batch-insensitive), including the
    # __union__ row and both estimator branches
    from apmbackend_spark.operators.textstats import hll_cardinality
    from apmbackend_spark.sources.loaders import load_table
    from apmbackend_spark.streaming.topology import stream_hll_gate
    from tests.conftest import SF_SMOKE

    batch = {r["source"]: r for r in hll_cardinality(
        load_table(spark, SF_SMOKE, "documents")
    ).collect()}
    streamed = {r["source"]: r for r in stream_hll_gate(
        spark, SF_SMOKE, n_shards=4
    ).collect()}
    assert set(batch) == set(streamed)
    for src in batch:
        b, s = batch[src], streamed[src]
        assert (b["n_rows"], b["exact_distinct"], b["v_zero"]) == (
            s["n_rows"], s["exact_distinct"], s["v_zero"]
        ), src
        assert b["est_kind"] == s["est_kind"] and b["est"] == s["est"], src


def test_stream_cms_equals_batch_gate_across_forced_batches(spark):
    # SUM-merge across 4 forced micro-batch cuts must reproduce the batch
    # sketch exactly (CMS merge = element-wise counter addition)
    from apmbackend_spark.operators.profile import heavy_hitters_cms
    from apmbackend_spark.sources.loaders import load_table
    from apmbackend_spark.streaming.topology import stream_cms_gate
    from tests.conftest import SF_SMOKE

    batch = {r["key"]: r for r in heavy_hitters_cms(
        load_table(spark, SF_SMOKE, "events")
    ).collect()}
    streamed = {r["key"]: r for r in stream_cms_gate(
        spark, SF_SMOKE, n_shards=4
    ).collect()}
    assert set(batch) == set(streamed)
    for key in batch:
        b, s = batch[key], streamed[key]
        assert (b["est"], b["exact_n"], b["overestimate"]) == (
            s["est"], s["exact_n"], s["overestimate"]
        ), key


def test_apm_topology_concurrent_equals_sequential_drain(spark, tmpdir):
    """The four stages started as LIVE queries (stages 2-4 consuming while
    stage 1 still produces — the reference's process-per-stage deployment
    shape), flushed in stage order, must produce byte-identical frames to
    the stage-by-stage availableNow drain: append emission is
    watermark-driven, upstream sinks emit in nondecreasing event-time
    order per key, and the stateful stages carry cross-batch state."""
    import os
    import shutil

    from apmbackend_spark.operators.alerts import AlertConfig
    from apmbackend_spark.streaming.topology import (
        run_apm_topology,
        start_apm_topology,
    )

    cfg = AlertConfig(
        hard_max_ms=1.0,
        hard_min_ms=0.0,
        min_tpm=0.0,
        window_size=3,
        required_bad=2,
        cooldown_minutes=5.0,
    )
    ev_dir = f"{tmpdir}/events_src"
    os.makedirs(ev_dir)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{ev_dir}/events.parquet")

    seq = run_apm_topology(spark, ev_dir, f"{tmpdir}/seq", alert_cfg=cfg)
    queries, con = start_apm_topology(
        spark, ev_dir, f"{tmpdir}/con", alert_cfg=cfg
    )
    try:
        # each stage consumes everything its (now stopped) upstream wrote
        for q in queries.values():
            q.processAllAvailable()
            q.stop()
    finally:
        for q in queries.values():
            q.stop()

    def rows(path):
        return sorted(tuple(x) for x in spark.read.parquet(path).collect())

    for stage in ("tx", "st", "fs", "al"):
        assert rows(seq[stage]) == rows(con[stage]), stage
    # and the live run genuinely produced alerts (non-vacuous)
    assert len(rows(con["al"])) > 0
