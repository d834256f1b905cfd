"""The reference's four-process queue topology as chained streaming stages.

The reference deploys parse -> calc_stats -> calc_z_score -> process_alerts
as separate OS processes connected by RabbitMQ queues (apm_config.json:5-12;
queue.js producer/consumer). Here each stage is an independent Structured
Streaming query and the queue between stages is a parquet handoff directory:
the upstream stage's file sink is the downstream stage's file source, which
is exactly the durable-queue contract (at-least-once delivery, consumer
offset tracking via the sink's _spark_metadata + the reader's checkpoint).

The four stages are defined once (``_apm_stages``) and run on one of two
schedules. For live input, ``start_apm_topology`` starts them as four
concurrent queries: micro-batches pipeline through the handoff dirs (or
Kafka topics, swapping format('parquet') for format('kafka')), and each
stage checkpoints and scales its shuffle partitions independently,
matching the reference's process-per-stage deployment and restart
isolation. For bounded input, ``run_apm_topology`` drains them one after
another with availableNow, which brings the same dataflow to quiescence.

Stage map (reference file -> here):
  * stream_parse_transactions.js -> tx_stream (sources/tx.py projection)
  * stream_calc_stats.js         -> window_stats_stream + st projection
  * stream_calc_z_score.js       -> zscore_stateful
  * stream_process_alerts.js     -> alerts_stateful
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from apmbackend_spark.operators.alerts import AlertConfig
from apmbackend_spark.operators.zscore import fs_schema, st_from_window_stats
from apmbackend_spark.streaming.pipeline import tx_stream, window_stats_stream
from apmbackend_spark.streaming.stateful import alerts_stateful, zscore_stateful

TX_HANDOFF_SCHEMA = (
    "logid string, server string, service string, acctnum long, "
    "startts long, endts long, elapsed long, toplevel string"
)

ST_HANDOFF_SCHEMA = (
    "timestamp long, server string, service string, tpm double, "
    "average double, per75 double, per95 double"
)


APM_STAGES = ("tx", "st", "fs", "al")


def _apm_stages(
    spark: SparkSession,
    events_dir: str,
    src: dict[str, str],
    *,
    lags,
    threshold: float,
    influence: float,
    alert_cfg: AlertConfig,
    watermark: str,
    endts_before: int | None,
    wire: bool,
) -> list[tuple[str, "DataFrame", str]]:
    """The four APM stages, defined once for every runner: a list of
    (name, streaming DataFrame, sink format) in stage order.

    ``src`` maps each downstream stage ('st', 'fs', 'al') to the directory
    it reads: the upstream stage's sink for the file topology, a broker
    spool for the broker gate. Those directories are created here, so a
    consumer may start before its producer has written anything.
    ``endts_before`` bounds stage 1 to tx with endts below it. ``wire=True``
    runs the tx, st and fs handoffs through the reference's queue wire
    protocol (sources/queue.py): the producer encodes its records to
    pipe-delimited entry lines sunk as text, the consumer decodes the line
    stream. The codecs are pure column projections, so the stage plans are
    the same apart from the encode/decode expressions riding sink and
    source."""
    import os

    from apmbackend_spark.sources import queue as qu

    for d in src.values():
        os.makedirs(d, exist_ok=True)

    def read(stage: str, schema: str, decode) -> "DataFrame":
        if wire:
            return decode(spark.readStream.text(src[stage]))
        return spark.readStream.schema(schema).parquet(src[stage])

    # stage 1 — parse: raw events -> normalized tx records
    tx = tx_stream(spark, events_dir)
    if endts_before is not None:
        tx = tx.where(F.col("endts") < int(endts_before))
    tx = tx.select(
        "logid", "server", "service", "acctnum",
        "startts", "endts", "elapsed", "toplevel",
    )
    # stage 2 — calc_stats: sliding-window st records (watermark-closed only)
    tx_in = read("st", TX_HANDOFF_SCHEMA, qu.wire_to_tx).withColumn(
        "endtime", F.timestamp_millis(F.col("endts"))
    )
    st = st_from_window_stats(window_stats_stream(tx_in, watermark=watermark))
    # stage 3 — calc_z_score: per-key recursive detector with store-backed
    # history
    fs = zscore_stateful(
        read("fs", ST_HANDOFF_SCHEMA, qu.wire_to_st),
        lags=lags, threshold=threshold, influence=influence,
    )
    # stage 4 — process_alerts: predicates + debounce + cooldown
    al = alerts_stateful(read("al", fs_schema(), qu.wire_to_fs), alert_cfg)
    if wire:
        # the st wire form is lossless here: the stat metrics are
        # round(.., 0) integer-valued and tpm is a <=2-decimal decimal, so
        # nf's fixed-point rendering parses back to the identical doubles
        tx, st, fs = qu.tx_to_wire(tx), qu.st_to_wire(st), qu.fs_to_wire(fs)
    fmt = "text" if wire else "parquet"
    return [
        ("tx", tx, fmt), ("st", st, fmt), ("fs", fs, fmt), ("al", al, "parquet")
    ]


def _writer(stream_df, fmt: str, path: str, ckpt: str):
    return (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )


def _run_stage(
    stream_df, path: str, ckpt: str, timeout_s: int, fmt: str = "parquet"
) -> None:
    q = _writer(stream_df, fmt, path, ckpt).trigger(availableNow=True).start()
    finished = q.awaitTermination(timeout_s)
    if not finished:
        # A timed-out stage has a half-written handoff dir; the next stage
        # would silently read it as complete. Fail loudly instead.
        q.stop()
        raise TimeoutError(
            f"streaming stage writing {path!r} did not drain within {timeout_s}s"
        )


def _file_topology(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    alert_cfg: AlertConfig | None,
    **stage_kw,
):
    """The sink directory per stage, and the stages reading each other's
    sinks: the file-handoff topology both schedules run."""
    dirs = {name: f"{work_dir}/{name}" for name in APM_STAGES}
    stages = _apm_stages(
        spark,
        events_dir,
        {down: dirs[up] for up, down in zip(APM_STAGES, APM_STAGES[1:])},
        alert_cfg=alert_cfg or AlertConfig(),
        **stage_kw,
    )
    return dirs, stages


def run_apm_topology(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    lags=(30,),
    threshold: float = 3.0,
    influence: float = 0.1,
    alert_cfg: AlertConfig | None = None,
    watermark: str = "60 seconds",
    timeout_s: int = 300,
    endts_before: int | None = None,
    wire: bool = False,
) -> dict[str, str]:
    """Drain the full four-stage pipeline over everything in ``events_dir``,
    one stage at a time with availableNow: the bounded-input schedule.
    Returns the handoff directory per stage ('tx', 'st', 'fs', 'al').
    ``endts_before`` optionally bounds stage 1 to tx with endts below it (a
    stateless stream filter — used by the graded gate to keep the drained
    volume span-bounded).

    ``wire=True`` runs every inter-stage handoff THROUGH the reference's
    queue wire protocol (see ``_apm_stages``) — exactly the
    transactions -> stats -> z_score -> db_insert queue legs of the
    reference's 4-process topology (config/apm_config.json:87-114), with
    the handoff directory standing in for the broker."""
    dirs, stages = _file_topology(
        spark, events_dir, work_dir, alert_cfg, lags=lags,
        threshold=threshold, influence=influence, watermark=watermark,
        endts_before=endts_before, wire=wire,
    )
    for name, df, fmt in stages:
        _run_stage(df, dirs[name], f"{work_dir}/ckpt_{name}", timeout_s, fmt)
    return dirs


def start_apm_topology(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    lags=(30,),
    threshold: float = 3.0,
    influence: float = 0.1,
    alert_cfg: AlertConfig | None = None,
    watermark: str = "60 seconds",
) -> tuple[dict, dict[str, str]]:
    """Start the same four stages as live streaming queries — the
    reference's process-per-stage deployment, each stage consuming its
    upstream's sink while upstream still produces — and return
    ``(queries, dirs)``, both keyed by stage name. Nothing is drained:
    the caller owns the queries (flush them in stage order with
    ``processAllAvailable``, then stop them). Every query runs Spark's
    default trigger, the next micro-batch starting as soon as the last
    one ends.

    A flushed run equals ``run_apm_topology``'s drain frame for frame:
    append emission is watermark-driven — a pure function of the data,
    not of batching — upstream sinks emit windows in nondecreasing
    event-time order per key, and the file sink/source handoff is
    exactly-once via the sink's _spark_metadata log."""
    dirs, stages = _file_topology(
        spark, events_dir, work_dir, alert_cfg, lags=lags,
        threshold=threshold, influence=influence, watermark=watermark,
        endts_before=None, wire=False,
    )
    queries = {}
    try:
        for name, df, fmt in stages:
            queries[name] = _writer(
                df, fmt, dirs[name], f"{work_dir}/ckpt_{name}"
            ).start()
    except BaseException:
        for q in queries.values():
            q.stop()
        raise
    return queries, dirs


def stream_topology_gate(
    spark: SparkSession,
    sf_dir: str,
    lags=(60,),
    threshold: float = 3.0,
    influence: float = 0.1,
    watermark: str = "60 seconds",
    slice_ms: int | None = 48 * 3600 * 1000,
    shuffle_partitions: int = 8,
    wire: bool = False,
) -> "DataFrame":
    """Driver-gradeable batch/stream parity query: drain the full
    availableNow topology over the fixture's events and return the
    fs-stage sink as a batch DataFrame. With ``wire=True`` every stage
    handoff rides the queue wire protocol (see run_apm_topology) and the
    returned frame is the DECODED fs line sink — what the db_insert
    consumer reads off the insert queue (nf-quantized floats, recovered
    signal ints).

    Determinism contract (what makes this hash-gradeable): append-mode
    emission is windows whose end <= final watermark = max(event time) -
    watermark delay — a pure function of the data, independent of how the
    source batched the files — and the fs stage consumes the st handoff in
    one availableNow batch sorted per key by timestamp, so the stateful
    z-score scan (zscore_step arithmetic, incl. influence damping) sees
    the same event-time order the oracle replays.

    ``slice_ms`` bounds the drained stream to the first N hours of events
    (default 48 h): the per-key st series length — and with it both the
    Python stateful scan and the oracle's recursion depth — is span-bound,
    not volume-bound, so an unsliced gate would cost the same minutes at
    every sf while adding no semantic coverage."""
    import os
    import tempfile

    from apmbackend_spark.sources.tx import load_tx

    import atexit
    import shutil

    work = tempfile.mkdtemp(prefix="apm_topology_gate_")
    # handoff dirs + checkpoints are data-sized; reclaim at interpreter exit
    # (the returned DataFrame reads the fs sink until the caller collects)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    ev_dir = os.path.join(work, "events_src")
    os.makedirs(ev_dir)
    # the file stream wants a directory containing only the events table
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(ev_dir, "events.parquet"),
    )
    endts_before = None
    if slice_ms is not None:
        # one cheap batch scan for the slice bound (min endts + slice)
        lo = load_tx(spark, sf_dir).agg(F.min("endts")).collect()[0][0]
        endts_before = int(lo) + int(slice_ms)
    # The gate's drained volume is span-bounded (|keys| x slice hours), but
    # the session's shuffle default scales with the session, not the data:
    # one partition per CPU under get_spark, 200 in a vanilla session. Each
    # partition is a state store instance per stateful operator per
    # micro-batch, mostly empty at this volume, so pin the shuffle to the
    # bounded key volume for the drain and restore it after. (Partitioning
    # never changes results — every stage is key-hashed.)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        dirs = run_apm_topology(
            spark,
            ev_dir,
            os.path.join(work, "topo"),
            lags=lags,
            threshold=threshold,
            influence=influence,
            watermark=watermark,
            endts_before=endts_before,
            wire=wire,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if wire:
        from apmbackend_spark.sources import queue as qu

        return qu.wire_to_fs(spark.read.text(dirs["fs"]))
    return spark.read.schema(fs_schema()).parquet(dirs["fs"])


def _write_time_deliveries(df, src: str, ts_col: str, bounds: list[int]) -> None:
    """Write ``df`` as ``len(bounds)-1`` time-consecutive parquet deliveries
    into ``src``, stamping each delivery's data files with strictly
    increasing mtimes: FileStreamSource picks files up in MODIFICATION-TIME
    order, and rapid appends can land with equal (second-granularity on
    some filesystems) timestamps, letting a later delivery's batch run
    first. With explicit stamps the processing order IS the write order."""
    import os

    delivery_t0 = None
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        (
            df.where((F.col(ts_col) >= a) & (F.col(ts_col) < b))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        for name in set(os.listdir(src)) - before:
            if name.startswith((".", "_")):
                continue  # metadata files are ignored by the source
            path = os.path.join(src, name)
            if delivery_t0 is None:
                delivery_t0 = os.stat(path).st_mtime
            os.utime(path, (delivery_t0 + 10 * i, delivery_t0 + 10 * i))


# ---------------------------------------------------------------------------
# Bounded-state influence z-score drain gate (the zscore_recursive scale path).
# ---------------------------------------------------------------------------

# 12 h grid: the oracle's recursion depth (and the drain volume) is
# span-bound — keys x 4320 slots x |lags| covers warmup, damping, nulls and
# two cross-batch state carries per key with no extra semantics beyond that.
ZS_DRAIN_SLICE_MS = 12 * 3600 * 1000


def zscore_stateful_drain_gate(
    spark: SparkSession,
    sf_dir: str,
    lags=(60, 360),
    threshold: float = 3.0,
    influence: float = 0.1,
    n_deliveries: int = 3,
    slice_ms: int = ZS_DRAIN_SLICE_MS,
    shuffle_partitions: int = 8,
    timeout_s: int = 300,
) -> "DataFrame":
    """Graded BOUNDED-STATE form of the influence-damped z-score (A9).

    ``zscore_recursive`` grades the exact reference semantics but scans a
    key's WHOLE series inside one task — the form you would not run at
    100x retention. This gate grades the scale path itself: the dense
    steady-state st grid arrives as ``n_deliveries`` time-consecutive
    parquet deliveries (one micro-batch each via maxFilesPerTrigger);
    `zscore_stateful` scans each batch per key in timestamp order with its
    FIFO histories persisted in the STATE STORE across batches — per-key
    state is O(|lags| x |metrics| x max(lag)) values, independent of
    series length, and per-task input is one micro-batch, not one series.
    The delivery cuts land mid-series (on a dense grid every key spans all
    deliveries), so the cross-batch state carry is genuinely forced.

    Graded against the recursive ``zscore_step`` DuckDB oracle over the
    same dense grid — the same exactness contract as ``stream_topology``'s
    fs stage, here at the graded z-score family's own lags (60, 360) and
    input grid. Reference semantics: stream_calc_z_score.js:66-104
    (:96-97 influence damping)."""
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.operators.zerofill import st_zerofill_dense
    from apmbackend_spark.sources.tx import load_tx

    work = tempfile.mkdtemp(prefix="apm_zs_drain_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")

    # The dense-grid chain (winstats + zero-fill) would otherwise recompute
    # once for the bounds probe and once PER delivery filter below; pin the
    # small materialized grid so the chain runs exactly once.
    st = st_zerofill_dense(
        load_tx(spark, sf_dir), slice_ms=int(slice_ms)
    ).localCheckpoint()
    lo, hi = st.agg(F.min("timestamp"), F.max("timestamp")).collect()[0]
    lo, hi = int(lo), int(hi) + 1
    step = max((hi - lo) // int(n_deliveries), 1)
    bounds = [lo + k * step for k in range(int(n_deliveries))] + [hi]
    _write_time_deliveries(st, src, "timestamp", bounds)

    stream = (
        spark.readStream.schema(ST_HANDOFF_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fs = zscore_stateful(
        stream, lags=lags, threshold=threshold, influence=influence
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        _run_stage(fs, out, os.path.join(work, "ck"), timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(fs_schema()).parquet(out)


# ---------------------------------------------------------------------------
# Streaming corpus ingest gate: multi-delivery dedup-index build.
# ---------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _drain_sharded_agg(
    spark: SparkSession,
    rows: "DataFrame",
    shard_col: str,
    schema,
    agg_builder,
    n_shards: int,
    shuffle_partitions: int,
    prefix: str,
) -> "DataFrame":
    """Shared scaffold for the shard-delivery streaming gates: stage
    ``rows`` as ``n_shards`` parquet deliveries (``shard_col % n_shards``),
    stream them one micro-batch per file, run ``agg_builder(stream)`` —
    which must be a batch-insensitive aggregation (max/sum/min/count
    merges) — in complete mode with state carried between deliveries, and
    return the drained sink. Factored from the corpus/hll/cms gates so
    the drain mechanics (tempdir lifetime, delivery sharding, state-store
    width, conf restore) live once.

    The staged copy + sink + checkpoint are corpus-sized; reclaimed at
    interpreter exit (the returned DataFrame reads the sink until the
    caller collects, so an eager delete would break grading). The
    shuffle-partitions pin is the span-bounded sizing rationale of
    stream_topology_gate: tiny aggregations make default-width state
    stores pure overhead."""
    import atexit
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    for i in range(n_shards):
        rows.where(F.col(shard_col) % n_shards == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = agg_builder(stream)

    def sink(df, _bid):
        df.write.mode("overwrite").parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out)


def stream_corpus_gate(
    spark: SparkSession, sf_dir: str, n_shards: int = 3,
    shuffle_partitions: int = 8,
) -> "DataFrame":
    """Driver-gradeable streaming LLM-pipeline query: the documents table
    arrives as ``n_shards`` separate parquet deliveries (maxFilesPerTrigger=1
    forces one micro-batch per delivery), and a streaming aggregation builds
    the exact-dedup fingerprint index incrementally across batches —
    (fingerprint, first doc_id, duplicate count) — with state carried in the
    state store between deliveries. The drained result equals the batch
    dedup rollup, which is the oracle.

    Determinism contract: the aggregate is (MIN doc_id, COUNT) per
    fingerprint — order-insensitive, so the result is a pure function of
    the corpus regardless of how files batch.

    Scale note: complete-output here is GATE plumbing (the final micro-batch
    rewrites the small index sink each trigger). The production path at
    corpus scale is update-mode into an upsert/Delta sink, or the batch
    dedup operators over the lake — the per-batch state-store mechanics
    exercised here are identical.
    """
    from apmbackend_spark.functions.text import hash64
    from apmbackend_spark.sources.loaders import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return _drain_sharded_agg(
        spark,
        docs,
        "doc_id",
        DOCS_STREAM_SCHEMA,
        lambda stream: (
            stream.select(hash64(F.col("text")).alias("fingerprint"), "doc_id")
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("keep_id"),
                F.count(F.lit(1)).alias("n_dups"),
            )
        ),
        n_shards,
        shuffle_partitions,
        "apm_corpus_gate_",
    )


def stream_corpus_gate_oracle_sql() -> str:
    from apmbackend_spark.functions.text import hash64_sql

    return f"""
SELECT {hash64_sql("text")} AS fingerprint,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents
GROUP BY fingerprint
"""


def stream_cms_gate(
    spark: SparkSession, sf_dir: str, n_shards: int = 3,
    shuffle_partitions: int = 8,
) -> "DataFrame":
    """Streaming count-min sketch: the events table arrives as
    ``n_shards`` micro-batch deliveries and the (seed, bucket) counter
    rollup of `heavy_hitters_cms` lives in the STATE STORE — counters are
    SUMS, so per-delivery partial sketches merge exactly (the CMS merge
    property: element-wise addition), and the drained sketch is a pure
    function of the corpus regardless of batching. The post-drain finish
    probes the drained counters with the shared `cms_finish`, so the
    result — and the oracle — is IDENTICAL to the batch gate's.

    This is the sibling of `stream_hll` (MAX-merge registers); together
    they grade the two sketch merge algebras a continuous-ingest pipeline
    runs: max-merge (distinct count) and sum-merge (frequency). State is
    O(depth x width) whatever the key cardinality or retention."""
    from apmbackend_spark.operators.profile import cms_finish, cms_hashed
    from apmbackend_spark.sources.loaders import load_table
    from apmbackend_spark.streaming.pipeline import EVENTS_STREAM_SCHEMA

    events = load_table(spark, sf_dir, "events")
    drained = _drain_sharded_agg(
        spark,
        events,
        "event_id",
        EVENTS_STREAM_SCHEMA,
        lambda stream: (
            cms_hashed(stream.select(F.col("user_id").alias("key")))
            .groupBy("seed", "bucket")
            .agg(F.count(F.lit(1)).alias("counter"))
        ),
        n_shards,
        shuffle_partitions,
        "apm_cms_gate_",
    )
    return cms_finish(drained, events.select(F.col("user_id").alias("key")))


def stream_cms_gate_oracle_sql() -> str:
    from apmbackend_spark.operators.profile import heavy_hitters_cms_oracle_sql

    return heavy_hitters_cms_oracle_sql()


def stream_hll_gate(
    spark: SparkSession, sf_dir: str, n_shards: int = 3,
    shuffle_partitions: int = 8,
) -> "DataFrame":
    """Streaming HyperLogLog: the documents table arrives as ``n_shards``
    micro-batch deliveries and the (source, bucket) -> MAX(rho) register
    rollup of `hll_cardinality` lives in the STATE STORE, merging each
    delivery's registers by per-bucket max — the sketch-mergeability
    property exercised where it matters at 100 TB: continuous ingest,
    distinct-count maintained with O(sources x m) state and NO distinct
    keys ever stored. After the drain, the shared `hll_finish` computes
    the estimates from the drained registers (exact reference counts from
    a batch read of the staged corpus), so the result — and therefore the
    oracle — is IDENTICAL to the batch gate's: MAX is batch-insensitive,
    making the streamed sketch a pure function of the corpus.

    Scale note: complete-mode + parquet overwrite is gate plumbing for the
    tiny register sink (sources x 64 rows); production updates a KV/Delta
    register table. The state-store mechanics are the production ones."""
    from apmbackend_spark.operators.textstats import (
        hll_finish,
        hll_registers,
        hll_rows,
    )
    from apmbackend_spark.sources.loaders import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    drained = _drain_sharded_agg(
        spark,
        docs,
        "doc_id",
        DOCS_STREAM_SCHEMA,
        lambda stream: hll_registers(hll_rows(stream)),
        n_shards,
        shuffle_partitions,
        "apm_hll_gate_",
    )
    return hll_finish(drained, hll_rows(docs))


def stream_hll_gate_oracle_sql() -> str:
    from apmbackend_spark.operators.textstats import hll_cardinality_oracle_sql

    return hll_cardinality_oracle_sql()


# ---------------------------------------------------------------------------
# Streaming session windows gate: native session_window + watermark with
# cross-micro-batch session merging.
# ---------------------------------------------------------------------------

SESSIONS_GATE_SLICE_MS = 24 * 3600 * 1000
SESSIONS_GATE_WATERMARK_MS = 60_000


def _session_cuts(sliced, gap_ms: int, lo: int, hi: int) -> list[int]:
    """Two delivery boundaries, the FIRST placed strictly inside the
    largest multi-event session (cut = its last event's time, which is
    session_end - gap), so at least one session's events split across
    micro-batches and the state store MUST merge them — equal time slicing
    on a sparse fixture never splits a session, leaving the merge path
    untested. Deterministic: largest session, ties broken by earliest
    start; collect is a single row."""
    from apmbackend_spark.operators.sessions import sessionize

    big = (
        sessionize(sliced, gap_minutes=gap_ms / 60_000.0)
        .where(F.col("n_events") >= 2)
        .orderBy(F.col("n_events").desc(), F.col("session_start"))
        .limit(1)
        .collect()
    )
    if big:
        c1 = int(big[0]["session_end"]) - gap_ms  # last event's endts
        c1 = max(lo + 1, min(c1, hi - 2))
    else:  # degenerate corpus: fall back to thirds
        c1 = lo + (hi - lo) // 3
    c2 = c1 + max((hi - c1) // 2, 1)
    return [c1, c2]


def stream_sessions_gate(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: float = 5.0,
    slice_ms: int = SESSIONS_GATE_SLICE_MS,
    shuffle_partitions: int = 8,
) -> "DataFrame":
    """Driver-gradeable rendering of Spark's NATIVE streaming session
    windows (`F.session_window` + watermark): the sliced tx stream arrives
    as three time-consecutive parquet deliveries (one micro-batch each via
    maxFilesPerTrigger), with the first boundary placed INSIDE the largest
    session (see ``_session_cuts``) so that session's events straddle
    micro-batches and MERGE in the state store — the stateful behavior a
    batch run never exercises. Append mode emits a
    session once the watermark passes its end (last event + gap), so the
    drained sink is the deterministic set

        sessions with session_end <= max(event time) - watermark delay

    which the DuckDB island-detection oracle reproduces exactly (same
    gap-merge recurrence as the batch `sessionize` oracle, plus the
    final-watermark filter). Time-consecutive deliveries keep every event
    ahead of the watermark — nothing is late, so emission is a pure
    function of the data, not of batching.

    Scale: session state is per (key, open session) and watermark-evicted;
    shuffle sized to the bounded key volume for the drain (same rationale
    as the other availableNow gates)."""
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.sources.tx import load_tx

    gap_ms = int(round(gap_minutes * 60_000))
    work = tempfile.mkdtemp(prefix="apm_sessions_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")

    tx = load_tx(spark, sf_dir).select("server", "service", "endts", "elapsed")
    lo = tx.agg(F.min("endts")).collect()[0][0]
    hi = int(lo) + int(slice_ms)
    sliced = tx.where(F.col("endts") < hi)
    bounds = [int(lo)] + _session_cuts(sliced, gap_ms, int(lo), hi) + [hi]
    _write_time_deliveries(sliced, src, "endts", bounds)

    stream = (
        spark.readStream.schema(
            "server string, service string, endts long, elapsed long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("et", F.timestamp_millis(F.col("endts")))
        .withWatermark("et", f"{SESSIONS_GATE_WATERMARK_MS // 1000} seconds")
    )
    agg = (
        stream.groupBy(
            F.session_window("et", f"{gap_ms} milliseconds"), "server", "service"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("elapsed").alias("sum_elapsed"),
        )
        .select(
            "server",
            "service",
            F.unix_millis(F.col("session_window.start")).alias("session_start"),
            F.unix_millis(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "sum_elapsed",
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("session gate did not drain in 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(
        "server string, service string, session_start long, session_end long, "
        "n_events long, sum_elapsed long"
    ).parquet(out)


def stream_sessions_oracle_sql(
    gap_minutes: float = 5.0, slice_ms: int = SESSIONS_GATE_SLICE_MS
) -> str:
    from apmbackend_spark.operators.sessions import sessionize_oracle_ctes
    from apmbackend_spark.operators.zerofill import tx_sliced_sql
    from apmbackend_spark.sources.tx import TX_CTE

    return (
        TX_CTE
        + ", tx_sliced AS ("
        + tx_sliced_sql(slice_ms)
        + ")"
        + sessionize_oracle_ctes(gap_minutes).replace("FROM tx", "FROM tx_sliced")
        + f"""
SELECT * FROM sessions
WHERE session_end <= (SELECT MAX(endts) FROM tx_sliced) - {SESSIONS_GATE_WATERMARK_MS}
"""
    )


# ---------------------------------------------------------------------------
# Streaming funnel gate: cross-batch sequential-pattern state.
# ---------------------------------------------------------------------------

EVENTS_STREAM_SCHEMA = (
    "user_id long, event_id long, event_type string, ts_us long"
)


def stream_funnel_gate(
    spark: SparkSession,
    sf_dir: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    n_deliveries: int = 3,
    shuffle_partitions: int = 8,
    timeout_s: int = 300,
) -> "DataFrame":
    """Graded BOUNDED-STATE form of the ordered funnel
    (``operators/sessions.funnel_steps``): the events table arrives as
    ``n_deliveries`` time-consecutive parquet deliveries (one micro-batch
    each); ``funnel_stateful`` advances each user's stage pointer with its
    (stage, t1..tk) state persisted in the STATE STORE across batches.
    The time cuts land mid-sequence — a user whose 'view' sits in batch 1
    and 'click' in batch 2 converts ONLY if the cross-batch state carry
    works — and the final per-user rows are graded against the SAME
    DuckDB oracle as the batch operator (the two forms must agree
    exactly).

    The final row per user is the max-``n_seen`` emission (unique:
    n_seen strictly increases across the batches containing the key).
    """
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.streaming.stateful import funnel_stateful

    work = tempfile.mkdtemp(prefix="apm_funnel_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")

    from apmbackend_spark.sources.loaders import load_table

    # load_table, not a bare read: the fixture's ts must come back as
    # TIMESTAMP (a vanilla driver session infers TIMESTAMP_NTZ, on which
    # unix_micros does not resolve)
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .localCheckpoint()  # one scan for the bounds probe + all deliveries
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    lo, hi = int(lo), int(hi) + 1
    step = max((hi - lo) // int(n_deliveries), 1)
    bounds = [lo + j * step for j in range(int(n_deliveries))] + [hi]
    _write_time_deliveries(ev, src, "ts_us", bounds)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    folded = funnel_stateful(stream, steps)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        _run_stage(folded, out, os.path.join(work, "ck"), timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    k = len(steps)
    emitted = spark.read.parquet(out)
    final = emitted.groupBy("user_id").agg(
        F.max_by(
            F.struct("stage", *[f"t{i+1}" for i in range(k)]), F.col("n_seen")
        ).alias("f")
    )
    return final.select(
        "user_id",
        F.col("f.stage").alias("stage"),
        *[F.col(f"f.t{i+1}").alias(f"t{i+1}") for i in range(k)],
    )


# ---------------------------------------------------------------------------
# Streaming decayed-counter gate: exact integer state across micro-batches.
# ---------------------------------------------------------------------------


def stream_decayed_gate(
    spark: SparkSession,
    sf_dir: str,
    n_deliveries: int = 3,
    shuffle_partitions: int = 8,
) -> "DataFrame":
    """Graded STREAMING form of ``operators/sessions.decayed_counts``: the
    events table arrives as ``n_deliveries`` time-consecutive deliveries
    (one micro-batch each) and a streaming aggregation maintains each
    (user_id, event_type) counter incrementally in the state store — the
    serving-side shape where engagement features update as traffic lands,
    instead of a nightly batch rescan.

    The dyadic-integer design is what makes this gradeable at all: each
    batch adds exact powers of two into a BIGINT state slot, so the merged
    cross-batch state is bit-identical to the one-shot batch aggregate —
    the gate grades against the SAME DuckDB oracle as the batch operator.
    Every per-key time cut lands mid-history (users span the whole month),
    so two of three deliveries MERGE into existing state rather than
    creating it.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.operators.sessions import (
        DECAY_ASOF_US,
        DECAY_SCALE,
    )
    from apmbackend_spark.sources.loaders import load_table

    work = tempfile.mkdtemp(prefix="apm_decayed_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .localCheckpoint()  # one scan: bounds probe + all deliveries
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    lo, hi = int(lo), int(hi) + 1
    step = max((hi - lo) // int(n_deliveries), 1)
    bounds = [lo + j * step for j in range(int(n_deliveries))] + [hi]
    _write_time_deliveries(ev, src, "ts_us", bounds)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {DECAY_SCALE} - CAST(LEAST("
        f"({DECAY_ASOF_US} - ts_us) div 86400000000, {DECAY_SCALE}) AS INT))"
    )
    counters = (
        stream.where(F.col("ts_us") <= F.lit(DECAY_ASOF_US))
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts_us").alias("max_us"),
            F.sum(w).alias("sw"),
        )
    )

    def sink(df, _bid):
        df.write.mode("overwrite").parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            counters.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    final = spark.read.parquet(out)
    return final.select(
        "user_id",
        "event_type",
        "n_events",
        F.expr("max_us div 1000").alias("last_seen_ms"),
        (
            F.col("sw").cast("double") / F.lit(float(1 << DECAY_SCALE))
        ).alias("decayed"),
    )


# ---------------------------------------------------------------------------
# Streaming nearest-event join drain gate (the last batch-only join family
# ported to a stateful form).
# ---------------------------------------------------------------------------

NEAREST_STREAM_SCHEMA = (
    "server string, ts long, kind int, logid string, g_heap long"
)


def stream_nearest_gate(
    spark: SparkSession,
    sf_dir: str,
    tol_ms: int = 100_000,
    n_deliveries: int = 3,
    shuffle_partitions: int = 8,
    timeout_s: int = 300,
) -> "DataFrame":
    """Graded STREAMING form of the nearest-gauge temporal join.

    The batch gate (``nearest_event_join``) windows over (server,
    time-slice); here the same semantics run incrementally: gauges and tx
    arrive interleaved as ``n_deliveries`` time-consecutive parquet
    deliveries (one micro-batch each), and ``nearest_stateful`` carries
    the latest gauge plus the tolerance-bounded pending-tx buffer through
    the state store across batches. Delivery cuts land mid-stream, so
    both cross-batch carries are genuinely forced: a tx whose backward
    gauge arrived in an earlier batch, AND a pending tx whose resolving
    forward gauge arrives in a LATER batch. A final end-marker row per
    server (the stream's closure signal) flushes trailing pendings
    backward-or-null.

    Graded against the SAME DuckDB double-ASOF oracle as the batch gate —
    the stream and batch forms must agree value-for-value (gauges
    sparsified to every 3rd minute so both directions and tolerance
    nulls are exercised)."""
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.operators.zerofill import jmx_gauges
    from apmbackend_spark.sources.tx import load_tx
    from apmbackend_spark.streaming.stateful import (
        NEAREST_OUT_SCHEMA,
        nearest_stateful,
    )

    work = tempfile.mkdtemp(prefix="apm_nearest_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src, out = os.path.join(work, "src"), os.path.join(work, "out")

    tx = load_tx(spark, sf_dir)
    g = jmx_gauges(tx).where(F.col("timestamp") % 180000 == 0)
    rows = (
        g.select(
            "server",
            F.col("timestamp").alias("ts"),
            F.lit(0).alias("kind"),
            F.lit(None).cast("string").alias("logid"),
            F.col("heapused").cast("long").alias("g_heap"),
        )
        .unionAll(
            tx.select(
                "server",
                F.col("endts").alias("ts"),
                F.lit(1).alias("kind"),
                "logid",
                F.lit(None).cast("long").alias("g_heap"),
            )
        )
        .localCheckpoint()
    )
    lo, hi = rows.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo, hi = int(lo), int(hi)
    markers = (
        rows.select("server")
        .distinct()
        .select(
            "server",
            F.lit(hi + 1).alias("ts"),
            F.lit(2).alias("kind"),
            F.lit(None).cast("string").alias("logid"),
            F.lit(None).cast("long").alias("g_heap"),
        )
    )
    # markers ride the LAST delivery (ts = hi + 1 < last bound hi + 2)
    full = rows.unionAll(markers)
    step = max((hi + 2 - lo) // int(n_deliveries), 1)
    bounds = [lo + k * step for k in range(int(n_deliveries))] + [hi + 2]
    _write_time_deliveries(full, src, "ts", bounds)

    stream = (
        spark.readStream.schema(NEAREST_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = nearest_stateful(stream, tol_ms=tol_ms)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        _run_stage(joined, out, os.path.join(work, "ck"), timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(NEAREST_OUT_SCHEMA).parquet(out)


# ---------------------------------------------------------------------------
# The topology composed OVER the real ack/redelivery broker: the tx ->
# calc_stats boundary rides the TCP mini-broker, crash included.
# ---------------------------------------------------------------------------

TOPO_BROKER_SLICE_MS = 12 * 3600 * 1000


def _broker_hop(
    spark, brk, queue: str, src_dir: str, spool_dir: str, lose_if
) -> None:
    """One stage boundary over the broker: publish every line of
    ``src_dir`` into ``queue`` executor-side, consumer session 1 crashes
    mid-stream under the atomic spool-then-ack contract (payloads the
    content-keyed ``lose_if`` predicate condemns are neither handed off
    nor acked — evaluated per message as it streams, no membership set),
    session 2 — the restarted process — recovers exactly the broker's
    unacked set via REAL redelivery, and a PEND settlement check proves
    the queue drains to empty. The spool directory is the downstream
    stage's source."""
    import os

    wire = spark.read.text(src_dir).localCheckpoint()
    os.makedirs(spool_dir, exist_ok=True)
    wire.foreachPartition(brk._publish_partition_fn(queue))
    n_wire = wire.count()
    n_pub = brk.broker.message_count(queue)
    if n_pub != n_wire:
        raise RuntimeError(
            f"{queue}: published {n_pub} != {n_wire} wire lines "
            "(task retry double-publish?)"
        )
    n1, pend1 = brk.consume(
        queue,
        os.path.join(spool_dir, "session1.txt"),
        ack_if=lambda p: not lose_if(p),
        spool_acked_only=True,
    )
    n2, pend2 = brk.consume(queue, os.path.join(spool_dir, "session2.txt"))
    if n1 != n_wire:
        raise RuntimeError(
            f"{queue}: session 1 saw {n1} of {n_wire} published messages"
        )
    if pend1 != n2:
        raise RuntimeError(
            f"{queue}: redelivery mismatch: {pend1} unacked, "
            f"{n2} redelivered"
        )
    if pend2 != 0:
        raise RuntimeError(
            f"{queue}: broker holds {pend2} unacked after recovery session"
        )


class _BrokerHandle:
    """Tiny facade bundling one MiniBroker with the publish/consume
    helpers bound to its port (keeps _broker_hop free of port plumbing)."""

    def __init__(self) -> None:
        from apmbackend_spark.sources import broker as brkmod

        self._mod = brkmod
        self.broker = brkmod.MiniBroker()

    def _publish_partition_fn(self, queue: str):
        return self._mod._publish_partition(self.broker.port, queue)

    def consume(self, queue: str, spool: str, **kw):
        return self._mod._consume_session(
            self.broker.port, spool, queue=queue, **kw
        )

    def close(self) -> None:
        self.broker.close()


# Alert config for the broker-composed topology's process_alerts stage:
# tuned so every predicate class fires on the 12 h lag-60 fs frame
# (hard-max on the latency tail, the override rebasing 'error',
# both-signals past the floors, 'click' suppressed) while the debounce
# (6/3) and the 60-min cooldown both do real work at fixture scale.
TOPO_BROKER_ALERT_CFG = AlertConfig(
    hard_max_ms=20000.0,
    hard_min_ms=200.0,
    min_tpm=0.1,
    alert_on_both_only=True,
    suppressed_services=("click",),
    hard_max_overrides={"error": 15000.0},
    window_size=6,
    required_bad=3,
    cooldown_minutes=60.0,
)


def topology_broker_gate(
    spark: SparkSession,
    sf_dir: str,
    lags=(60,),
    threshold: float = 3.0,
    influence: float = 0.1,
    watermark: str = "60 seconds",
    slice_ms: int = TOPO_BROKER_SLICE_MS,
    shuffle_partitions: int = 8,
    timeout_s: int = 300,
    alert_cfg: AlertConfig | None = None,
) -> "DataFrame":
    """The streaming topology with ALL FOUR of its queue boundaries riding
    the REAL broker (sources/broker.py) — queue.js's at-least-once
    contract graded INSIDE the pipeline, not in isolation, on the named
    queues of ONE broker: transactions -> stats -> z_score -> db_insert,
    the reference's full four-queue deployment shape (queue.js:206-305 +
    apm_config.json:58-114).

    Pipeline: stage 1 encodes tx to wire lines; they ride the
    'transactions' queue with a mid-stream consumer crash + redelivery
    (see _broker_hop — each hop's crash rule is a content-keyed hash
    PREDICATE evaluated per streamed payload, so partition-order
    nondeterminism never reaches the result and the harness holds no
    data-sized driver state). Stage 2 (calc_stats) consumes the recovered
    spool and produces st wire lines, which ride the 'stats' queue
    through a second independent crash/recovery. Stage 3 (calc_z_score)
    consumes that spool and produces fs WIRE lines, which ride the
    'z_score' queue through a third cycle. Stage 4 (process_alerts,
    alerts_stateful — F1-F6 incl. recursive debounce + cooldown) consumes
    the recovered fs spool; each alert is wrapped as the reference's
    AlertEntry with its TRIGGERING fs wire line embedded as the escaped
    ``entry`` (stream_check_alert_conditions.js wraps toCSVString() the
    same way), and the al lines ride the 'db_insert' queue through a
    fourth cycle. The graded frame is the decoded db_insert spool with
    the triggering entry's lag + metrics recovered FROM the embedded
    entry — so the hash proves four exact redeliveries, the wire codecs,
    the quantized z-score chain, AND the streaming alert recursion in one
    composition (one message dropped or duplicated on any queue shifts
    the stats, the debounce series, or the alert set).

    Scale: the broker is the semantics test double for the AMQP/Kafka
    tier (swap format('text') handoffs for format('kafka')); everything
    data-sized — encode, publish fan-out, decode, stats, z-score, the
    entry join — stays distributed exactly as in run_apm_topology."""
    import atexit
    import os
    import shutil
    import tempfile

    from apmbackend_spark.functions.text import py_hash64
    from apmbackend_spark.sources import queue as qu
    from apmbackend_spark.sources.tx import load_tx

    cfg = alert_cfg or TOPO_BROKER_ALERT_CFG
    work = tempfile.mkdtemp(prefix="apm_topology_broker_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    ev_dir = os.path.join(work, "events_src")
    os.makedirs(ev_dir)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(ev_dir, "events.parquet"),
    )
    lo = load_tx(spark, sf_dir).agg(F.min("endts")).collect()[0][0]
    endts_before = int(lo) + int(slice_ms)

    spool = {name: os.path.join(work, f"{name}_consumed") for name in APM_STAGES}
    stages = _apm_stages(
        spark,
        ev_dir,
        {down: spool[up] for up, down in zip(APM_STAGES, APM_STAGES[1:])},
        lags=lags,
        threshold=threshold,
        influence=influence,
        alert_cfg=cfg,
        watermark=watermark,
        endts_before=endts_before,
        wire=True,
    )
    # each producer stage's queue and its crash rule, a content-keyed hash
    # predicate evaluated per payload: the transactions hop hashes the wire
    # logid (field 3 of tx|server|service|logid|... — same rule as
    # queue_roundtrip); st lines are unique per (timestamp, server,
    # service) and fs lines per (timestamp, server, service, lag), so
    # those hops hash the whole line
    mod, rem = int(qu._REPLAY_MOD), int(qu._REPLAY_REM)
    hops = {
        "tx": ("transactions", lambda p: py_hash64(p.split("|")[3]) % mod == rem),
        "st": ("stats", lambda p: py_hash64(p) % 10 == 3),
        "fs": ("z_score", lambda p: py_hash64(p) % 10 == 5),
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    brk = _BrokerHandle()
    try:
        # each stage drains its recovered upstream spool, then its output
        # rides its queue through an independent crash/recovery
        for name, df, fmt in stages:
            out = os.path.join(work, f"{name}_wire" if name in hops else name)
            _run_stage(
                df, out, os.path.join(work, f"ckpt_{name}"), timeout_s, fmt
            )
            if name in hops:
                queue, lose_if = hops[name]
                _broker_hop(spark, brk, queue, out, spool[name], lose_if)

        al_wire_dir = os.path.join(work, "al_wire")
        _alert_wrap(spark, os.path.join(work, "al"), spool["fs"], al_wire_dir)

        # db_insert-queue hop: FOURTH cycle (al lines are unique per
        # (alerttimestamp, server, service, lag-in-entry))
        _broker_hop(
            spark, brk, "db_insert", al_wire_dir, spool["al"],
            lambda p: py_hash64(p) % 10 == 1,
        )
    finally:
        brk.close()
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # graded frame: the decoded db_insert spool, with lag + the triggering
    # metrics recovered FROM the embedded (escaped) entry — proving the
    # AlertEntry embedding carried real content through the fourth hop
    return _decode_db_spool(spark, spool["al"])


def _alert_wrap(spark, al_dir: str, fs_spool: str, al_wire_dir: str) -> None:
    """AlertEntry wrap: embed the TRIGGERING fs wire line as the escaped
    entry (keyed join back to the spool — distributed, the fs key
    (timestamp, server, service, lag) is unique) and write the al wire
    lines — the db_insert-queue producer."""
    from apmbackend_spark.sources import queue as qu

    al_rows = spark.read.schema(
        "alerttimestamp long, entrytimestamp long, server string, "
        "service string, lag int, cause string"
    ).parquet(al_dir)
    fw = F.split(F.col("value"), r"\|")
    fs_keyed = spark.read.text(fs_spool).select(
        qu._parse_long(fw.getItem(1)).alias("timestamp"),
        qu._parse_str(fw.getItem(2)).alias("k_server"),
        qu._parse_str(fw.getItem(3)).alias("k_service"),
        qu._parse_int(fw.getItem(4)).alias("k_lag"),
        F.col("value").alias("entry"),
    )
    wired_al = al_rows.join(
        fs_keyed,
        (al_rows.entrytimestamp == fs_keyed.timestamp)
        & (al_rows.server == fs_keyed.k_server)
        & (al_rows.service == fs_keyed.k_service)
        & (al_rows.lag == fs_keyed.k_lag),
    ).select(
        "alerttimestamp", "entrytimestamp", "server", "service",
        "cause", "entry",
    )
    qu.al_to_wire(wired_al).write.mode("overwrite").text(al_wire_dir)


def _decode_db_spool(spark, al_spool: str) -> "DataFrame":
    """Decode the db_insert spool back to typed alert rows, recovering
    lag + the triggering metrics FROM the embedded (escaped) entry."""
    from apmbackend_spark.sources import queue as qu

    dec = qu.wire_to_al(spark.read.text(al_spool))
    ef = F.split(F.col("entry"), "&")
    return dec.select(
        "alerttimestamp",
        "entrytimestamp",
        "server",
        "service",
        "cause",
        qu._parse_int(ef.getItem(4)).alias("lag"),
        qu._parse_double(ef.getItem(5)).alias("e_tpm"),
        qu._parse_double(F.split(ef.getItem(6), ":").getItem(0)).alias(
            "e_average"
        ),
        qu._parse_double(F.split(ef.getItem(7), ":").getItem(0)).alias(
            "e_per75"
        ),
        qu._parse_double(F.split(ef.getItem(8), ":").getItem(0)).alias(
            "e_per95"
        ),
    )
