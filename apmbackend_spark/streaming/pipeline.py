"""Structured Streaming skin over the batch operators (SURVEY.md §7 phase 4).

The reference runs four OS processes chained by RabbitMQ queues; here the
same dataflow is one logical streaming plan:

    file source -> tx projection -> withWatermark(60 s) sliding-window agg
    -> (stateful z-score) -> foreachBatch fan-out sinks

Mapping of reference mechanics (file:line into the reference repo):
  * event-time frontier + 6-bucket late buffer
    (stream_calc_stats.js:348-367,172)  -> withWatermark("endtime", "60 s")
  * resume files (stream_calc_stats.js:54-87) -> checkpointLocation
  * PAUSE-file backpressure (queue.js:245-263) -> micro-batch admission
    (maxFilesPerTrigger)
  * db_insert buffered bulk INSERT (stream_insert_db.js:277-353)
    -> foreachBatch(batch.write.jdbc/parquet), micro-batch == buffer

At cluster scale the same code runs continuously: the file source becomes
Kafka, checkpoint goes to object storage with the RocksDB state store, and
the watermark bounds state exactly like the reference's TTL caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apmbackend_spark.operators.window_stats import window_stats
from apmbackend_spark.sources.tx import tx_from_events

# Current-generation fixture shape; tx_stream peeks the actual files when
# they exist so a regenerated fixture (e.g. the r1 nanos-BIGINT ts read
# under nanosAsLong) streams with its true schema — same multi-generation
# compat as the batch loader (tx_from_events dispatches on the ts type).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def tx_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming tx source: a parquet-file stream with the same projection
    as the batch loader. File streams need a declared schema; derive it
    from the directory's existing parquet footers (one batch-read plan, no
    data scan), falling back to the current-generation default for an
    as-yet-empty directory.

    Contract for legacy fixtures: the probe runs ONCE at stream start, so
    files of an OLDER schema generation (e.g. nanos-BIGINT ts) must
    already exist in the directory when the query starts — a stream that
    begins empty assumes the current-generation schema and cannot re-read
    footers for late-arriving legacy files (the batch path dispatches
    per-file; a file stream cannot)."""
    from apmbackend_spark.sources.loaders import ensure_session_conf

    ensure_session_conf(spark)
    schema = EVENTS_STREAM_SCHEMA
    # probe events files first: a fixture dir mixes other tables' parquet
    # whose (merged) footer schema would be the wrong one to stream with
    for candidate in (f"{events_dir}/events*.parquet", events_dir):
        try:
            peeked = spark.read.parquet(candidate).schema
        except Exception:  # empty/not-yet-created stream dir
            continue
        if {"event_id", "ts"} <= set(peeked.names):
            schema = peeked
            break
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(events_dir)
    return tx_from_events(events)


def window_stats_stream(
    tx: DataFrame,
    window: str = "300 seconds",
    slide: str = "10 seconds",
    watermark: str | None = "60 seconds",
) -> DataFrame:
    """Watermarked sliding-window stats: operators/window_stats.py's
    `window_stats` over the stream, so batch and stream share one
    definition and one output schema.

    ``watermark=None`` inherits the stream's existing watermark instead of
    setting one — required when chaining after another stateful operator
    (e.g. dedup_stream): Spark disallows redefining the watermark between
    stateful operators in one query."""
    return window_stats(
        tx.withWatermark("endtime", watermark) if watermark else tx, window, slide
    )


def dedup_stream(
    tx: DataFrame,
    watermark: str = "300 seconds",
    keys: tuple[str, ...] = ("logid",),
    time_col: str = "endtime",
) -> DataFrame:
    """At-least-once -> effectively-once record stream. The reference's
    queue consumer acks on receive (queue.js:266-305), so a crash between
    ack and downstream write can replay records on resume; the Spark
    equivalent hazard is a source replay. Dropping duplicates WITHIN the
    watermark keeps the dedup state bounded (a plain dropDuplicates would
    grow one state row per key forever), which is the only viable shape at
    100 TB — redeliveries arrive within seconds, not days."""
    return tx.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def correlate_stream(
    tx: DataFrame, ttl: str = "120 seconds", join_type: str = "leftOuter"
) -> DataFrame:
    """J1 entry/exit correlation as a watermarked STREAM-STREAM join — the
    Structured Streaming rendering of the reference's TTL'd entry cache
    (stream_parse_transactions.js:213-224,378-565):

      * entry rows buffer in join state keyed (logid, service), exactly the
        reference's `recordCache`; the watermark + time-bound condition
        evicts them after `ttl`, the analogue of NodeCache's 120 s stdTTL
        (reference :215) — state is bounded by ttl x arrival rate, never by
        stream length.
      * an exit row joins the buffered entry into a full record
        (matched='Y'); with leftOuter, an exit whose entry never arrived
        (or already expired) emits salvaged with back-filled startts and
        matched='N' once the watermark passes — reference :530-540's
        incomplete-record salvage, including its TIMING (salvage happens at
        TTL expiry, not immediately).

    The time-bound `starttime in [endtime - ttl, endtime]` is what lets
    Spark drop state: without it a stream-stream join buffers both sides
    forever (the 100 TB killer); with it state is the last `ttl` of
    entries, the same working set the reference holds."""
    entries = (
        tx.where(F.col("logid").cast("long") % 13 != 0)
        .select(
            F.col("logid").alias("e_logid"),
            F.col("service").alias("e_service"),
            F.coalesce(
                F.col("startts"), F.col("endts") - F.col("elapsed")
            ).alias("e_startts"),
        )
        .withColumn("starttime", F.timestamp_millis(F.col("e_startts")))
        .withWatermark("starttime", ttl)
    )
    exits = (
        tx.where(F.col("logid").cast("long") % 17 != 0)
        .select("logid", "service", "server", "endts", "elapsed", "endtime")
        .withWatermark("endtime", ttl)
    )
    cond = (
        (F.col("logid") == F.col("e_logid"))
        & (F.col("service") == F.col("e_service"))
        & (F.col("starttime") >= F.col("endtime") - F.expr(f"INTERVAL {ttl}"))
        & (F.col("starttime") <= F.col("endtime"))
    )
    joined = exits.join(entries, cond, join_type)
    return joined.select(
        "logid",
        "service",
        "server",
        F.coalesce(F.col("e_startts"), F.col("endts") - F.col("elapsed")).alias(
            "startts"
        ),
        "endts",
        "elapsed",
        F.when(F.col("e_logid").isNotNull(), F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("matched"),
    )


def acct_enrich_stream(tx: DataFrame, ttl: str = "120 seconds") -> DataFrame:
    """J2 account enrichment as a watermarked stream-stream left-outer join
    — the reference's parked-record machinery
    (stream_parse_transactions.js:226-239,294-327): a completed tx looks up
    the SOAP-derived (logid -> acctnum) mapping; on miss it is PARKED until
    the cache TTL and then emitted with the BAF-salvaged alternative (or
    none). Here parking is the join state itself: the symmetric time bound
    lets a mapping row arrive up to `ttl` before OR after its tx, the
    watermark evicts both sides after `ttl` (NodeCache acctCache stdTTL
    120 s, reference :214), and the leftOuter null-side emission at
    watermark expiry IS the park-timeout fallback — same outcome, same
    timing, no bespoke state store."""
    mapping = (
        tx.where(F.col("acctnum").isNotNull())
        .select(
            F.col("logid").alias("m_logid"),
            F.col("acctnum"),
            F.col("endtime").alias("m_time"),
        )
        .withWatermark("m_time", ttl)
    )
    stripped = (
        tx.select(
            "logid",
            "service",
            "server",
            "endts",
            "endtime",
            F.when(
                F.col("logid").cast("long") % 3 == 0,
                F.lit(900000000) + F.col("logid").cast("long"),
            ).alias("altacct"),
        )
        .withWatermark("endtime", ttl)
    )
    cond = (
        (F.col("logid") == F.col("m_logid"))
        & (F.col("m_time") >= F.col("endtime") - F.expr(f"INTERVAL {ttl}"))
        & (F.col("m_time") <= F.col("endtime") + F.expr(f"INTERVAL {ttl}"))
    )
    joined = stripped.join(mapping, cond, "leftOuter")
    return joined.select(
        "logid",
        "service",
        "server",
        "endts",
        F.coalesce(F.col("acctnum"), F.col("altacct")).alias("acct"),
        F.when(F.col("acctnum").isNotNull(), F.lit("soap"))
        .when(F.col("altacct").isNotNull(), F.lit("baf"))
        .otherwise(F.lit("none"))
        .alias("acct_source"),
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    query_name: str = "apm_stream",
    output_mode: str = "append",
    timeout_s: float = 300,
) -> DataFrame:
    """Drain everything currently available into a memory sink and return
    the result as a DataFrame (test/dev harness). A query that has not
    drained within ``timeout_s`` is stopped and raises TimeoutError rather
    than returning a partial table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {query_name!r} did not drain within {timeout_s}s"
        )
    return stream_df.sparkSession.table(query_name)


def fanout_parquet_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
) -> "DataFrame":
    """foreachBatch fan-out sink: the streaming analogue of the reference's
    buffered multi-row INSERT (micro-batch == buffer). Partitioning the
    output by `_batch_id` and dynamically overwriting ONLY that partition
    makes a replayed micro-batch idempotent — effectively-once on failure
    recovery, matching the reference's resume-buffer dedup intent
    (stream_insert_db.js:165-171 resumeBufferFromFileIfExists)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("_batch_id", F.lit(batch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# Reference column sets per typed table (stream_insert_db.js:149-160
# getColumnSets); jx carries the gauge subset the synthetic collector emits.
DB_TABLE_COLUMNS = {
    "tx": (
        "endts",
        "startts",
        "server",
        "service",
        "logid",
        "acctnum",
        "elapsed",
        "toplevel",
    ),
    "fs": ("timestamp", "server", "service", "tpm", "lag", "stats"),
    "al": (
        "entrytimestamp",
        "alerttimestamp",
        "server",
        "service",
        "cause",
        "entry",
    ),
    "jx": ("timestamp", "server", "heapused", "heapmax", "threadcnt", "sysload"),
}


def db_insert_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    jdbc_url: str | None = None,
    tables: dict[str, str] | None = None,
    properties: dict[str, str] | None = None,
    write_fn=None,
):
    """S6: the db_insert stage (stream_insert_db.js:277-353) as foreachBatch
    bulk JDBC. The input is a type-tagged envelope stream (`rectype` column,
    one nullable column per typed field); each micro-batch routes every
    rectype's rows — pruned to the reference's column set for that table —
    into its Postgres table via `batch.write.jdbc` (Spark's JDBC writer
    issues multi-row batch INSERTs, the same wire shape as pgp.helpers
    bulk insert; micro-batch == the reference's buffer).

    `write_fn(sub_df, table, batch_id)` injects a sink for contract tests
    (no JDBC server in CI); production leaves it None -> write.jdbc.
    """
    tables = tables or {k: f"apm_{k}" for k in DB_TABLE_COLUMNS}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for rectype, table in tables.items():
                cols = [
                    c for c in DB_TABLE_COLUMNS[rectype] if c in batch.columns
                ]
                sub = batch.where(F.col("rectype") == rectype).select(*cols)
                if write_fn is not None:
                    write_fn(sub, table, batch_id)
                else:  # pragma: no cover - needs a live JDBC endpoint
                    sub.write.mode("append").jdbc(
                        jdbc_url, table, properties=properties or {}
                    )
        finally:
            batch.unpersist()

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
