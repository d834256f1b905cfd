"""Scale-stress harness: measure how the APM chain scales with data volume.

Tiles the sf0.1 events fixture K times (time-shifted by the span per copy,
event_id offset to stay unique) into /tmp, then times the headline chain at
1x and Kx and prints per-query wall seconds plus the observed scaling factor.
A factor near K on a K-times dataset = linear scaling (what the partitioned
designs claim); super-linear factors flag an operator whose plan degrades
with volume.

Also tiles the documents table (per-copy deterministic character
permutation, so intra-copy duplicate structure is preserved while
cross-copy similarity is destroyed — a 10x corpus with the SAME dup rate,
not a 100x pair blowup) and times the dedup family.

Usage: python scripts/scale_stress.py [K] [sf_dir] [events|docs|all]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def tile_events(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K time-shifted copies of events; each copy's ts range follows the
    previous one so the (server, service) key set stays FIXED while the
    series length grows Kx — the shape a longer retention window produces.
    Handles both fixture generations of ts (timestamp[us], or nanos BIGINT
    read under nanosAsLong) like the engine's own loader."""
    from pyspark.sql.types import LongType

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi, n = ev.agg(F.min("ts"), F.max("ts"), F.count(F.lit(1))).first()
    ts_is_long = isinstance(ev.schema["ts"].dataType, LongType)
    if ts_is_long:  # nanos epoch
        span = int(hi - lo) + 60_000_000_000

        def shift(i):
            return (F.col("ts") + F.lit(i * span)).alias("ts")

    else:
        span_us = int((hi - lo).total_seconds() * 1_000_000) + 60_000_000

        def shift(i):
            return (
                F.col("ts") + F.expr(f"INTERVAL {i * span_us} MICROSECONDS")
            ).alias("ts")

    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * int(n))).alias("event_id"),
            shift(i),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        for i in range(k)
    ]
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "events.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


def tile_events_dense(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K copies of events with the SAME timestamps (event_id offset only):
    row volume grows Kx while the time span — and with it every
    span-bounded structure (hour-of-day baseline frame, hourly trend
    grid, day partitions) — stays fixed. The densification shape a
    traffic increase produces, vs tile_events' retention-growth shape."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * int(n))).alias("event_id"),
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        )
        for i in range(k)
    ]
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "events.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


def tile_orders(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K copies of orders, order- and cust-key offset: Kx keys, constant
    per-customer group size — the customer-base-growth shape."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    max_ok, max_ck = od.agg(
        F.max("o_orderkey"), F.max("o_custkey")
    ).first()
    copies = [
        od.select(
            (F.col("o_orderkey") + F.lit(i * (int(max_ok) + 1))).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.lit(i * (int(max_ck) + 1))).alias(
                "o_custkey"
            ),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        for i in range(k)
    ]
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "orders.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


def tile_lineitem(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K copies of lineitem with l_orderkey offset by the SAME span as
    tile_orders (max_o_orderkey + 1), so the lineitem->orders join fan
    stays consistent at every K; part/supplier keys unchanged (dims stay
    1x — the broadcast-dim story under test)."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (max_ok,) = od.agg(F.max("o_orderkey")).first()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rest = [c for c in li.columns if c != "l_orderkey"]
    copies = [
        li.select(
            (F.col("l_orderkey") + F.lit(i * (int(max_ok) + 1))).alias(
                "l_orderkey"
            ),
            *rest,
        )
        for i in range(k)
    ]
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "lineitem.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


def link_static_tables(sf_dir: str, out_dir: str, tables=(
    "nation", "region", "supplier", "customer", "part",
)) -> None:
    """Symlink the untiled dimension tables into the scaled dir so
    load_table resolves every relation (dims stay 1x by design)."""
    for t in tables:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)


def tile_embeddings(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K copies of embeddings, vec_id-offset; each copy's vectors are
    dimension-ROLLED by the copy index (a cyclic permutation — preserves
    every norm, pairwise angle and near-dup structure WITHIN a copy while
    decorrelating copies from each other): a 10x corpus with constant
    near-dup rate, not a 100x pair blowup."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    dim = len(emb.first()["embedding"])
    copies = []
    for i in range(k):
        r = i % dim
        rolled = (
            F.col("embedding")
            if r == 0
            else F.concat(
                F.slice(F.col("embedding"), r + 1, dim - r),
                F.slice(F.col("embedding"), 1, r),
            )
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * int(n))).alias("vec_id"),
                rolled.alias("embedding"),
                "label",
            )
        )
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "embeddings.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


class _Timer:
    """Shared timing harness: noop-sink force + cache isolation between
    measurements (one definition so the events and docs suites cannot
    drift)."""

    def __init__(self, spark):
        self.spark = spark
        self.out: dict[str, float] = {}

    def timed(self, name, thunk):
        t0 = time.perf_counter()
        thunk().write.format("noop").mode("overwrite").save()
        self.out[name] = round(time.perf_counter() - t0, 2)
        self.spark.catalog.clearCache()


_ALPHA = "etaoinshrdlu"


def _perm(i: int) -> str:
    """Deterministic permutation of _ALPHA per copy index (rotation +
    stride), identity for i=0."""
    n = len(_ALPHA)
    if i == 0:
        return _ALPHA
    stride = 5 if i % 2 else 7  # both coprime with 12
    return "".join(_ALPHA[(i + j * stride) % n] for j in range(n))


def tile_documents(spark, sf_dir: str, out_dir: str, k: int) -> str:
    """K copies of documents: doc_id offset per copy; for copies > 0 the
    text goes through a per-copy `translate` character permutation — most
    shingles change wholesale, so cross-copy near-dup similarity collapses
    below threshold while each copy keeps the original intra-copy duplicate
    structure (duplicate RATE stays constant as volume grows)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    copies = []
    for i in range(k):
        copies.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * int(n))).alias("doc_id"),
                F.translate(F.col("text"), _ALPHA, _perm(i)).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    tiled = copies[0]
    for c in copies[1:]:
        tiled = tiled.unionAll(c)
    dest = os.path.join(out_dir, "documents.parquet")
    tiled.repartition(32).write.mode("overwrite").parquet(dest)
    return out_dir


def docs_timings(spark, sf_dir: str) -> dict[str, float]:
    from apmbackend_spark.operators import dedup as dd
    from apmbackend_spark.operators import textstats as ts
    from apmbackend_spark.sources.loaders import spread

    # same ingest path as the graded queries: spread engages at 1x (single
    # row group), no-ops on the 32-partition tiled copy
    docs = spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    t = _Timer(spark)
    t.timed("doc_stats", lambda: ts.doc_stats(docs))
    t.timed("dedup_exact", lambda: dd.dedup_exact(docs))
    t.timed("minhash_lsh", lambda: dd.minhash_lsh_pairs(docs))
    t.timed("ngram_jaccard", lambda: dd.ngram_jaccard_pairs(docs))
    t.timed("simhash", lambda: dd.simhash(docs))
    t.timed("dedup_clusters", lambda: dd.dedup_clusters(docs))

    from apmbackend_spark.operators.langid import (
        doc_keywords,
        domain_stats,
        lang_id,
    )
    from apmbackend_spark.operators.prepare import corpus_mixture

    t.timed("lang_id", lambda: lang_id(docs))
    t.timed("doc_keywords", lambda: doc_keywords(docs))
    t.timed("domain_stats", lambda: domain_stats(docs))
    t.timed("corpus_mixture", lambda: corpus_mixture(docs))
    t.timed("contamination", lambda: ts.contamination(docs))
    t.timed("line_dedup", lambda: dd.line_dedup(docs))
    t.timed("doc_fingerprint", lambda: dd.doc_fingerprint(docs))
    t.timed("url_domains", lambda: ts.url_domains(docs))

    from apmbackend_spark.operators.langid import charlm_score
    from apmbackend_spark.operators import multimodal as mm

    t.timed("charlm_score", lambda: charlm_score(docs))
    t.timed("pii_scrub", lambda: ts.pii_scrub(docs))
    t.timed("doc_span_dup", lambda: dd.doc_span_dup(docs))
    t.timed(
        "video_features",
        lambda: mm.video_features(mm.synth_y4m_media(spark, docs)),
    )
    t.timed(
        "video_frame_sample",
        lambda: mm.video_frame_sample(mm.synth_y4m_media(spark, docs)),
    )
    # round-5 quality ops: one windowed shuffle / inverted-index self-join
    t.timed("stratified_sample", lambda: ts.stratified_sample(docs))
    t.timed("containment_pairs", lambda: dd.containment_pairs(docs))
    t.timed("dup_pagerank", lambda: dd.dup_pagerank(docs))
    # late round-5: per-partition window packing / codegen URL collapse
    from apmbackend_spark.operators.layout import compaction_bins

    t.timed("compaction_bins", lambda: compaction_bins(docs))
    t.timed("url_canonical", lambda: ts.url_canonical(docs))
    # retrieval + order-sensitive verify: postings-only tf shuffle /
    # banded candidates + capped DP — both claim ~K scaling
    from apmbackend_spark.operators.retrieval import bm25_topk

    t.timed("bm25_topk", lambda: bm25_topk(docs))
    t.timed("edit_neardup", lambda: dd.edit_neardup(docs))
    return t.out


def chain_timings(spark, sf_dir: str) -> dict[str, float]:
    from apmbackend_spark.operators import alerts as al
    from apmbackend_spark.operators import zscore as zs
    from apmbackend_spark.operators.ordering import ordered_release
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.sources.tx import load_tx

    import __spark_entry__ as e

    t = _Timer(spark)
    t.timed("tx_scan", lambda: load_tx(spark, sf_dir))
    t.timed("window_stats", lambda: window_stats(load_tx(spark, sf_dir)))
    t.timed(
        "zscore",
        lambda: zs.zscore_window(
            zs.st_from_window_stats(window_stats(load_tx(spark, sf_dir))),
            lags=e.ZSCORE_LAGS,
            threshold=e.ZSCORE_THRESHOLD,
        ),
    )
    t.timed(
        "zscore_recursive",
        lambda: zs.zscore_recursive(
            zs.st_from_window_stats(window_stats(load_tx(spark, sf_dir))),
            lags=e.ZSCORE_LAGS,
            threshold=e.ZSCORE_THRESHOLD,
            influence=0.1,
        ),
    )
    t.timed("alerts", lambda: al.alert_pipeline(e._fs(spark, sf_dir), e.ALERT_CFG))
    t.timed("ordered_release", lambda: ordered_release(load_tx(spark, sf_dir)))

    from apmbackend_spark.operators.correlation import incident_windows

    t.timed("incident_windows", lambda: incident_windows(load_tx(spark, sf_dir)))

    from apmbackend_spark.sources import queue as qu

    # wire codec + at-least-once accounting: pure codegen projections over
    # the tx scan, so the shape claim is ~linear in events
    t.timed("queue_roundtrip", lambda: qu.queue_roundtrip_gate(spark, sf_dir))

    # round-5 events-table quality ops: each claims a single-scan or
    # single-shuffle shape, so the factor under test is ~K
    from apmbackend_spark.operators.layout import zorder_layout
    from apmbackend_spark.operators.profile import table_profile
    from apmbackend_spark.operators.robust import mad_outliers

    ev = lambda: spark.read.parquet(f"{sf_dir}/events.parquet")  # noqa: E731
    t.timed("mad_outliers", lambda: mad_outliers(ev()))
    t.timed("table_profile", lambda: table_profile(ev()))
    t.timed("zorder_layout", lambda: zorder_layout(ev()))
    # late round-5: one user_id shuffle + tiny rank frame / one full-outer
    # join on the key — both claim ~K scaling
    from apmbackend_spark.operators.cdc import cdc_diff
    from apmbackend_spark.operators.sessions import event_transitions

    t.timed("event_transitions", lambda: event_transitions(ev()))

    def _cdc_events():
        # snapshot diff stressed on the TILED table: the graded gate runs
        # on orders (not tiled here); same operator, same plan shape, key
        # = event_id, compared columns value/event_type with mod-derived
        # mutations so all three op classes appear at every K
        e_ = ev()
        old = e_.where(F.col("event_id") % 13 != 0)
        new = e_.where(F.col("event_id") % 11 != 0).select(
            "event_id",
            F.when(
                F.col("event_id") % 5 == 0, F.col("value") + F.lit(1.0)
            )
            .otherwise(F.col("value"))
            .alias("value"),
            "event_type",
        )
        return cdc_diff(old, new, "event_id", ("value", "event_type"))

    t.timed("cdc_diff", _cdc_events)

    from apmbackend_spark.operators.profile import heavy_hitters_cms
    from apmbackend_spark.operators.robust import winsorize
    from apmbackend_spark.operators.sessions import funnel_steps

    t.timed("funnel_steps", lambda: funnel_steps(ev()))
    t.timed("winsorize", lambda: winsorize(ev()))
    t.timed("heavy_hitters_cms", lambda: heavy_hitters_cms(ev()))
    return t.out


def stateful_timings(spark, sf_dir: str, k: int) -> None:
    """Bounded-state z-score drain scaled by SERIES LENGTH (slice_ms x k on
    the 30-day fixture, no tiling needed): per-key state is O(lag) values
    regardless of slice, so the claim under test is ~linear wall time in
    drained grid rows with no state blowup."""
    from apmbackend_spark.streaming import topology as topo

    t = _Timer(spark)
    t.timed(
        "zscore_stateful_1x",
        lambda: topo.zscore_stateful_drain_gate(spark, sf_dir),
    )
    base = t.out["zscore_stateful_1x"]
    t.timed(
        f"zscore_stateful_{k}x",
        lambda: topo.zscore_stateful_drain_gate(
            spark, sf_dir, slice_ms=topo.ZS_DRAIN_SLICE_MS * k
        ),
    )
    big = t.out[f"zscore_stateful_{k}x"]
    _report({"zscore_stateful": base}, {"zscore_stateful": big}, k)


def _report(base: dict[str, float], big: dict[str, float], k: int) -> None:
    print(f"\n{'query':<18}{'1x sec':>10}{k:>9}x sec{'factor':>9}")
    for q in base:
        f = big[q] / base[q] if base[q] else float("inf")
        print(f"{q:<18}{base[q]:>10.2f}{big[q]:>13.2f}{f:>9.1f}")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    mode = sys.argv[3] if len(sys.argv) > 3 else "events"

    from apmbackend_spark.session import get_spark

    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    scaled_dir = f"/tmp/apm_scale_{k}x"
    shutil.rmtree(scaled_dir, ignore_errors=True)
    os.makedirs(scaled_dir, exist_ok=True)

    if mode in ("events", "all"):
        print(f"tiling events {k}x into {scaled_dir} ...", flush=True)
        tile_events(spark, sf_dir, scaled_dir, k)
        print("timing 1x ...", flush=True)
        chain_timings(spark, sf_dir)  # warm pass: absorb first-plan codegen
        base = chain_timings(spark, sf_dir)
        print(f"timing {k}x ...", flush=True)
        big = chain_timings(spark, scaled_dir)
        _report(base, big, k)

    if mode == "r6":
        # round-6 measured rows: the 7 gates the r5 verdict flagged as
        # missing from the measured table (TPC-H Q7/13/14/19,
        # ann_recall_report, pq_rerank, k_anonymity) plus the round-6
        # additions (span_exact_dedup, stream_nearest, bmp_features) and
        # the rewritten bpe trainer.
        print(
            f"tiling events+documents+embeddings+orders+lineitem {k}x "
            f"into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)
        tile_orders(spark, sf_dir, scaled_dir, k)
        tile_lineitem(spark, sf_dir, scaled_dir, k)
        link_static_tables(sf_dir, scaled_dir)

        def suite(d: str, kk: int) -> dict[str, float]:
            from apmbackend_spark.operators import dedup as dd
            from apmbackend_spark.operators import multimodal as mm
            from apmbackend_spark.operators import relational as rel
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.operators import textstats as ts
            from apmbackend_spark.operators.profile import k_anonymity
            from apmbackend_spark.sources.loaders import spread
            from apmbackend_spark.streaming import topology as topo

            t = _Timer(spark)
            t.timed("q7_volume_shipping", lambda: rel.q7_volume_shipping(spark, d))
            t.timed("q13_customer_distribution", lambda: rel.q13_customer_distribution(spark, d))
            t.timed("q14_promo_effect", lambda: rel.q14_promo_effect(spark, d))
            t.timed("q19_bracketed_revenue", lambda: rel.q19_bracketed_revenue(spark, d))
            ev = lambda: spark.read.parquet(f"{d}/events.parquet")  # noqa: E731
            t.timed("k_anonymity", lambda: k_anonymity(ev()))
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            # codebook size held CONSTANT across K (sample mod scaled with
            # the corpus) — the production shape: a trained fixed-size
            # artifact (a corpus-growing codebook makes the Lloyd/encode
            # joins quadratic-ish in K and is not what anyone deploys).
            mod = sim.PQ_CODES_MOD * kk
            t.timed("pq_encode", lambda: sim.pq_encode(embs, mod=mod))
            t.timed("pq_search", lambda: sim.pq_search(embs, mod=mod))
            t.timed("pq_rerank", lambda: sim.pq_rerank(embs, mod=mod))
            t.timed(
                "ivfpq_search", lambda: sim.ivfpq_search(embs, pq_mod=mod)
            )
            t.timed(
                "ann_recall_report",
                lambda: sim.ann_recall_report(embs, pq_mod=mod),
            )
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed("span_exact_dedup", lambda: dd.span_exact_dedup(docs))
            t.timed(
                "bmp_features",
                lambda: mm.bmp_features(mm.synth_bmp_media(spark, docs)),
            )
            t.timed("bpe_train", lambda: ts.bpe_train(docs))
            t.timed("stream_nearest", lambda: topo.stream_nearest_gate(spark, d))
            return t.out

        # cheap warm pass (codegen/session startup), not the full suite:
        # the streaming gate alone costs minutes per pass
        from apmbackend_spark.operators import relational as _rel
        from apmbackend_spark.operators import similarity as _sim
        from apmbackend_spark.sources.loaders import spread as _spread

        _t = _Timer(spark)
        _t.timed("warm_q7", lambda: _rel.q7_volume_shipping(spark, sf_dir))
        _t.timed(
            "warm_pq",
            lambda: _sim.pq_encode(
                _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
            ),
        )
        print("timing 1x ...", flush=True)
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "r7":
        # round-7 measured rows: the 8 gates the r6 verdict flagged as
        # missing from the measured table (span_scrub,
        # corpus_prepare_exact, ivfpq_rerank, TPC-H Q10/Q12/Q16/Q22, the
        # artifact-shared ann_recall_report re-run) plus the round-7
        # additions (ann_budget_curve, broker_redelivery, gif_features).
        print(
            f"tiling events+documents+embeddings+orders+lineitem {k}x "
            f"into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)
        tile_orders(spark, sf_dir, scaled_dir, k)
        tile_lineitem(spark, sf_dir, scaled_dir, k)
        link_static_tables(sf_dir, scaled_dir)

        def suite(d: str, kk: int) -> dict[str, float]:
            from apmbackend_spark.operators import dedup as dd
            from apmbackend_spark.operators import multimodal as mm
            from apmbackend_spark.operators import prepare as prep
            from apmbackend_spark.operators import relational as rel
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.sources import broker as brk
            from apmbackend_spark.sources.loaders import spread

            t = _Timer(spark)
            t.timed("q10_returned_items", lambda: rel.q10_returned_items(spark, d))
            t.timed("q12_delay_bands", lambda: rel.q12_delay_bands(spark, d))
            t.timed("q16_supplier_variety", lambda: rel.q16_supplier_variety(spark, d))
            t.timed("q22_idle_customers", lambda: rel.q22_idle_customers(spark, d))
            t.timed("q15_top_supplier", lambda: rel.q15_top_supplier(spark, d))
            t.timed(
                "q17_small_quantity_revenue",
                lambda: rel.q17_small_quantity_revenue(spark, d),
            )
            t.timed(
                "q21_waiting_suppliers",
                lambda: rel.q21_waiting_suppliers(spark, d),
            )
            t.timed(
                "q2_min_cost_supplier",
                lambda: rel.q2_min_cost_supplier(spark, d),
            )
            t.timed("q8_market_share", lambda: rel.q8_market_share(spark, d))
            t.timed(
                "q9_product_profit", lambda: rel.q9_product_profit(spark, d)
            )
            t.timed(
                "q11_important_stock",
                lambda: rel.q11_important_stock(spark, d),
            )
            t.timed(
                "q20_dominant_suppliers",
                lambda: rel.q20_dominant_suppliers(spark, d),
            )
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed("span_scrub", lambda: dd.span_scrub(docs))
            t.timed("corpus_prepare_exact", lambda: prep.corpus_prepare_exact(docs))
            t.timed(
                "gif_features",
                lambda: mm.gif_features(mm.synth_gif_media(spark, docs)),
            )
            from apmbackend_spark.operators import jpeg as jp

            t.timed(
                "jpeg_features",
                lambda: jp.jpeg_features(jp.synth_jpeg_media(spark, docs)),
            )
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            # codebook size held CONSTANT across K (see the r6 note)
            mod = sim.PQ_CODES_MOD * kk
            t.timed("ivfpq_rerank", lambda: sim.ivfpq_rerank(embs, pq_mod=mod))
            t.timed(
                "ann_recall_report",
                lambda: sim.ann_recall_report(embs, pq_mod=mod),
            )
            t.timed(
                "ann_budget_curve",
                lambda: sim.ann_budget_curve(embs, pq_mod=mod),
            )
            t.timed("ivf_probe_curve", lambda: sim.ivf_probe_curve(embs))
            from apmbackend_spark.operators import retrieval as rtr

            t.timed(
                "hybrid_rrf", lambda: rtr.hybrid_rrf(docs, embs)
            )
            t.timed(
                "broker_redelivery",
                lambda: brk.broker_redelivery_gate(spark, d),
            )
            return t.out

        from apmbackend_spark.operators import relational as _rel
        from apmbackend_spark.operators import similarity as _sim
        from apmbackend_spark.sources.loaders import spread as _spread

        _t = _Timer(spark)
        _t.timed("warm_q10", lambda: _rel.q10_returned_items(spark, sf_dir))
        _t.timed(
            "warm_pq",
            lambda: _sim.pq_encode(
                _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
            ),
        )
        print("timing 1x ...", flush=True)
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "r7b":
        # late round-7 additions: semantic_dedup, mmr_rerank, dsir_select
        print(
            f"tiling documents+embeddings {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)

        def suite(d: str, kk: int) -> dict[str, float]:
            from apmbackend_spark.operators import packing as pk
            from apmbackend_spark.operators import prepare as prep
            from apmbackend_spark.operators import selection as dsel
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.sources.loaders import spread

            t = _Timer(spark)
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            # cluster COUNT held constant across K: the seed quantizer is
            # vec_id % mod, so mod must scale with the corpus (the PQ_mod
            # precedent) — list size then grows 10x and the pair stage is
            # measured at its quadratic-in-list-size worst case (the
            # production knob grows cluster count with N instead)
            t.timed(
                "semantic_dedup",
                lambda: sim.semantic_dedup(embs, n_lists_mod=50 * kk),
            )
            t.timed("mmr_rerank", lambda: sim.mmr_rerank(embs))
            t.timed("binary_rerank", lambda: sim.binary_rerank(embs))
            t.timed("hard_negatives", lambda: sim.hard_negatives(embs))
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed("dsir_select", lambda: dsel.dsir_select(docs))
            t.timed("unimax_alloc", lambda: prep.unimax_alloc(docs))
            t.timed("curriculum_order", lambda: pk.curriculum_order(docs))
            t.timed(
                "cluster_profile", lambda: sim.cluster_profile(embs, docs)
            )
            from apmbackend_spark.operators import dedup as dd
            from apmbackend_spark.operators import textstats as ts

            t.timed("hll_cardinality", lambda: ts.hll_cardinality(docs))
            t.timed("winnow_matches", lambda: dd.winnow_matches(docs))
            t.timed("weighted_sample", lambda: dsel.weighted_sample(docs))
            return t.out

        from apmbackend_spark.operators import similarity as _sim
        from apmbackend_spark.sources.loaders import spread as _spread

        _t = _Timer(spark)
        _t.timed(
            "warm_ivf",
            lambda: _sim.ivf_assign(
                _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
            ),
        )
        print("timing 1x ...", flush=True)
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "r8":
        # round-8 measured rows: the six new gates (zscore_longlag,
        # topology_broker, jpeg_pixels, ann_index_persist, unigram pair)
        # plus semantic_dedup at its PRODUCTION knob — mod FIXED across K
        # (cluster count grows with N, E|c| stays ~mod), the k-prop-to-N
        # rule the r7 verdict asked to close; the r7b table keeps the
        # deliberate fixed-cluster-count worst case for contrast.
        print(
            f"tiling events+documents+embeddings {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)
        link_static_tables(sf_dir, scaled_dir)

        def suite(d: str, kk: int) -> dict[str, float]:
            import __spark_entry__ as e
            from apmbackend_spark.operators import jpeg as jp
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.operators import unigram as uni
            from apmbackend_spark.sources.loaders import spread
            from apmbackend_spark.streaming import topology as topo

            t = _Timer(spark)
            # span-bound dense grid: 10x events land inside the same
            # 3-day x 4-key grid, so only the upstream window-stats scan
            # grows — the volume-independence claim, measured
            t.timed("zscore_longlag", lambda: e._q_zscore_longlag(spark, d))
            # the broker hop is the sequential semantics test double
            # (production swaps in Kafka); publish/consume are pipelined
            # line writes, stages 2-3 stay distributed
            t.timed(
                "topology_broker", lambda: topo.topology_broker_gate(spark, d)
            )
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed(
                "jpeg_pixels",
                lambda: jp.jpeg_pixels(jp.synth_jpeg_media(spark, docs)),
            )
            # tiled docs REPEAT the base texts, so the distinct-pretoken
            # frame is constant across K: train cost beyond the one token
            # shuffle is vocabulary-bound — the unigram scale story
            t.timed("unigram_train", lambda: uni.unigram_train(docs))
            t.timed("unigram_encode", lambda: uni.unigram_encode(docs))
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            # trained-artifact size held constant (sample mod scales with
            # the corpus — the r6 pq precedent)
            t.timed(
                "ann_index_persist",
                lambda: sim.ann_index_persist(
                    spark, embs, pq_mod=sim.PQ_CODES_MOD * kk
                ),
            )
            # PRODUCTION knob: mod fixed, cluster count k grows with N;
            # rides the hierarchical assign since the r8 switch (the flat
            # row in SCALE.md is the kept-for-contrast first capture)
            t.timed("semantic_dedup", lambda: sim.semantic_dedup(embs))
            t.timed(
                "ivf_assign_2level",
                lambda: sim.ivf_assign_2level(embs, probe_l1=1),
            )
            from apmbackend_spark.operators import dedup as dd
            from apmbackend_spark.sources import tar as tarsrc

            t.timed(
                "tar_shard_ingest", lambda: tarsrc.tar_shard_ingest(docs)
            )
            t.timed("dup_labelprop", lambda: dd.dup_labelprop(docs))
            t.timed("bloom_dedup", lambda: dd.bloom_dedup(docs))
            from apmbackend_spark.operators import langid as lid

            t.timed("ccnet_buckets", lambda: lid.ccnet_buckets(docs))
            from apmbackend_spark.operators import textstats as ts

            t.timed("gopher_rules", lambda: ts.gopher_rules(docs))
            return t.out

        from apmbackend_spark.sources.loaders import spread as _spread

        _t = _Timer(spark)
        _t.timed(
            "warm_docs",
            lambda: _spread(
                spark.read.parquet(f"{sf_dir}/documents.parquet")
            ).select("doc_id"),
        )
        print("timing 1x ...", flush=True)
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "r9":
        # round-9 measured rows: the two new gates (ann_ivf_2level under
        # the k-prop-to-N serving regime — tiled embeddings grow the list
        # count 10x at fixed mod — with flat ann_ivf alongside for the
        # quadratic contrast; ccnet_buckets_sketch vs its exact sibling)
        # plus the two output-changed gates remeasured (topology_broker
        # now drains the full four-queue map + alerts; unigram_encode now
        # carries the fallback tier + probe).
        print(
            f"tiling events+documents+embeddings {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)
        link_static_tables(sf_dir, scaled_dir)

        def suite(d: str, kk: int) -> dict[str, float]:
            from apmbackend_spark.operators import langid as lid
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.operators import unigram as uni
            from apmbackend_spark.sources.loaders import spread
            from apmbackend_spark.streaming import topology as topo

            t = _Timer(spark)
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            # serving path, k prop to N: mod fixed -> 10x lists; the gate's
            # knobs (l1_factor=2, probe_l1=3)
            t.timed(
                "ann_ivf_2level",
                lambda: sim.ann_ivf_2level(embs, l1_factor=2, probe_l1=3),
            )
            # flat-assign serving contrast (the N x k quadratic regime)
            t.timed("ann_ivf_flat", lambda: sim.ann_ivf(embs))
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed(
                "ccnet_buckets_sketch",
                lambda: lid.ccnet_buckets_sketch(docs),
            )
            t.timed("ccnet_buckets_exact", lambda: lid.ccnet_buckets(docs))
            t.timed(
                "unigram_encode_fb",
                lambda: uni.unigram_encode(uni.with_fallback_probe(docs)),
            )
            # full four-queue broker drain + alerts stage
            t.timed(
                "topology_broker4",
                lambda: topo.topology_broker_gate(spark, d),
            )
            # late round-9 gates: routed residual-PQ serving (same
            # k-prop-to-N regime; pq_mod scales with K — the fixed
            # trained-artifact convention of every pq row, r6 precedent:
            # a corpus-growing codebook makes Lloyd/encode quadratic-ish
            # and is not what anyone deploys), the two-round softfloat EM
            # loop (vocabulary-bound like the hard trainer), and the
            # sub-octave percentile sketch over events
            pqm = sim.PQ_CODES_MOD * kk
            t.timed(
                "ivfpq_search_2level",
                lambda: sim.ivfpq_search_2level(embs, pq_mod=pqm),
            )
            t.timed(
                "ivfpq_search_flat",
                lambda: sim.ivfpq_search(embs, pq_mod=pqm),
            )
            t.timed("unigram_train_soft", lambda: uni.unigram_train_soft(docs))
            from apmbackend_spark.operators import profile as pf

            ev = spread(spark.read.parquet(f"{d}/events.parquet"))
            t.timed("subbin_quantiles", lambda: pf.subbin_quantiles(ev))
            return t.out

        from apmbackend_spark.sources.loaders import spread as _spread

        _t = _Timer(spark)
        _t.timed(
            "warm_embs",
            lambda: _spread(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            ).select("vec_id"),
        )
        print("timing 1x ...", flush=True)
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "r10":
        # round-10 measured rows: the interleaved-prune soft-EM trainer
        # (vocabulary-bound like its siblings), the Naive-Bayes quality
        # classifier (one token explode + vocab-row model), the LSH band
        # planner (O(1) config math — measured to PROVE volume
        # independence), the routed residual-PQ tuning curve (fixed
        # trained-artifact convention: pq_mod x K), and the broker
        # topology's sequential drain.
        print(
            f"tiling events+documents+embeddings {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)
        link_static_tables(sf_dir, scaled_dir)

        def suite(d: str, kk: int) -> dict[str, float]:
            from apmbackend_spark.operators import dedup as dd
            from apmbackend_spark.operators import selection as dsel
            from apmbackend_spark.operators import similarity as sim
            from apmbackend_spark.operators import unigram as uni
            from apmbackend_spark.sources.loaders import spread
            from apmbackend_spark.streaming import topology as topo

            t = _Timer(spark)
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed(
                "unigram_train_soft_prune",
                lambda: uni.unigram_train_soft_prune(docs),
            )
            t.timed("nb_quality", lambda: dsel.nb_quality(docs))
            t.timed("lsh_band_plan", lambda: dd.lsh_band_plan(docs))
            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            pqm = sim.PQ_CODES_MOD * kk
            t.timed(
                "ivfpq_l1probe_curve",
                lambda: sim.ivfpq_l1probe_curve(embs, pq_mod=pqm),
            )
            t.timed(
                "topology_broker_sequential",
                lambda: topo.topology_broker_gate(spark, d),
            )
            return t.out

        print("timing 1x ...", flush=True)
        suite(sf_dir, 1)  # warm pass
        base = suite(sf_dir, 1)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir, k)
        _report(base, big, k)

    if mode == "quality":
        # round-5 quality ops only (events + docs tiles, skipping the
        # z-score chain whose 10x factors are already published)
        from apmbackend_spark.operators import dedup as dd
        from apmbackend_spark.operators import textstats as ts
        from apmbackend_spark.operators.layout import zorder_layout
        from apmbackend_spark.operators.profile import table_profile
        from apmbackend_spark.operators.robust import mad_outliers
        from apmbackend_spark.sources.loaders import spread

        print(
            f"tiling events+documents+embeddings {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_events(spark, sf_dir, scaled_dir, k)
        tile_documents(spark, sf_dir, scaled_dir, k)
        tile_embeddings(spark, sf_dir, scaled_dir, k)

        def suite(d: str) -> dict[str, float]:
            t = _Timer(spark)
            ev = lambda: spark.read.parquet(f"{d}/events.parquet")  # noqa: E731
            docs = spread(spark.read.parquet(f"{d}/documents.parquet"))
            t.timed("mad_outliers", lambda: mad_outliers(ev()))
            t.timed("table_profile", lambda: table_profile(ev()))
            t.timed("zorder_layout", lambda: zorder_layout(ev()))
            t.timed("stratified_sample", lambda: ts.stratified_sample(docs))
            t.timed("containment_pairs", lambda: dd.containment_pairs(docs))
            t.timed("dup_pagerank", lambda: dd.dup_pagerank(docs))
            from apmbackend_spark.operators import similarity as sim

            embs = spread(spark.read.parquet(f"{d}/embeddings.parquet"))
            t.timed("srp_neardup", lambda: sim.srp_neardup(embs))
            t.timed("bpe_train", lambda: ts.bpe_train(docs))
            t.timed("bpe_encode", lambda: ts.bpe_encode(docs))
            t.timed("power_iter_pca", lambda: sim.power_iter_pca(embs))
            return t.out

        print("timing 1x ...", flush=True)
        suite(sf_dir)  # warm pass
        base = suite(sf_dir)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir)
        _report(base, big, k)

    if mode == "features":
        # round-5 feature/serving ops. Events are tiled DENSE (same time
        # span, Kx rows) — the honest test of the volume-independent-grid
        # claims: seasonal's baseline frame and trend's hourly grid must
        # stay FIXED while row volume grows, so near-linear factors mean
        # "only the combinable first pass touches the new data".
        from apmbackend_spark.operators.cdc import rollup_incremental
        from apmbackend_spark.operators.profile import hist_quantiles
        from apmbackend_spark.operators.seasonal import (
            seasonal_baseline,
            trend_slopes,
        )
        from apmbackend_spark.operators.sessions import decayed_counts

        print(
            f"tiling events (dense) + orders {k}x into {scaled_dir} ...",
            flush=True,
        )
        tile_events_dense(spark, sf_dir, scaled_dir, k)
        tile_orders(spark, sf_dir, scaled_dir, k)

        from apmbackend_spark.operators.sessions import (
            retention_cohorts,
            session_attribution,
        )

        def suite(d: str) -> dict[str, float]:
            t = _Timer(spark)
            ev = lambda: spark.read.parquet(f"{d}/events.parquet")  # noqa: E731
            od = lambda: spark.read.parquet(f"{d}/orders.parquet")  # noqa: E731
            t.timed("seasonal_baseline", lambda: seasonal_baseline(ev()))
            t.timed("trend_slopes", lambda: trend_slopes(ev()))
            t.timed("hist_quantiles", lambda: hist_quantiles(ev()))
            t.timed("decayed_counts", lambda: decayed_counts(ev()))
            t.timed("rollup_incremental", lambda: rollup_incremental(od()))
            t.timed("retention_cohorts", lambda: retention_cohorts(ev()))
            t.timed(
                "session_attribution", lambda: session_attribution(ev())
            )
            return t.out

        print("timing 1x ...", flush=True)
        suite(sf_dir)  # warm pass
        base = suite(sf_dir)
        print(f"timing {k}x ...", flush=True)
        big = suite(scaled_dir)
        _report(base, big, k)

    if mode in ("stateful", "all"):
        print(f"stateful drain 1x vs {k}x slice ...", flush=True)
        stateful_timings(spark, sf_dir, k)

    if mode in ("docs", "all"):
        print(f"tiling documents {k}x into {scaled_dir} ...", flush=True)
        tile_documents(spark, sf_dir, scaled_dir, k)
        print("timing 1x ...", flush=True)
        docs_timings(spark, sf_dir)  # warm pass
        base = docs_timings(spark, sf_dir)
        print(f"timing {k}x ...", flush=True)
        big = docs_timings(spark, scaled_dir)
        _report(base, big, k)


if __name__ == "__main__":
    main()
