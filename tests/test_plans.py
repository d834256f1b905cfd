"""Physical-plan hygiene: the 100 TB design claims must be visible in
.explain() output — broadcast joins for dims, pushed filters, pruned scans,
whole-stage codegen, no Python UDFs on declared-SQL paths."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    # Plan-shape assertions must see the raw plan: a persisted st/fs left
    # behind by another test (e.g. db_fanin's seam persists) would be
    # substituted as an InMemoryRelation and change operator counts.
    spark.catalog.clearCache()
    yield


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q3_broadcasts_customer_and_pushes_filters(spark):
    from apmbackend_spark.operators.relational import q3_top_orders

    p = plan(q3_top_orders(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    # the mktsegment filter must reach the customer parquet scan
    assert "PushedFilters" in p
    assert "c_mktsegment" in p
    # top-k must be TakeOrderedAndProject (parallel partial top-k), not a
    # global row_number window over the whole aggregate
    assert "TakeOrderedAndProject" in p


def test_q1_scan_prunes_columns(spark):
    from apmbackend_spark.operators.relational import q1_pricing_summary

    p = plan(q1_pricing_summary(spark, SF_SMOKE))
    # only the needed lineitem columns are read
    read_schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schemas and all(
        "l_partkey" not in l and "l_suppkey" not in l for l in read_schemas
    )
    assert any("l_extendedprice" in l for l in read_schemas)
    # partial (map-side) + final HashAggregate around one Exchange
    assert p.count("HashAggregate") >= 2 and p.count("Exchange") <= 2
    # the shipdate filter is pushed to the parquet scan
    assert any("LessThanOrEqual(l_shipdate" in l for l in p.splitlines())


def test_window_stats_one_sliding_shuffle(spark):
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.sources.tx import load_tx

    import re

    p = plan(window_stats(load_tx(spark, SF_SMOKE)))
    # the sliding form: an Expand gives each event its 30 windows, and one
    # hash exchange on (server, service, window) feeds the merge. Only HASH
    # exchanges count — the ingest spread() is a round-robin widen, not a
    # semantic shuffle.
    assert len(re.findall(r"hashpartitioning", p)) == 1
    assert "Expand" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # events scan reads only the needed columns
    read_schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("props" not in l for l in read_schemas)


def test_alert_candidates_broadcasts_override_dim(spark):
    import __spark_entry__ as e

    p = plan(e.queries()["alert_candidates"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_zscore_has_no_python_udf(spark):
    import __spark_entry__ as e

    p = plan(e.queries()["zscore"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ordered_release_no_global_window(spark):
    from apmbackend_spark.operators.ordering import ordered_release
    from apmbackend_spark.sources.tx import load_tx

    p = plan(ordered_release(load_tx(spark, SF_SMOKE)))
    # the data-bearing row_number must be partitioned (by __pid), and the
    # only single-partition exchange allowed is the tiny per-partition-count
    # offsets branch — never the full dataset.
    assert "windowspecdefinition(__pid" in p
    assert p.count("Exchange SinglePartition") <= 1
    # zscore-style global Window over the raw sort key must be gone: every
    # windowspecdefinition mentioning endts must be pid-partitioned.
    for line in p.splitlines():
        if "windowspecdefinition(" in line and "endts" in line:
            assert "__pid" in line


def test_zscore_single_data_shuffle(spark):
    """The cumulative-sum z-score must sort/shuffle the st grid ONCE for
    all lags (no per-lag union recompute), stay JVM-side, and — since the
    default gate is the time-chunked plan — actually shuffle on the full
    (server, service, __chunk) tuple so parallelism is keys x chunks (a
    subset (server, service) partitioning would satisfy the Window's
    distribution and silently serialize each key's history)."""
    import __spark_entry__ as e

    import re

    p = plan(e.queries()["zscore"](spark, SF_SMOKE))
    # cum pass + offset pass chained over ONE sort: at most 2 Window
    # operators ("(n) Window" detail headers).
    assert len(re.findall(r"\(\d+\) Window", p)) <= 2
    # exactly one chunk-keyed exchange feeds them
    chunk_exchanges = [
        line
        for line in p.splitlines()
        if "hashpartitioning" in line and "__chunk" in line
    ]
    assert len(chunk_exchanges) == 1, chunk_exchanges
    # ... and that exchange must be the PINNED form: AQE's byte-based
    # coalescing would collapse the bytes-small/compute-heavy window input
    # to one partition and serialize the whole chain (REPARTITION_BY_NUM
    # is exempt from coalescing; ENSURE_REQUIREMENTS is not).
    assert "REPARTITION_BY_NUM" in chunk_exchanges[0], chunk_exchanges
    assert "BatchEvalPython" not in p
    # the dense-grid input must ride the materialized winstats seam: a
    # parquet scan in THIS plan means the tx -> winstats chain is being
    # recomputed per seam reference (it appears 3x in the zero-fill)
    assert "Scan parquet" not in p


def test_ann_bruteforce_broadcasts_corpus(spark):
    from apmbackend_spark.operators.similarity import ann_bruteforce
    from apmbackend_spark.sources.loaders import load_table

    p = plan(ann_bruteforce(load_table(spark, SF_SMOKE, "embeddings")))
    assert "Broadcast" in p


def test_token_pack_no_global_data_window(spark):
    # The corpus-wide cumulative sum must be the two-pass pattern: any
    # single-partition sort happens on per-partition totals, never the data.
    # Concretely: no `Window.orderBy` over doc-level rows => the plan's only
    # unpartitioned window input is the broadcast offsets side.
    from apmbackend_spark.operators.packing import token_pack
    from apmbackend_spark.sources.loaders import load_table

    p = plan(token_pack(load_table(spark, SF_SMOKE, "documents")))
    assert "rangepartitioning" in p  # sample-sorted data pass
    assert "Broadcast" in p  # offsets join, not a shuffle
    assert "BatchEvalPython" not in p


def test_simhash_pairs_band_join_not_cartesian(spark):
    # Pigeonhole blocking must join on (band, value) keys — never all-pairs —
    # and the hot-band exclusion side must broadcast.
    from apmbackend_spark.operators.dedup import simhash_pairs
    from apmbackend_spark.sources.loaders import load_table

    p = plan(simhash_pairs(load_table(spark, SF_SMOKE, "documents")))
    assert "CartesianProduct" not in p
    assert "Broadcast" in p
    assert "BatchEvalPython" not in p


def test_q6_all_predicates_pushed_to_scan(spark):
    from apmbackend_spark.operators.relational import q6_forecast_revenue

    p = plan(q6_forecast_revenue(spark, SF_SMOKE))
    lines = p.splitlines()
    pushed = [l for l in lines if "PushedFilters" in l]
    # every predicate column reaches the parquet scan as a pushed filter
    assert pushed and all(
        c in pushed[0] for c in ("l_shipdate", "l_discount", "l_quantity")
    )
    # projection pruned to the 4 referenced columns
    read_schemas = [l for l in lines if "ReadSchema" in l]
    assert read_schemas and all(
        "l_partkey" not in l and "l_returnflag" not in l for l in read_schemas
    )
    # single-group agg: partial map-side + final, one exchange between
    assert p.count("HashAggregate") >= 2


def test_q4_semi_join_keeps_orders_narrow(spark):
    from apmbackend_spark.operators.relational import q4_priority_semijoin

    p = plan(q4_priority_semijoin(spark, SF_SMOKE))
    assert "LeftSemi" in p
    # lineitem probe side reads only the join/predicate columns
    read_schemas = [l for l in p.splitlines() if "ReadSchema" in l and "l_orderkey" in l]
    assert read_schemas and all("l_extendedprice" not in l for l in read_schemas)


def test_parts_never_shipped_anti_join_after_distinct(spark):
    from apmbackend_spark.operators.relational import parts_never_shipped

    p = plan(parts_never_shipped(spark, SF_SMOKE))
    assert "LeftAnti" in p
    # the shipped-keys side must pre-aggregate (distinct) before the join:
    # a partial_ aggregate on l_partkey appears below the join
    assert "partial" in p.lower()
    assert "CartesianProduct" not in p


def test_corpus_dedup_no_text_shuffle(spark):
    # The kept-set join must key on doc_id; the text column must not appear
    # in any exchange input (it is never selected at all).
    from apmbackend_spark.operators.dedup import corpus_dedup
    from apmbackend_spark.sources.loaders import load_table

    df = corpus_dedup(load_table(spark, SF_SMOKE, "documents"))
    assert "text" not in df.columns
    p = plan(df)
    assert "CartesianProduct" not in p


def test_ann_ivf_probes_not_cartesian(spark):
    # The scale path must never cross-join query x corpus: centroids are
    # broadcast, and the candidate join is keyed on list_id.
    from apmbackend_spark.operators.similarity import ann_ivf
    from apmbackend_spark.sources.loaders import load_table

    p = plan(ann_ivf(load_table(spark, SF_SMOKE, "embeddings")))
    assert "Broadcast" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_ann_ivf_2level_routed_serving_not_cartesian(spark):
    # the routed serving path must keep the ann_ivf exchange contract:
    # cells/lists/routing map broadcast, candidate join keyed on list_id,
    # no query x corpus cartesian, no Python in the plan
    from apmbackend_spark.operators.similarity import ann_ivf_2level
    from apmbackend_spark.sources.loaders import load_table

    p = plan(
        ann_ivf_2level(
            load_table(spark, SF_SMOKE, "embeddings"), l1_factor=2, probe_l1=3
        )
    )
    assert "Broadcast" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_ivfpq_search_2level_codes_only_no_cartesian(spark):
    # the routed ivfpq keeps the codes-only ADC contract: no query x
    # corpus cartesian, candidate exchange without the embedding column
    from apmbackend_spark.operators.similarity import ivfpq_search_2level
    from apmbackend_spark.sources.loaders import load_table

    p = plan(ivfpq_search_2level(load_table(spark, SF_SMOKE, "embeddings")))
    assert "Broadcast" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_kmeans_train_broadcasts_centroids_no_cartesian(spark):
    # kmeans_train evaluates eagerly per iteration (bounded cache), so the
    # plan to audit is the per-iteration ASSIGN step, not the returned
    # (local) convergence frame.
    from pyspark.sql import functions as F

    from apmbackend_spark.operators import similarity as sim
    from apmbackend_spark.sources.loaders import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    vecs = embs.select("vec_id", sim._quantize(F.col("embedding")).alias("v"))
    cent = embs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("list_id"),
        sim._quantize(F.col("embedding")).alias("centv"),
    )
    p = plan(sim._assign_step(vecs, cent))
    # every ASSIGN is a broadcast of the centroid side, never a
    # partition-cartesian of the corpus against itself
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # the convergence counters stay scalar aggregates (no Python UDFs)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_props_rollup_prunes_scan_and_stays_jvm(spark):
    import __spark_entry__ as e

    p = plan(e.queries()["props_rollup"](spark, SF_SMOKE))
    # scan reads only the two needed columns; JSON parse is codegen'd
    read_schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schemas
    assert all("user_id" not in l and "value" not in l for l in read_schemas)
    assert any("props" in l and "event_type" in l for l in read_schemas)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_log_extract_single_stage_no_python(spark):
    import __spark_entry__ as e

    p = plan(e.queries()["log_extract"](spark, SF_SMOKE))
    # stateless synthesize+extract: no semantic shuffle, no Python
    import re

    assert len(re.findall(r"hashpartitioning", p)) == 0
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_incident_windows_equi_join_not_theta(spark):
    # The interval containment join must plan as a hash/sort-merge join on
    # (server, bucket) with the range predicate as residual — a nested-loop
    # theta join would be O(n*m) per server and die at scale.
    from apmbackend_spark.operators.correlation import incident_windows
    from apmbackend_spark.sources.tx import load_tx

    p = plan(incident_windows(load_tx(spark, SF_SMOKE)))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_lang_id_is_single_scan_no_shuffle(spark):
    # The trigram-profile scoring runs inside one codegen scan stage: no
    # explode, no join, no Exchange anywhere in the plan.
    from apmbackend_spark.operators.langid import lang_id
    from apmbackend_spark.sources.loaders import load_table

    p = plan(lang_id(load_table(spark, SF_SMOKE, "documents")))
    assert "Exchange" not in p
    assert "Generate" not in p  # no explode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_corpus_mixture_rate_join_is_broadcast(spark):
    # The |sources|-row rate table must broadcast back onto the corpus —
    # the text never shuffles.
    from apmbackend_spark.operators.prepare import corpus_mixture
    from apmbackend_spark.sources.loaders import load_table

    p = plan(corpus_mixture(load_table(spark, SF_SMOKE, "documents")))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_scd2_single_key_join_history_not_joined(spark):
    # Exactly one equi-join (current slice vs snapshot); history rows
    # union through without joining. No nested-loop anywhere.
    from apmbackend_spark.operators.scd import scd2_customer
    from apmbackend_spark.sources.loaders import load_table

    p = plan(scd2_customer(load_table(spark, SF_SMOKE, "customer")))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # Catalyst specializes the logical full-outer per union leg (the carried
    # leg keeps only the left side -> LeftOuter, the closed leg needs both
    # -> Inner, the opened leg -> RightOuter) — every physical join must be
    # a keyed hash join, one per leg, never a nested loop.
    n_joins = p.count("SortMergeJoin") + p.count("BroadcastHashJoin") + p.count("ShuffledHashJoin")
    assert n_joins >= 1
    assert "Join type: LeftOuter" in p or "Join type: FullOuter" in p


def test_doc_fingerprint_zero_shuffle_no_python(spark):
    # winnowing is ONE codegen projection: no Exchange beyond the ingest
    # spread (none on a pre-parallel source), no explode, no Python
    from apmbackend_spark.operators.dedup import doc_fingerprint
    from apmbackend_spark.sources.loaders import load_table

    docs = load_table(spark, SF_SMOKE, "documents")  # no spread: raw scan
    p = plan(doc_fingerprint(docs))
    assert "Exchange" not in p
    assert "Generate" not in p  # no explode — arrays fold per-row
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_url_domains_single_rollup_shuffle(spark):
    # text never shuffles: the only Exchanges key the (doc_id, domain)
    # pairs for the rollup (partial + final around one Exchange per agg
    # phase; countDistinct adds its expand stage but still no text column)
    from apmbackend_spark.operators.textstats import url_domains
    from apmbackend_spark.sources.loaders import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    p = plan(url_domains(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # shuffles carry only domain/doc_id/count columns, never `text`
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1)


def test_bloom_join_profile_injects_runtime_filter(spark):
    # the filtered dim side must build a bloom_filter_agg subquery and the
    # fact scan must carry a might_contain predicate (runtime row-level
    # pruning — the shuffle-join sibling of DPP)
    from apmbackend_spark.operators.relational import bloom_join_profile

    p = plan(bloom_join_profile(spark, SF_SMOKE))
    assert "might_contain" in p
    assert "bloom_filter_agg" in p


def test_queue_codec_stays_jvm_side(spark):
    # The wire protocol encode->replay->decode->account pipeline is pure
    # column expressions: no Python eval anywhere, and the only wide
    # exchange is the final 8-column accounting groupBy.
    from apmbackend_spark.sources.queue import queue_roundtrip_gate

    p = plan(queue_roundtrip_gate(spark, SF_SMOKE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_retention_sweep_reads_only_surviving_partitions(spark):
    # after the metadata drop, the rollup's scan must list only surviving
    # day directories (partition values below the cutoff are gone)
    from apmbackend_spark.sources.partitioned import (
        RETENTION_CUTOFF_DAY,
        retention_sweep,
    )

    df = retention_sweep(spark, SF_SMOKE)
    days = [r["log_date"] for r in df.select("log_date").distinct().collect()]
    assert days and min(days) >= RETENTION_CUTOFF_DAY
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_doc_span_dup_single_scan_via_checkpoint(spark):
    # round-5 fix: plain exchange reuse did NOT materialize for the two
    # consumers of the (doc_id, fp) pre-aggregate (the round-4 regression:
    # the tokenize+slice+hash scan ran twice), so the pre-aggregate is
    # eagerly localCheckpoint()ed. Assert the mechanism: no pinned cache,
    # both consumers read the checkpointed RDD, and the heavy text-reading
    # scan appears NOWHERE in the final plan (it ran exactly once, at
    # checkpoint time).
    from apmbackend_spark.operators.dedup import doc_span_dup
    from apmbackend_spark.sources.loaders import load_table, spread

    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    df = doc_span_dup(docs)
    p = plan(df)
    assert "InMemoryRelation" not in p
    assert p.count("ExistingRDD") >= 2  # both consumers on the checkpoint
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # the only parquet scan left is the doc_id projection for the outer
    # join back — nothing re-reads text
    assert "text" not in executed.lower().replace("context", "")


def test_charlm_score_model_broadcast_shared_pretri(spark):
    # the (doc_id, tri) pre-aggregate must be shared (reused exchange),
    # the model must come back as a broadcast, never a cartesian product,
    # and nothing drops to Python
    from apmbackend_spark.operators.langid import charlm_score
    from apmbackend_spark.sources.loaders import load_table, spread

    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    df = charlm_score(docs)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    assert "BroadcastHashJoin" in executed or "BroadcastNestedLoopJoin" in executed


def test_q7_broadcasts_nation_dims_no_cartesian(spark):
    from apmbackend_spark.operators.relational import q7_volume_shipping

    p = plan(q7_volume_shipping(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    # supplier-side and customer-side nation lookups each broadcast
    assert p.count("BroadcastHashJoin") >= 2


def test_q14_single_pass_conditional_aggregate(spark):
    from apmbackend_spark.operators.relational import q14_promo_effect

    p = plan(q14_promo_effect(spark, SF_SMOKE))
    # part is the broadcast dim; the month window reaches the scan
    assert "BroadcastHashJoin" in p
    assert "PushedFilters" in p and "l_shipdate" in p
    # numerator and total share one aggregate: exactly one final
    # single-group HashAggregate pair, no self-join/union of scans
    assert "Union" not in p


def test_q19_disjunction_stays_one_join(spark):
    import re

    from apmbackend_spark.operators.relational import q19_bracketed_revenue

    p = plan(q19_bracketed_revenue(spark, SF_SMOKE))
    assert "Union" not in p  # OR-of-ANDs must not become 3 unioned scans
    # formatted explain prints each node twice (tree + details): count
    # detail headers — exactly ONE join, disjunction inside its condition
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1
    assert "CartesianProduct" not in p


def test_q10_prunes_orders_and_takeordered_topk(spark):
    from apmbackend_spark.operators.relational import q10_returned_items

    p = plan(q10_returned_items(spark, SF_SMOKE))
    # the quarter window and the returnflag filter both reach their scans
    assert "PushedFilters" in p and "o_orderdate" in p
    assert "l_returnflag" in p
    # top-20 via TakeOrderedAndProject, never a global unpartitioned
    # window over all customers
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q12_one_rollup_no_union(spark):
    from apmbackend_spark.operators.relational import q12_delay_bands

    p = plan(q12_delay_bands(spark, SF_SMOKE))
    # both priority counters and all three bands ride ONE aggregate —
    # never a scan/union per band
    assert "Union" not in p
    assert "CartesianProduct" not in p


def test_q16_distinct_pairs_before_broadcast_join(spark):
    from apmbackend_spark.operators.relational import q16_supplier_variety

    p = plan(q16_supplier_variety(spark, SF_SMOKE))
    # part is the broadcast dim; lineitem is pruned to the two key cols
    assert "BroadcastHashJoin" in p
    assert "ReadSchema" in p
    import re

    m = re.search(r"ReadSchema: struct<l_partkey[^>]*>", p)
    assert m and "l_extendedprice" not in m.group(0), p[:500]


def test_q22_anti_join_with_pruned_orders(spark):
    from apmbackend_spark.operators.relational import q22_idle_customers

    p = plan(q22_idle_customers(spark, SF_SMOKE))
    # dormancy = LEFT ANTI against the cutoff-filtered orders scan
    assert "LeftAnti" in p
    assert "PushedFilters" in p and "o_orderdate" in p
    assert "CartesianProduct" not in p


def test_hybrid_rrf_postings_only_and_broadcast_dims(spark):
    from apmbackend_spark.operators.retrieval import hybrid_rrf
    from apmbackend_spark.sources.loaders import load_table

    df = hybrid_rrf(
        load_table(spark, SF_SMOKE, "documents"),
        load_table(spark, SF_SMOKE, "embeddings"),
    )
    p = plan(df)
    # query-term dim, df rollup and corpus stats ride broadcasts; the only
    # cross joins are broadcast-nested-loop of single-row stats
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # the lexical leg never explodes the full corpus token stream: the
    # explode runs on the FILTERED hits array (generator input is `hits`,
    # never a bare tokens/split of text)
    gen_lines = [l for l in p.splitlines() if "Generate" in l]
    assert gen_lines and all("hits" in l for l in gen_lines if "explode" in l)


def test_ivf_probe_curve_single_scored_frame(spark):
    from apmbackend_spark.operators.similarity import ivf_probe_curve
    from apmbackend_spark.sources.loaders import load_table

    df = ivf_probe_curve(load_table(spark, SF_SMOKE, "embeddings"))
    p = plan(df)
    # the scored frame is checkpoint-pinned: the three probe points must
    # reuse it (scan appears per leg) rather than re-deriving the
    # crossJoin+argmin assignment — no corpus-wide assignment windows
    # survive into the fused plan
    assert "Scan ExistingRDD" in p
    # centroid fan-outs are broadcast, never a shuffled cartesian
    assert "CartesianProduct" not in p


def test_q15_pushed_window_and_broadcast_max(spark):
    from apmbackend_spark.operators.relational import q15_top_supplier

    p = plan(q15_top_supplier(spark, SF_SMOKE))
    # the per-supplier rollup is checkpoint-pinned (the quarter-pruned
    # lineitem scan ran ONCE at pin time): the scalar max and the probe
    # both read the pinned frame, the max and supplier dim ride
    # broadcasts, and the fact table never scans in this plan
    assert "Scan ExistingRDD" in p
    scan_lines = [l for l in p.splitlines() if "Scan parquet" in l]
    assert all("lineitem" not in l for l in scan_lines)
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q17_part_class_broadcast_and_pinned_hits(spark):
    from apmbackend_spark.operators.relational import (
        q17_small_quantity_revenue,
    )

    p = plan(q17_small_quantity_revenue(spark, SF_SMOKE))
    # the compact hits frame is checkpoint-pinned (the part-class scan and
    # broadcast join ran ONCE at pin time, so no parquet scan survives
    # into this plan), and the per-part stats rejoin rides a broadcast
    assert "Scan ExistingRDD" in p
    assert "Scan parquet" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q21_pinned_join_and_takeordered(spark):
    from apmbackend_spark.operators.relational import q21_waiting_suppliers

    p = plan(q21_waiting_suppliers(spark, SF_SMOKE))
    # the joined frame is pinned once for both the per-order stats and the
    # probe (the status-filtered orders join ran at pin time — only the
    # supplier dim still scans parquet, as a broadcast); top-20 via
    # TakeOrderedAndProject
    assert "Scan ExistingRDD" in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q2_argmin_no_window_and_takeordered(spark):
    from apmbackend_spark.operators.relational import q2_min_cost_supplier

    p = plan(q2_min_cost_supplier(spark, SF_SMOKE))
    # the per-part argmin is a struct-MIN aggregate, never a row_number
    # window over the corpus; the part-class and type filters reach the
    # part scan; top-100 via TakeOrderedAndProject
    assert "Window" not in p
    assert "PushedFilters" in p and "p_type" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q8_single_conditional_rollup(spark):
    from apmbackend_spark.operators.relational import q8_market_share

    p = plan(q8_market_share(spark, SF_SMOKE))
    # numerator and denominator ride ONE aggregate (conditional sum), not
    # a union of per-nation scans; the date window reaches the orders scan
    assert "Union" not in p
    assert "o_orderdate" in p and "PushedFilters" in p
    assert "CartesianProduct" not in p


def test_q9_broadcast_dims_name_filter_pushed(spark):
    from apmbackend_spark.operators.relational import q9_product_profit

    p = plan(q9_product_profit(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    # the name-token filter prunes the part scan (StringContains pushes)
    assert "p_name" in p
    assert "CartesianProduct" not in p


def test_q11_threshold_is_broadcast_scalar(spark):
    from apmbackend_spark.operators.relational import q11_important_stock

    p = plan(q11_important_stock(spark, SF_SMOKE))
    # the grand total joins back as a broadcast single row (nested-loop
    # broadcast is fine; a shuffled cartesian is not)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_q20_rollup_pinned_once(spark):
    from apmbackend_spark.operators.relational import q20_dominant_suppliers

    p = plan(q20_dominant_suppliers(spark, SF_SMOKE))
    # the (part, supplier) rollup is checkpoint-pinned: the per-part total
    # and the probe side both read it, so the lineitem fact never scans in
    # this plan at all (only the supplier/nation/region dims still do)
    assert "Scan ExistingRDD" in p
    scan_lines = [l for l in p.splitlines() if "Scan parquet" in l]
    assert scan_lines and all("lineitem" not in l for l in scan_lines)
    assert "CartesianProduct" not in p


def test_ivf_assign_2level_broadcast_routing_no_cartesian(spark):
    from apmbackend_spark.operators.similarity import ivf_assign_2level
    from apmbackend_spark.sources.loaders import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    p = plan(ivf_assign_2level(embs, probe_l1=1))
    # both routing stages ride broadcasts of the tiny centroid frames
    # (cells, the list->cell map, the list centroids); the corpus never
    # joins corpus-sized state and no unhinted cartesian appears
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 3


def test_bloom_dedup_no_cartesian_combinable_bits(spark):
    from apmbackend_spark.operators.dedup import bloom_dedup
    from apmbackend_spark.sources.loaders import load_table

    p = plan(bloom_dedup(load_table(spark, SF_SMOKE, "documents")))
    # position inserts/probes are explodes + hash aggregates; the filter
    # is a DISTINCT position set, never a pairwise stage
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_ccnet_buckets_threshold_dim_broadcast(spark):
    from apmbackend_spark.operators.langid import ccnet_buckets
    from apmbackend_spark.sources.loaders import load_table

    p = plan(ccnet_buckets(load_table(spark, SF_SMOKE, "documents")))
    # the |langs|-row p33/p66 dim rides a broadcast back onto the scores
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_ccnet_buckets_sketch_threshold_dims_broadcast(spark):
    from apmbackend_spark.operators.langid import ccnet_buckets_sketch
    from apmbackend_spark.sources.loaders import load_table

    p = plan(ccnet_buckets_sketch(load_table(spark, SF_SMOKE, "documents")))
    # BOTH threshold dims (exact p33/p66 and the sub-octave sketch
    # s33/s66) broadcast back onto the scores; the fold stays JVM-side
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_unigram_train_soft_no_python_no_cartesian(spark):
    # the softfloat forward-backward must stay an in-row codegen fold:
    # vocab/model joins broadcast, no Python, no query x corpus cartesian
    from apmbackend_spark.operators.unigram import unigram_train_soft
    from apmbackend_spark.sources.loaders import load_table

    df = unigram_train_soft(load_table(spark, SF_SMOKE, "documents"))
    p = plan(df)
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_nb_quality_no_python_constants_broadcast(spark):
    # the classifier is pure DataFrame algebra: no Python anywhere, the
    # 1-row priors/denominators frames ride broadcast joins, and the
    # word-score join is NOT a cartesian
    from apmbackend_spark.operators.selection import nb_quality
    from apmbackend_spark.sources.loaders import load_table

    df = nb_quality(load_table(spark, SF_SMOKE, "documents"))
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_temp_mixture_no_python_no_cartesian_single_rollup(spark):
    # one corpus-sized rollup (the per-language tokenize), then
    # |langs| x |alphas| rows: no Python, no cartesian beyond the
    # broadcast alpha fan-out, exactly one corpus aggregate
    from apmbackend_spark.operators.prepare import temp_mixture
    from apmbackend_spark.sources.loaders import load_table

    df = temp_mixture(load_table(spark, SF_SMOKE, "documents"))
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    import re

    # ONE corpus scan feeds the sweep (numbered node, not the summary)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_ann_dim_curve_broadcast_corpus_one_scan_pair(spark):
    # the dims sweep rides ONE scoring join (corpus side broadcast, the
    # bruteforce-baseline contract) — no cartesian, no Python
    from apmbackend_spark.operators.similarity import ann_dim_curve
    from apmbackend_spark.sources.loaders import load_table

    df = ann_dim_curve(load_table(spark, SF_SMOKE, "embeddings"))
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # q != c with broadcast corpus


def test_lsh_band_plan_no_corpus_scan_in_curve(spark):
    # the planning integral is config math: the documents scan
    # contributes exactly the one-row anchor, and the curve itself is
    # explode + in-row folds — no Python, no shuffle-heavy join
    from apmbackend_spark.operators.dedup import lsh_band_plan
    from apmbackend_spark.sources.loaders import load_table

    df = lsh_band_plan(load_table(spark, SF_SMOKE, "documents"))
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_wordpiece_encode_broadcast_vocab_no_python(spark):
    # MaxMatch runs as an in-row fold over the distinct-pretoken frame;
    # the per-word stats join back by BROADCAST; no Python anywhere
    from apmbackend_spark.operators.textstats import wordpiece_encode
    from apmbackend_spark.sources.loaders import load_table

    df = wordpiece_encode(load_table(spark, SF_SMOKE, "documents"))
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_python_stages_run_one_task_per_slot(spark, tmp_path):
    """Every grouped-map Python stage shuffles into exactly
    defaultParallelism partitions through the coalescing-exempt
    REPARTITION_BY_NUM exchange (a Python task costs ~0.3 s to start, so
    more tasks than slots only adds waves), and the alert tail is ONE
    grouped map per service."""
    import glob
    import re

    import __spark_entry__ as e

    from apmbackend_spark.sources.logchunk import parse_logs_chunked
    from apmbackend_spark.sources.loggen import generate
    from apmbackend_spark.sources.logparse import classify_file, parse_logs

    generate().write(str(tmp_path))
    logs = f"{tmp_path}/logs/*/*.log"
    chunkable = [p for p in glob.glob(logs) if classify_file(p) != "SOAP"]
    cases = {
        "parse_logs": (parse_logs(spark, logs), r"path#\d+"),
        "logchunk scan": (
            parse_logs_chunked(spark, chunkable, chunk_bytes=1 << 12),
            r"path#\d+, off#\d+L",
        ),
        "zscore_recursive": (
            e.queries()["zscore_recursive"](spark, SF_SMOKE),
            r"server#\d+, service#\d+",
        ),
        "alert_pipeline": (e.queries()["alerts"](spark, SF_SMOKE), r"service#\d+"),
    }
    want = (str(spark.sparkContext.defaultParallelism), "REPARTITION_BY_NUM")
    for name, (df, keys) in cases.items():
        df.collect()  # the executed (final adaptive) plan
        p = plan(df)
        found = re.findall(
            rf"^Arguments: hashpartitioning\({keys}, (\d+)\), (\w+)", p, re.M
        )
        assert found and set(found) == {want}, (name, found)
        if name == "alert_pipeline":
            final = p.split("\n+- == Initial Plan ==")[0]
            assert final.count("FlatMapGroupsInPandas (") == 1, final
