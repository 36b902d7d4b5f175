"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (headline queries + ratio summaries —
kept well under the driver's ~2000-char stdout tail window):
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {headline: sec, ...}, "sf": "...",
   "detail": "BENCH_DETAIL.json"}
and writes the full per-query / scaling / throughput record to
BENCH_DETAIL.json next to this file.

Mirrors the reference's architecture (and its BASELINE anchors):
the medallion is materialized ONCE (bronze→silver→gold parquet —
timed as ``etl_silver_gold``, the analog of the reference's 5-min
silver+gold batch over ~1M rows), then the analytics views query the
materialized gold tables (the reference's Trino-over-gold path).
Relational/LLM queries read the testdata directly. Every query is
forced end-to-end with the noop sink.

Every sample is one ``lakebench.trace`` span, and every session keeps
a Spark event log; BENCH_DETAIL.json's ``layers`` block folds it into
per-entry counters (jobs, tasks, task CPU, GC, shuffle/spill/I/O
bytes, driver-only time, build and execution time).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from lakebench.trace import Tracer, fold
from real_time_fraud_detection_lakehouse_spark.core.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: views/dashboards run over the materialized gold tables
DOMAIN = [
    "daily_summary",
    "hourly_summary",
    "state_summary",
    "merchant_analysis",
    "time_period_analysis",
    "dash_multi_factor",
    "rule_predictions",
    # round-13: the post-close r12 digit screen (the documented
    # precedent: registered+oracled in r12, timed from r13) + the
    # fraud-ring graph pair/CC ops
    "dash_benford_by_fraud",
    "dash_fraud_ring_pairs",
    "dash_fraud_rings",
    "dash_fraud_ring_stats",
    "dash_fraud_hotspots",
    "dash_category_anomaly_mad",
    "dash_merchant_risk_propagation",
    "dash_fraud_rate_cusum",
    "dash_impossible_travel",
    "dash_new_merchant_risk",
    "dash_round_amount_bias",
    # round-14: ring activity timeline + weekday-aware MAD screen +
    # card-testing probe clusters + rolling-hour velocity burst
    "dash_ring_evolution",
    "dash_seasonal_anomaly",
    "dash_card_testing",
    "dash_velocity_burst",
    "dash_card_amount_anomaly",
    "dash_ring_triangles",
    "dash_merchant_centrality",
    # round-15: the truncation audit (one extra unrolled PageRank
    # round) + the centrality x risk-lift composite screen + the
    # score gain/capture curve (every-cut threshold evaluation)
    "dash_centrality_convergence",
    "dash_mule_hubs",
    "dash_score_gain",
    "dash_card_hubs",
    # round-15 late: the ring x mule-hub composition (reads the
    # session-shared ring membership + the hub conjunction)
    "dash_ring_hub_exposure",
    # round-16: the risk-propagation truncation audit (one extra
    # unrolled message-passing round over the shared edge projection)
    # + the per-week ring-hub exposure trend (lag window over the
    # O(rings x weeks) rollup)
    "dash_rp_convergence",
    "dash_ring_hub_trend",
]

#: operators that read the testdata tables directly
DIRECT = [
    "q_pricing_summary",
    "q_top_customers",
    "q_regional_revenue",
    "q_user_velocity",
    "q_user_sessions",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_ivf",
    "similarity_cosine_topk",
    "text_stats",
    "text_tfidf_topk",
    "q_asof_click_purchase",
    "q_grouping_sets_priority",
    "q_pivot_status_by_priority",
    "q_range_join_clicks",
    "text_chunks",
    "docs_stratified_sample",
    "docs_per_source_cap",
    "q_psi_price_drift",
    "dedup_clusters",
    "text_top_ngrams",
    "docs_pack_sequences",
    "docs_decontaminate",
    "q_salted_join_parts",
    "q_salted_skew_agg",
    "q_weighted_sample",
    "docs_strip_boilerplate",
    "docs_repetition_stats",
    "docs_pii_scrub",
    "docs_mix_weights",
    "docs_epoch_shuffle",
    "docs_bm25_search",
    "embedding_pca_project",
    "docs_hybrid_rrf",
    "dedup_semantic",
    "q_scd2_customer_history",
    "q_top_supplier_revenue",
    "q_small_qty_revenue",
    "q_sales_opportunity",
    "q_events_gapfill_ffill",
    "docs_dup_spans",
    "docs_exact_substr_dedup",
    "q_shipping_priority",
    "q_nation_trade_volume",
    "q_large_volume_customers",
    "docs_dsir_weights",
    "text_bpe_merges",
    "q_shuffled_hash_join",
    "q_ewma_daily_value",
    "q_quality_report",
    "q_events_variant",
    "text_bpe_tokenize",
    "text_char_entropy",
    # round-7 operators (timed from round 8 onward)
    "q_suppliers_kept_waiting",
    "q_priority_order_check",
    "q_min_cost_supplier",
    "docs_curate_pipeline",
    "docs_curate_pipeline_scored",
    "docs_unigram_logprob",
    # round-8 operators
    "q_local_supplier_volume",
    "q_market_share",
    "q_returned_item_customers",
    "q_disjunctive_revenue",
    "q_dominant_suppliers",
    "q_promo_revenue_share",
    "q_product_profit",
    "q_parts_supplier_relationship",
    "q_important_inventory",
    "q_late_shipment_priority",
    "corpus_to_batches",
    # round-9 operators (timed from round 10 onward)
    "docs_contamination_report",
    "dedup_cluster_stats",
    # round-10 operators
    "docs_dedup_keep_best",
    "docs_dedup_incremental",
    # round-11 operators
    "docs_split_leakage_safe",
    "docs_corpus_build",
    # round-11 corpus-analytics quartet + the bounded-memory top-K twin
    "docs_cross_overlap",
    "docs_ngram_novelty",
    "text_vocab_coverage",
    "text_zipf_fit",
    "text_top_ngrams_mg",
    # round-11 statistical quality gate
    "docs_lm_perplexity",
    # round-11 sketch family + the windowless RFM segmentation
    "docs_bloom_decontaminate",
    "q_distinct_users_hll_rollup",
    "q_customer_rfm",
    # round-11 continuation: budgeted mixture cut + sketch overlap
    "docs_sample_to_budget",
    "q_user_overlap_hll",
    # round-11 continuation: Pareto decile concentration
    # (multimodal_phash_dedup / multimodal_phash_dct_dedup are
    # deliberately NOT timed here — the text_bpe_merges_512 precedent:
    # the Python decode kernel costs ~14 s at sf0.1 (isolated
    # min-of-2, recorded in COVERAGE.md) and timing a demo kernel
    # twice would grow the suite for no plan signal; the DIRECT loop
    # hard-errors on names with no builder so nothing can silently
    # skip again)
    "q_revenue_concentration",
    # round-12: the three post-close r11 ops (the lm_perplexity
    # precedent — registered + oracled last round, timed from their
    # first full round)
    "q_user_overlap_exact",
    "docs_sample_epochs",
    "q_events_dau_wau",
    # round-12 new surface: deletion-neighborhood edit-distance join,
    # robust MAD anomaly, Benford screen, market-basket pair mining
    "dedup_fuzzy_names",
    "q_revenue_anomaly_mad",
    "q_orders_benford",
    "q_market_basket_pairs",
    "text_collocations_pmi",
    "q_basket_rules",
    "q_referential_integrity",
    "dedup_fuzzy_canonical",
    # round-13: the mergeable decimal log-bucket quantile sketch,
    # both axes (order prices / corpus doc lengths) + the corpus
    # constraint suite
    "q_price_quantile_sketch",
    "docs_length_quantile_sketch",
    "docs_quality_report",
    # round-14: depth-2 FastSS edit-distance join (L²/2 variant
    # fan-out — the documented memory/recall trade one step deeper)
    # + the Gopher per-document drop-rule screen
    "dedup_fuzzy_names_d2",
    "docs_gopher_rules",
    # round-15: CC + density audit over the d2 pair stream (the pair
    # join dominates; the audit adds two keyed aggregates)
    "dedup_fuzzy_canonical_d2",
    # round-15 (verdict #2 / the explicit-exclusion audit): the two
    # former UNTIMED variants that measured >=1s warm at sf0.1 in the
    # r15 classification sweep (1.30s / 1.05s) — past the variant
    # band, so they graduate to the timed suite
    "docs_token_budget_report",
    "docs_dedup_apply",
    # round-15 late: asymmetric containment pairs on the shared
    # prefix-bucket gram projection (the Jaccard op's machinery) +
    # the actionable subset-dedup apply over that pair stream
    "dedup_ngram_containment",
    "docs_dedup_containment_apply",
    # round-16: the exact-recall prefix-filter containment join
    # (rarest-gram probes vs the posting list; the all-pairs relation
    # from a bounded plan) + its actionable apply twin
    "dedup_containment_global",
    "docs_dedup_containment_global_apply",
    "docs_containment_by_source",
]

#: Host-stall resilience (r16): this sandbox class shows occasional
#: multi-minute whole-VM stalls (hypervisor steal; dmesg hrtimer
#: warnings). The default 120 s heartbeat timeout then removes the
#: local "executor" mid-suite and wedges the app (observed once in
#: phase 6 this round: "no recent heartbeats: 190837 ms exceeds
#: 120000"). A local[*] run has no real executor liveness question —
#: the executor IS the driver JVM — so a generous timeout only trades
#: dead-peer detection we don't need for survival through stalls.
#: Timings are unaffected (the probe normalization absorbs slow hosts).
_RESILIENCE_CONF = {
    "spark.network.timeout": "600s",
    "spark.executor.heartbeatInterval": "30s",
}

#: phase 3 re-opens a fresh session every N timed entries: session
#: heap/state wear is MONOTONE across a ~70-entry phase, so r9's
#: back-to-back min-of-2 still recorded a uniform +0.15-0.25 s drift
#: on entries timed late in the phase (≥6 movers >1.4x, all of which
#: re-measured at their old numbers in a fresh session — round-10
#: verdict #2). Bounding the wear window kills the artifact
#: structurally instead of triaging it per round.
FRESH_EVERY = 30

#: queries re-timed (warm) at sf0.1 and at the key-shifted replica to
#: produce the standing scaling block; SPARK_GRAFT_SCALING=0 skips it
SCALING_QUERIES = [
    "q_pricing_summary",
    "q_top_customers",
    "q_user_velocity",
    "dedup_exact",
    "text_stats",
    "text_tfidf_topk",
    # r8: a 6-table broadcast-discipline join for the 10x block (the
    # simpler shapes above never stress multi-join plan scaling)
    "q_local_supplier_volume",
    # r11 continuation: the windowless quantile-banding family gets a
    # 10x datapoint — the claim is precisely that banding by a 1-row
    # percentile aggregate scales where unpartitioned ntile cannot
    "q_customer_rfm",
    # r12: the inverted trailing-window DAU/WAU — the x7 explode is
    # the one new fan-out idiom without a recorded scaling ratio; the
    # claim is that WAU costs two keyed aggs over a x7 projection,
    # never a range self-join, so 10x users ~ 10x time, not 100x
    "q_events_dau_wau",
    # r13: the mergeable quantile sketch — the claim is that ANY input
    # volume collapses to O(groups x buckets) histogram rows in one
    # keyed count, so 10x rows ~ scan-bound, the walk constant
    "q_price_quantile_sketch",
]
SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
SCALE_COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))

#: the 100x block grounds the 100 TB dedup claims with one real
#: two-decade datapoint on the composed scale path (documents-only
#: replica; SPARK_GRAFT_SCALING_100X=0 skips it)
SCALING_100X = os.environ.get("SPARK_GRAFT_SCALING_100X", "1") != "0"
SCALING_100X_QUERIES = [
    "dedup_exact",
    "dedup_clusters_lsh",
    "docs_dup_spans",
    "docs_curate_pipeline",
    "corpus_to_batches",
    # r9 (verdict #7): the BPE trainer's "one pair-count job per ROUND,
    # rounds ≪ merges" claim gets a driver-recorded datapoint beyond
    # sf0.1 — fast-mode 512-vocab, batch 32, over the 100x replica.
    # Deliberately NOT in DIRECT: its base timing is recorded here
    # (isolated probe: base ~7.7 s, scaled ~35 s min-of-2), and timing
    # it twice would grow the suite for no extra signal.
    "text_bpe_merges_512",
    # r10: the incremental ingest dedup's arrival-proportional claim
    # gets a 100x datapoint — arrivals are the top ~20% of doc_ids of
    # the replica, so the candidate join's right side grows with
    # arrivals while the left side is the full 100x corpus projection
    "docs_dedup_incremental",
    # r11 (verdict #7): the composed corpus build — curation + ONE
    # cluster computation (election + split) + pack — gets its
    # two-decade datapoint
    "docs_corpus_build",
    # r11 (late): the bloom gate's constant-sketch claim — the build
    # side is eval-set-sized (fixed here), so the 100x ratio should
    # track the corpus scan, with the 512 KiB bitmap build unchanged
    "docs_bloom_decontaminate",
]

#: the ~15 queries carried on the compact final JSON line (the full
#: per-query dict goes to BENCH_DETAIL.json — see the emit note below)
HEADLINE = [
    "etl_silver_gold",
    "daily_summary",
    "rule_predictions",
    "q_pricing_summary",
    "q_top_customers",
    "q_user_sessions",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "docs_dup_spans",
    "text_tfidf_topk",
    "text_bpe_tokenize",
    "docs_bm25_search",
    "docs_decontaminate",
    "docs_curate_pipeline",
    "streaming_dedup",
]



#: The EXPLICIT timing-exclusion registry (round-15, r14 verdict's
#: "What's missing #2" / Next #7): every registered ``queries()``
#: entry is either timed by this suite (DOMAIN / DIRECT / the three
#: dedicated-phase entries) or named here under a documented reason —
#: tests/test_entry_contract.py asserts the partition EXACTLY, so a
#: new operator cannot silently skip timing: add it to a timed list
#: or to a reason bucket, deliberately, in the same commit.
#:
#: Reasons:
#: - "variant": plan-shape variants of a timed family member (the
#:   grouped-agg/view/introspection tail). Every one measured < 0.6 s
#:   warm at sf0.1 in the r15 classification sweep (max 0.52 s,
#:   q_supplier_order_volume) — below ~2x the calibration probe,
#:   where timings are scheduler noise, not plan signal. Entries that
#:   outgrow the band graduate to DIRECT (r15 moved
#:   docs_token_budget_report at 1.30 s and docs_dedup_apply at
#:   1.05 s).
#: - "composite": the medallion components (source map, silver, the
#:   five gold builders) — their cost IS the timed etl_silver_gold
#:   composite; timing each alone re-times the same silver scan.
#: - "baseline": quarantined all-pairs oracle baselines whose SCALE
#:   path is timed (dedup_embedding_cosine, 19.6 s at sf0.1 vs its
#:   timed IVF twin — the multimodal_phash precedent: timing the
#:   deliberately-quadratic semantics anchor buys no plan signal).
#: - "lifecycle": snapshot-store lifecycle entries timed in their
#:   dedicated phases (history_published_gold in phase 4c covers the
#:   publish cycle sql_published_daily_summary rides;
#:   docs_dedup_incremental_maintained is timed base+scaled+fold in
#:   phase 6c).
#: - "rows_only": engine-specific rows-only entries (streaming / ML /
#:   sketch / multimodal) — throughput is measured in phases 4/4b
#:   (bronze + dedup rows/s), the 100x blocks (text_bpe_merges_512,
#:   dedup_clusters_lsh), or isolated min-of-2 probes recorded in
#:   COVERAGE.md (the pHash kernels); per-entry suite timings of
#:   fixture-writing wrappers would time tempdir setup, not the
#:   operator.
UNTIMED: dict[str, set[str]] = {
    "variant": {
        "amount_summary",
        "category_summary",
        "class_distribution",
        "confusion_matrix",
        "corpus_sample_hash",
        "dash_age_group",
        "dash_amount_range",
        "dash_category",
        "dash_distance_range",
        "dash_fraud_rate",
        "dash_high_risk",
        "dash_high_value",
        "dash_hourly_fraud",
        "dash_late_night",
        "dash_model_accuracy",
        "dash_monthly_trend",
        "dash_overview",
        "dash_risky_merchants",
        "dash_score_distribution",
        "dash_severity",
        "dash_state_top20",
        "dash_weekend",
        "dedup_ngram_jaccard",
        "docs_clean_pipeline",
        "embedding_label_centroids",
        "embedding_norms",
        "fraud_patterns",
        "latest_metrics",
        "q_brand_revenue_share",
        "q_clickers_not_purchasers",
        "q_cube_returnflag_status",
        "q_customer_order_gaps",
        "q_customers_without_orders",
        "q_distinct_pairs",
        "q_distinct_users",
        "q_epoch_roundtrip",
        "q_events_hourly_window",
        "q_events_json",
        "q_funnel_conversion",
        "q_median_quantity",
        "q_order_count_distribution",
        "q_order_priority",
        "q_parts_ordered",
        "q_price_histogram",
        "q_price_rank_distribution",
        "q_quantity_quantiles",
        "q_repeat_engagers",
        "q_revenue_anomaly_zscore",
        "q_rolling_7d_spend",
        "q_selective_revenue",
        "q_supplier_order_volume",
        "q_union_rebalance",
        "q_unpivot_lineitem_stats",
        "q_user_retention_cohorts",
        "sql_daily_summary",
        "sql_describe_fact",
        "sql_show_tables",
        "text_corpus_stats",
        "text_fingerprint",
        "text_lang_id",
        "text_quality",
        "text_token_count_bpe",
    },
    "composite": {
        "transactions_source",
        "silver_features",
        "gold_fact_transactions",
        "gold_dim_customer",
        "gold_dim_merchant",
        "gold_dim_time",
        "gold_dim_location",
    },
    "baseline": {
        "dedup_embedding_cosine",
    },
    "lifecycle": {
        "sql_published_daily_summary",
        "docs_dedup_incremental_maintained",
    },
    "rows_only": {
        "cdc_python_source",
        "corpus_ingest_cycle",
        "dedup_clusters_lsh",
        "dedup_simhash",
        "dedup_simhash_candidates",
        "docs_classifier_scores",
        "docs_dedup_keep_best_lsh",
        "embedding_kmeans",
        "ml_cv_grid",
        "ml_feature_importance",
        "ml_train_metrics",
        "ml_train_velocity_metrics",
        "multimodal_features",
        "multimodal_phash_dct_dedup",
        "multimodal_phash_dedup",
        "q_distinct_users_approx",
        "similarity_brp_lsh",
        "similarity_ivf_topk",
        "similarity_pq_topk",
        "stateful_velocity",
        "streaming_bloom_curation",
        "streaming_bronze_ingest",
        "streaming_card_amount_anomaly",
        "streaming_card_testing",
        "streaming_centrality_maintained",
        "streaming_containment_gate",
        "streaming_containment_gate_global",
        "streaming_curation",
        "streaming_cusum_monitor",
        "streaming_dau_wau",
        "streaming_distinct_hll",
        "streaming_enrichment",
        "streaming_fk_monitor",
        "streaming_fuzzy_entity_gate",
        "streaming_fuzzy_entity_gate_d2",
        "streaming_gopher_gate",
        "streaming_hourly_windows",
        "streaming_impossible_travel",
        "streaming_incremental_dedup",
        "streaming_interval_join",
        "streaming_interval_join_outer",
        "streaming_quantile_sketch",
        "streaming_ring_hub_trend_maintained",
        "streaming_ring_monitor",
        "streaming_ring_monitor_maintained",
        "streaming_seasonal_anomaly",
        "streaming_state_inspect",
        "streaming_top_ngrams",
        "streaming_velocity_burst",
        "text_bpe_merges_512",
    },
}


#: per-entry counters of the ``layers`` block (``lakebench.trace.fold``)
LAYER_COUNTERS = (
    "jobs", "tasks", "task_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "driver_ms", "build_ms", "exec_ms",
)


def medallion_frames(spark, sf_dir: str, warehouse: str) -> dict:
    """The medallion materialized under ``warehouse``, read back: on the
    first call silver is written once (REBALANCE hint, ~1 file per day)
    and the five gold tables are written from it as concurrent jobs.
    ``transactions`` is the raw ``transactions_df`` source, as in
    ``plans.gold.gold_frames``: transaction-scanning screens read what
    ``__spark_entry__`` hands them, not the filtered, wider silver."""
    from real_time_fraud_detection_lakehouse_spark.plans import gold as gold_mod
    from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
        write_partitioned_compact,
    )
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import (
        transactions_df,
    )

    gold = {
        "fact": gold_mod.fact_transactions,
        "dim_customer": gold_mod.dim_customer,
        "dim_merchant": gold_mod.dim_merchant,
        "dim_time": gold_mod.dim_time,
        "dim_location": gold_mod.dim_location,
    }

    def path(name: str) -> str:
        return os.path.join(warehouse, name)

    if not os.path.exists(path("silver")):
        write_partitioned_compact(
            gold_mod.gold_frames(spark, sf_dir)["silver"], path("silver"),
            ["year", "month", "day"],
        )
        silver = spark.read.parquet(path("silver"))
        # the five gold writes are independent: threads just enqueue
        # concurrent Spark jobs that share the cores
        with ThreadPoolExecutor(max_workers=len(gold)) as pool:
            list(pool.map(
                lambda t: gold[t](silver).write.mode("overwrite").parquet(path(t)),
                gold,
            ))
    frames = {t: spark.read.parquet(path(t)) for t in ("silver", *gold)}
    frames["transactions"] = transactions_df(spark, sf_dir)
    return frames


def entry(spark, name: str, cache: dict, sf_dir: str = SF_DIR, warehouse: str | None = None):
    """``name``'s builder and its input frames. Views and dashboards
    read the medallion materialized under ``warehouse``
    (:func:`medallion_frames`); relational and LLM operators read the
    testdata tables at ``sf_dir``. ``cache`` is the caller's per-session
    dict of input frames: every entry of a session gets the same frame
    objects, which session-shared surfaces are keyed by. A name with no
    builder raises KeyError: nothing skips timing silently."""
    from real_time_fraud_detection_lakehouse_spark.core.catalog import (
        TESTDATA_TABLES,
        table,
    )
    from real_time_fraud_detection_lakehouse_spark.operators import LLM_OPS
    from real_time_fraud_detection_lakehouse_spark.plans.dashboards import DASHBOARDS
    from real_time_fraud_detection_lakehouse_spark.plans.relational import RELATIONAL
    from real_time_fraud_detection_lakehouse_spark.plans.views import VIEWS

    for registry, key, build in (
        ({**VIEWS, **DASHBOARDS}, ("medallion", sf_dir, warehouse),
         lambda: medallion_frames(spark, sf_dir, warehouse)),
        ({**RELATIONAL, **LLM_OPS}, ("testdata", sf_dir),
         lambda: {t: table(spark, sf_dir, t) for t in TESTDATA_TABLES}),
    ):
        if name in registry:
            if key not in cache:
                cache[key] = build()
            return registry[name][0], cache[key]
    raise KeyError(f"no registered builder for entry {name!r}")


def timed(tracer, name: str, build, n: int = 2, force: bool = True) -> float:
    """Min of ``n`` samples, in seconds, of ``build()``, forced through
    the noop sink when it returns a DataFrame and ``force`` is set (a
    stream runner returns its output, already written). Each sample is
    one ``tracer.span(name)`` with ``build_ms`` and ``exec_ms`` as its
    call's extra (``lakebench.workloads.GoldAnalytics.op``). The builder
    call stays inside the timed region: iterative operators
    (dedup_clusters) run driver actions at build time. The first sample
    is the cold one: the span's first call in a session has index 0."""
    walls = []
    for _ in range(n):
        with tracer.span(name) as call:
            t0 = time.perf_counter()
            out = build()
            t1 = time.perf_counter()
            if force and isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
            call.extra["build_ms"] = (t1 - t0) * 1000.0
            call.extra["exec_ms"] = (time.perf_counter() - t1) * 1000.0
        walls.append(call.wall_ms / 1000.0)
    return round(min(walls), 3)


def _layers(tracer, event_log: str) -> dict[str, dict[str, float]]:
    """Per span, the counters of its last (for min-of-N: a warm) sample,
    folded from the session's event log."""
    last = Tracer(False)
    last.calls = list({c.span: c for c in tracer.calls}.values())
    flat = fold(last, event_log, {c.span: list(LAYER_COUNTERS) for c in last.calls})
    layers: dict[str, dict[str, float]] = {}
    for key, value in flat.items():
        span, counter = key.rsplit(".", 1)
        layers.setdefault(span, {})[counter] = (
            round(value, 1) if counter.endswith("_ms") else int(value)
        )
    return layers


class _Session:
    """One bench session: a warmed Spark session, the tracer its timed
    entries run under, the input frames its entries share (the
    :func:`entry` cache) and its event log (one uncompressed,
    non-rolling file under the warehouse, as ``lakebench/run.py``
    writes it).

    The suite opens a fresh one at every phase boundary: the phases
    track PLAN scaling, and heap/state wear from earlier phases
    inflates their timings up to ~6x (measured across rounds 5-8)."""

    def __init__(self, app_name: str, warehouse: str, conf: dict | None = None) -> None:
        self.log_dir = os.path.join(warehouse, "eventlog", app_name)
        os.makedirs(self.log_dir)
        self.spark = get_spark(
            app_name,
            master=f"local[{CPUS}]",
            extra_conf={
                "spark.sql.shuffle.partitions": str(
                    max(int(CPUS) if CPUS != "*" else 32, 8)
                ),
                **_RESILIENCE_CONF,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                **(conf or {}),
            },
        )
        # warm the JVM so timings reflect steady state, not session startup
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.tracer = Tracer(True)
        self.tracer.attach(self.spark)
        self.frames: dict = {}

    def stop(self) -> dict[str, dict[str, float]]:
        """Stop the session; its timed spans' counters."""
        self.spark.stop()
        (log,) = os.listdir(self.log_dir)
        return _layers(self.tracer, os.path.join(self.log_dir, log))


def _calibration_probe(s: _Session, name: str) -> float:
    """Fixed synthetic host-speed probe (round-11 verdict #8): a
    pure-CPU whole-stage-codegen job — xxhash64 fold over a pinned
    1G-row range on exactly 32 partitions, no I/O, no shuffle beyond
    the 1-row agg — so its runtime tracks ONLY the host's effective
    CPU speed, never the suite's data or plans. Timed min-of-3 at
    suite start and end; per-query times divided by the probe give
    host-normalized ratios that agree across differently-loaded
    sessions where raw seconds diverge (the 554-992 s drift band).
    The probe itself is ~1-2 s — noise at suite scale."""
    return timed(
        s.tracer,
        name,
        lambda: s.spark.range(0, 1_000_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id))"  # overflow-free fold (ANSI mode)
        ),
        n=3,
    )


def _fresh_paths(warehouse: str, *names: str) -> list[str]:
    """Not yet existing paths in a new directory under ``warehouse``:
    a stream's output and checkpoint, or a store root, per sample."""
    root = tempfile.mkdtemp(dir=warehouse)
    return [os.path.join(root, n) for n in names]


#: probe-relative ratio movement (either direction) that flags a
#: query in the regression gate; queries faster than the probe floor
#: are skipped (sub-probe timings are all noise).
MOVER_FACTOR = 2.0
MOVER_MIN_RATIO = 0.5


def _read_prior_detail(path: str) -> dict | None:
    """The committed BENCH_DETAIL.json (prior run on this tree), or
    None on first run / unreadable file."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _flag_movers(detail: dict, prior: dict | None) -> list[tuple[str, float, float]]:
    """Round-12 verdict #8: the triage protocol as code. Compare
    probe-relative per-query ratios (time / calibration-probe time —
    host speed divides out) between this run and the committed prior
    detail; return (name, prior_ratio, current_ratio) for every query
    whose ratio moved by more than MOVER_FACTOR in either direction.
    A pair is exempt only when BOTH ratios sit under the sub-probe
    noise floor — at that size the measurement is all scheduler
    noise. Exempting on min() instead would silence exactly the
    mover the gate exists for: a query regressing FROM sub-probe TO
    many times the probe (round-13 review finding)."""
    if not prior:
        return []
    cur = detail.get("calibration", {}).get("queries_probe_relative", {})
    old = prior.get("calibration", {}).get("queries_probe_relative", {})
    movers = []
    for name, cur_r in cur.items():
        old_r = old.get(name)
        if old_r is None or max(cur_r, old_r) < MOVER_MIN_RATIO:
            continue
        if cur_r > old_r * MOVER_FACTOR or old_r > cur_r * MOVER_FACTOR:
            movers.append((name, old_r, cur_r))
    # clamp denominators: stored ratios are round(v/probe, 2), so a
    # sub-probe timing can persist as 0.0 — a raw ratio sort key would
    # raise ZeroDivisionError after the full run (round-13 advice)
    def _sev(m: tuple[str, float, float]) -> float:
        a, b = max(m[1], 0.01), max(m[2], 0.01)
        return max(a / b, b / a)

    return sorted(movers, key=lambda m: -_sev(m))


def main() -> None:
    timings: dict[str, float] = {}
    layers: dict[str, dict[str, float]] = {}
    warehouse = tempfile.mkdtemp(prefix="bench_gold_")
    # the first session launches the JVM, so driver memory applies here
    # (local mode: executors live in the driver JVM). The default 1g heap
    # makes late-suite timings GC-bound. JVM unified-logging warnings
    # (e.g. gc,alloc GCLocker retries) default to STDOUT and would
    # pollute the one-JSON-line contract; route them to stderr.
    s = _Session("bench", warehouse, {
        "spark.driver.memory": "16g",
        "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
    })

    def fresh(app_name: str) -> _Session:
        nonlocal s
        layers.update(s.stop())
        s = _Session(app_name, warehouse)
        return s

    def time_entry(name: str) -> float:
        builder, frames = entry(s.spark, name, s.frames, warehouse=warehouse)
        return timed(s.tracer, name, lambda: builder(frames))

    try:
        probe_start = _calibration_probe(s, "probe_start")
        t_suite = time.time()

        # --- phase 1: materialize the medallion (reference: silver+gold
        # batch): one silver computation, the gold tables built FROM the
        # materialized silver (the silver-job-then-gold-job flow)
        timings["etl_silver_gold"] = timed(
            s.tracer, "etl_silver_gold",
            lambda: medallion_frames(s.spark, SF_DIR, warehouse), n=1,
        )

        # --- phase 2: analytics over materialized gold (fresh session:
        # the ETL write's heap wear otherwise leaks into the view
        # timings — state_summary was an untriaged r9 mover). min-of-2:
        # single warm samples at sub-second scale flapped ±50% round
        # over round in a shared session; the first run doubles as the
        # warm-up.
        fresh("bench-views")
        for name in DOMAIN:
            timings[name] = time_entry(name)

        # --- phase 3: relational + LLM operators over raw testdata.
        # Fresh session at the phase boundary and every FRESH_EVERY
        # entries: bounds the monotone heap wear that inflated
        # late-phase timings (see FRESH_EVERY note).
        for i, name in enumerate(DIRECT):
            if i % FRESH_EVERY == 0:
                fresh(f"bench-direct-{i // FRESH_EVERY}")
            timings[name] = time_entry(name)

        # --- retry-confirm pass (round-13 verdict #2): on a bursty
        # host even min-of-2 trips spurious movers — 16 flagged on an
        # UNCHANGED tree in r13. Before the final gate, re-time every
        # DOMAIN/DIRECT entry whose provisional probe-relative ratio
        # regressed >MOVER_FACTOR vs the committed detail (min-of-2 in
        # a fresh session) and keep the overall min: a real regression
        # reproduces and stays flagged; a scheduler burst does not.
        # Only slowdowns are retried — a faster-than-prior entry can't
        # be "fixed" by re-timing and still prints for triage.
        prior_for_retry = _read_prior_detail(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        )
        if prior_for_retry:
            old_ratios = prior_for_retry.get("calibration", {}).get(
                "queries_probe_relative", {}
            )
            suspects = []
            for name in list(DOMAIN) + list(DIRECT):
                old_r = old_ratios.get(name)
                if name not in timings or old_r is None:
                    continue
                cur_r = timings[name] / probe_start
                if max(cur_r, old_r) < MOVER_MIN_RATIO:
                    continue
                # screen WIDER than the final gate (0.8x): the gate
                # normalizes by the averaged opening+closing probe,
                # which is not known yet — without slack, a run whose
                # second-half probe comes in faster could flag a mover
                # this screen never retried (post-round review finding)
                if cur_r > old_r * MOVER_FACTOR * 0.8:
                    suspects.append(name)
            if suspects:
                print(
                    f"bench: retry-confirming {len(suspects)} provisional "
                    f"slowdown(s): {suspects}",
                    file=sys.stderr,
                )
                fresh("bench-retry")
                for name in suspects:
                    retimed = time_entry(name)
                    verdict = "burst cleared" if retimed < timings[name] else "real mover"
                    print(f"  {name}: {timings[name]} -> retry {retimed} ({verdict})",
                          file=sys.stderr)
                    timings[name] = min(timings[name], retimed)

        # --- phase 3c: shared-surface build costs (r16 verdict #4).
        # Three operator families materialize a session-shared persisted
        # intermediate on first touch (ring pairs+CC, the mule-hub
        # surface, the global-containment pair stream). Per-entry
        # min-of-2 numbers show the WARM cost; this block times each
        # family's first consumer in a fresh session and reports the
        # timer's cold sample minus its warm one, keeping the suite's
        # accounting honest (the suite wall-clock already pays the
        # build once).
        fresh("bench-share-build")
        share_build_detail: dict[str, dict[str, float]] = {}
        for family, first_consumer in (
            ("ring", "dash_fraud_rings"),
            # r17: the PR/RP score surfaces (5 consumer screens) —
            # timed BEFORE hub, whose build composes them, so each
            # family's build lands on its own line and "hub" reports
            # the incremental conjunction cost given warm PR/RP
            ("pr", "dash_merchant_centrality"),
            ("rp", "dash_merchant_risk_propagation"),
            ("hub", "dash_mule_hubs"),
            ("containment", "dedup_containment_global"),
        ):
            builder, frames = entry(s.spark, first_consumer, s.frames, warehouse=warehouse)
            timed(s.tracer, f"share_build/{family}", lambda: builder(frames))
            cold, warm = (round(c.wall_ms / 1000.0, 3) for c in s.tracer.calls[-2:])
            share_build_detail[family] = {
                "cold_sec": cold,
                "warm_sec": warm,
                "build_sec": round(max(cold - warm, 0.0), 3),
            }
        share_build_sec = {
            k: v["build_sec"] for k, v in share_build_detail.items()
        }

        # --- phase 4: streaming exactly-once dedup micro-bench
        # (source setup excluded; timed part = the AvailableNow stream
        # run incl. dropDuplicatesWithinWatermark state). min-of-2 like
        # every other timed query, a fresh checkpoint/out per sample (a
        # reused checkpoint would no-op the second run). r6 recorded a
        # phantom +21% "regression" here from a cold single sample in a
        # worn session.
        from real_time_fraud_detection_lakehouse_spark.sources.transactions import (
            transactions_df,
        )
        from real_time_fraud_detection_lakehouse_spark.streaming.windows import (
            dedup_stream,
        )

        spark = fresh("bench-streaming").spark
        sdir = os.path.join(warehouse, "dedup_src")
        tx = transactions_df(spark, SF_DIR)
        tx.write.mode("overwrite").parquet(sdir)
        tx.write.mode("append").parquet(sdir)  # at-least-once replay
        n_dedup_in = spark.read.parquet(sdir).count()
        timings["streaming_dedup"] = timed(
            s.tracer, "streaming_dedup",
            lambda: dedup_stream(spark, sdir, *_fresh_paths(warehouse, "out", "ckpt")),
            force=False,
        )

        # --- phase 4b: streaming THROUGHPUT (rows/s). The reference's
        # one streaming anchor is 200-500 tx per 10 s micro-batch
        # (BASELINE.md) ≈ 20-50 rows/s sustained; this grounds our
        # streaming path with a comparable rate, not just a latency.
        # bronze = text-CDC parse → partitioned parquet append;
        # dedup = the phase-4 run (stateful dropDuplicatesWithinWatermark).
        from real_time_fraud_detection_lakehouse_spark.streaming.bronze import (
            run_bronze_stream,
            write_cdc_fixture,
        )

        cdc = os.path.join(warehouse, "cdc_src")
        n_cdc = write_cdc_fixture(spark, SF_DIR, cdc)
        bronze_sec = timed(
            s.tracer, "streaming_bronze",
            lambda: run_bronze_stream(spark, cdc, *_fresh_paths(warehouse, "out", "ckpt")),
            n=1,
            force=False,
        )
        streaming_throughput = {
            "bronze_rows": n_cdc,
            "bronze_sec": bronze_sec,
            "bronze_rows_per_sec": round(n_cdc / bronze_sec, 1),
            "dedup_input_rows": n_dedup_in,
            "dedup_sec": timings["streaming_dedup"],
            "dedup_rows_per_sec": round(n_dedup_in / timings["streaming_dedup"], 1),
        }

        # --- phase 4c: publish-layer lifecycle (round-10 verdict #7).
        # publish gold as one manifest group → re-publish (parquet
        # copy, no feature-chain re-run) → O(1) metadata rollback →
        # ledger read: the snapshot store's end-to-end cost at SF_DIR.
        # min-of-2 like every other timed entry (round-11 verdict #6);
        # fresh store root per sample, the streaming_dedup idiom: a
        # reused root would append groups and change the measured work.
        from real_time_fraud_detection_lakehouse_spark.plans.gold import (
            published_gold_history,
        )

        timings["history_published_gold"] = timed(
            s.tracer, "history_published_gold",
            lambda: published_gold_history(
                spark, SF_DIR, *_fresh_paths(warehouse, "published")
            ),
        )

        # --- phase 5: standing scaling block (10x key-shifted replica;
        # min-of-3 with the first sample as warm-up, so the ratio
        # measures plan scaling, not codegen). Runs in a FRESH session:
        # measured in-session ratios are inflated up to 3x by heap/state
        # left over from the preceding queries (q_top_customers: 6.1x
        # polluted vs 2.2x clean), and the block exists to track plan
        # regressions, not session wear.
        scaling = None
        if SCALING:
            from real_time_fraud_detection_lakehouse_spark.core.catalog import table
            from real_time_fraud_detection_lakehouse_spark.sources.replica import (
                build_replica,
            )

            spark = fresh("bench-scaling").spark
            big_dir = os.path.join(warehouse, "replica")
            build_secs = timed(
                s.tracer, "scaling/replica_build",
                lambda: build_replica(spark, SF_DIR, big_dir, copies=SCALE_COPIES),
                n=1,
            )
            results: dict[str, dict[str, float]] = {}
            for name in SCALING_QUERIES:
                per_sf: dict[str, float] = {}
                for label, d in (("base", SF_DIR), ("scaled", big_dir)):
                    builder, frames = entry(spark, name, s.frames, d)
                    per_sf[label] = timed(
                        s.tracer, f"scaling/{name}/{label}",
                        lambda: builder(frames), n=3,
                    )
                per_sf["ratio"] = round(per_sf["scaled"] / per_sf["base"], 2)
                results[name] = per_sf
            ratios = [r["ratio"] for r in results.values()]
            scaling = {
                "copies": SCALE_COPIES,
                "replica_build_sec": build_secs,
                "mean_time_ratio": round(sum(ratios) / len(ratios), 2),
                "queries": results,
            }

            # --- phase 5b: SemDeDup at 10x NEW embeddings. Needs its
            # own replica: phase 5's key-shift leaves vectors identical
            # across copies, which makes every copy a planted cosine
            # dup of its original and within-cluster PAIRS quadratic in
            # copies — a dedup stress test, not corpus growth. The
            # perturbed replica cyclically rotates dimensions per copy
            # (within-copy cosine structure exactly preserved, cross-
            # copy cosine at random-pair level), and k scales with n
            # (the operator's own 100 TB contract: mean cluster size
            # n/k — the equi-join fan-out — stays constant).
            from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
                SEMDEDUP_K,
                SEMDEDUP_TARGET_CLUSTER,
                _vec_double,
                semdedup,
            )

            emb_dir = os.path.join(warehouse, "replica_emb")
            build_replica(
                spark,
                SF_DIR,
                emb_dir,
                copies=SCALE_COPIES,
                tables=("embeddings",),
                perturb_embeddings=True,
            )
            sem: dict[str, float] = {}
            for label, d, k in (
                ("base", SF_DIR, SEMDEDUP_K),
                ("scaled", emb_dir, SEMDEDUP_K * SCALE_COPIES),
            ):
                emb = table(spark, d, "embeddings").select(
                    "vec_id", _vec_double("embedding").alias("v")
                )
                sem[label] = timed(
                    s.tracer, f"semdedup_10x/{label}", lambda: semdedup(emb, k=k)
                )
            sem["ratio"] = round(sem["scaled"] / sem["base"], 2)
            sem["scaled_k"] = SEMDEDUP_K * SCALE_COPIES
            scaling["semdedup_10x"] = sem

        # --- phase 6: 100x documents-only block on the dedup path.
        # dedup_exact and the composed LSH->clusters->keepers pipeline
        # read only `documents`, so the replica build stays cheap while
        # the datapoint covers two decades of corpus growth. The
        # replica is token-perturbed per copy (perturb_text): the
        # default key-shift replica leaves text identical, which makes
        # every copy a near-dup of its original and candidate pairs
        # quadratic in copies (~27M pairs, a ~100%-dup corpus, 480 s) —
        # a dedup stress test, not corpus growth. Perturbed, pairs grow
        # linearly (~41k) and the datapoint measures honest 100x scale.
        # min-of-2 per side (first run doubles as warm-up): a cold
        # single sample put a 1.5 s cold-start on a 0.2 s base query
        # and made the ratio meaningless.
        scaling_100x = None
        if SCALING and SCALING_100X:
            # fresh session, same rationale as phase 5: by this point
            # the scaling session has chewed through the 10x block and
            # heap wear inflates phase-6 timings up to ~6x (measured:
            # dedup_exact scaled 41 s worn vs 3.5 s fresh)
            spark = fresh("bench-scaling-100x").spark
            huge_dir = os.path.join(warehouse, "replica100")
            build100 = timed(
                s.tracer, "scaling_100x/replica_build",
                lambda: build_replica(
                    spark,
                    SF_DIR,
                    huge_dir,
                    copies=100,
                    tables=("documents",),
                    perturb_text=True,
                ),
                n=1,
            )
            results100: dict[str, dict[str, float]] = {}
            for name in SCALING_100X_QUERIES:
                builder, frames = entry(spark, name, s.frames)
                per: dict[str, float] = {}
                for label, fr in (
                    ("base", frames),
                    ("scaled", {**frames, "documents": table(spark, huge_dir, "documents")}),
                ):
                    per[label] = timed(
                        s.tracer, f"scaling_100x/{name}/{label}", lambda: builder(fr)
                    )
                per["ratio"] = round(per["scaled"] / per["base"], 2)
                results100[name] = per
            scaling_100x = {
                "copies": 100,
                "replica_build_sec": build100,
                "queries": results100,
            }

            # --- phase 6c: maintained-corpus ingest gate anchor
            # (round-11 verdict #4): corpus 100x (the perturbed
            # replica, ids shifted BELOW the fixed arrival set so the
            # smaller-id-wins ordering holds), arrivals FIXED — the
            # gate's per-run cost must move sublinearly in corpus size.
            # The index build is the NIGHTLY pass: timed separately
            # (it scales with the corpus by design); the gate itself
            # never re-tokenizes corpus text. Folding the same arrival
            # set into each index is the O(arrivals) claim's write-side
            # half: it must cost the same regardless of corpus size (r11
            # stretch — the full rebuild is what scales). Fresh session,
            # same rationale as every scaling block.
            from pyspark.sql import functions as F

            from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
                _INCR_HWM_FRACTION,
                build_corpus_index,
                docs_dedup_incremental_maintained,
                update_corpus_index,
            )

            spark = fresh("bench-incr-maintained").spark
            docs_base = table(spark, SF_DIR, "documents")
            h = docs_base.agg(
                F.floor(F.max("doc_id") * _INCR_HWM_FRACTION).cast("long")
            ).first()[0]
            arrivals = docs_base.filter(F.col("doc_id") > h)
            rep_docs = table(spark, huge_dir, "documents")
            rep_off = rep_docs.agg(F.max("doc_id")).first()[0] + 1
            maint: dict[str, float] = {}
            for label, corpus in (
                ("base", docs_base.filter(F.col("doc_id") <= h)),
                (
                    "scaled",
                    rep_docs.withColumn(
                        "doc_id", F.col("doc_id") - F.lit(rep_off)
                    ),
                ),
            ):
                idx_root = os.path.join(warehouse, f"incr_index_{label}")
                span = f"incremental_maintained_100x/{label}"
                maint[f"{label}_index_build_sec"] = timed(
                    s.tracer, f"{span}/index_build",
                    lambda: build_corpus_index({"documents": corpus}, idx_root), n=1,
                )
                maint[label] = timed(
                    s.tracer, span,
                    lambda: docs_dedup_incremental_maintained(spark, arrivals, idx_root),
                )
                maint[f"{label}_fold_in_sec"] = timed(
                    s.tracer, f"{span}/fold_in",
                    lambda: update_corpus_index({"documents": arrivals}, idx_root), n=1,
                )
            maint["ratio"] = round(maint["scaled"] / maint["base"], 2)
            scaling_100x["incremental_maintained_100x"] = maint

            # --- phase 6b: SemDeDup at 100x NEW embeddings (same
            # perturbed-replica + scaled-k protocol as phase 5b). Added
            # in r7 after the matmul assignment fix took the op from
            # 307 s to ~21 s at this scale — the heaviest operator's
            # scale story belongs in the driver-recorded artifact, not
            # just builder notes. r8: a FRESH session — the 100x
            # documents block ahead of it wears the heap enough to
            # drift the recorded number 27.8 -> 33+ s while the
            # isolated measurement stays ~21 s.
            spark = fresh("bench-semdedup-100x").spark
            emb100_dir = os.path.join(warehouse, "replica100_emb")
            build_replica(
                spark,
                SF_DIR,
                emb100_dir,
                copies=100,
                tables=("embeddings",),
                perturb_embeddings=True,
            )
            sem100: dict[str, float] = {}
            for label, d in (("base", SF_DIR), ("scaled", emb100_dir)):
                emb = table(spark, d, "embeddings").select(
                    "vec_id", _vec_double("embedding").alias("v")
                )
                k = max(SEMDEDUP_K, emb.count() // SEMDEDUP_TARGET_CLUSTER)
                sem100[label] = timed(
                    s.tracer, f"semdedup_100x/{label}", lambda: semdedup(emb, k=k)
                )
                sem100[f"{label}_k"] = k
            sem100["ratio"] = round(sem100["scaled"] / sem100["base"], 2)
            scaling_100x["semdedup_100x"] = sem100

        # --- closing calibration probe (fresh session, same warmed
        # conditions as the opening one — worn heap would contaminate
        # the host-speed reading like any other late-suite timing)
        probe_end = _calibration_probe(fresh("bench-probe-end"), "probe_end")
        layers.update(s.stop())
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)

    total = round(time.time() - t_suite, 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    probe = round((probe_start + probe_end) / 2, 3)
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # host-drift normalization (round-11 verdict #8): divide any
        # per-query time by probe_sec before comparing across rounds —
        # BENCH_SCALING.md's triage protocol uses these ratios
        "calibration": {
            "probe_start_sec": probe_start,
            "probe_end_sec": probe_end,
            "probe_sec": probe,
            "queries_probe_relative": {
                k: round(v / probe, 2) for k, v in timings.items()
            },
        },
    }
    if scaling is not None:
        detail["scaling"] = scaling
    if scaling_100x is not None:
        detail["scaling_100x"] = scaling_100x
    detail["streaming_throughput"] = streaming_throughput
    detail["share_build"] = share_build_detail
    # per timed span, the counters of its last sample (the warm one of a
    # min-of-N) from the session's event log
    detail["layers"] = layers
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    # probe-normalized regression gate (round-12 verdict #8): encode
    # BENCH_SCALING.md's triage protocol — compare this run's
    # probe-relative ratios against the COMMITTED BENCH_DETAIL before
    # overwriting it, and print a flagged-movers table for anything
    # that moved >2x in either direction (stderr, so the one-line
    # stdout contract is untouched).
    movers = _flag_movers(detail, _read_prior_detail(detail_path))
    if movers:
        print("bench: flagged movers (probe-relative ratio vs committed "
              "BENCH_DETAIL.json; threshold 2x):", file=sys.stderr)
        for name, prior_r, cur_r in movers:
            print(f"  {name}: {prior_r} -> {cur_r}", file=sys.stderr)
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")

    # The driver archives only a ~2000-char stdout tail; r6's full-detail
    # line outgrew it and BENCH_r06.json recorded `parsed: null`. The
    # final line is therefore COMPACT (headline queries + ratio summaries
    # + throughput rates, ~700 chars); the full per-query detail lives in
    # BENCH_DETAIL.json, referenced from the line.
    out = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
        "sf": sf,
        "n_timed": len(timings),
        "probe_sec": probe,
        "detail": "BENCH_DETAIL.json",
    }
    if scaling is not None:
        out["scaling"] = {
            "copies": scaling["copies"],
            "mean_time_ratio": scaling["mean_time_ratio"],
            "semdedup_10x_ratio": scaling.get("semdedup_10x", {}).get("ratio"),
        }
    if scaling_100x is not None:
        out["scaling_100x"] = {
            "copies": 100,
            "scaled_sec": {
                k: v["scaled"] for k, v in scaling_100x["queries"].items()
            },
            "semdedup_scaled_sec": scaling_100x.get("semdedup_100x", {}).get("scaled"),
            "incr_maintained_gate_ratio": scaling_100x.get(
                "incremental_maintained_100x", {}
            ).get("ratio"),
        }
    out["streaming_throughput"] = {
        "bronze_rows_per_sec": streaming_throughput["bronze_rows_per_sec"],
        "dedup_rows_per_sec": streaming_throughput["dedup_rows_per_sec"],
    }
    out["share_build_sec"] = share_build_sec
    line = json.dumps(out)
    print(line)
    if len(line) >= 1500:
        # Never abort after the suite has run — the driver only needs the
        # line printed; warn so the next round trims the compact dict.
        print(
            f"WARNING: bench line {len(line)} chars may exceed the driver "
            "tail window; trim the compact queries dict",
            file=sys.stderr,
        )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
