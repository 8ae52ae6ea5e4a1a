"""The suite registry is a driver contract: a silent import failure
shrinks the correctness gate, and a bad order starves entries of
driver checks, without any other test failing — so the exact
membership and the invariants of the computed order are pinned here."""

from __future__ import annotations

import builtins
import math

import pytest

from miba_2023_capstone_rb_nlp_spark.suite import (
    REGISTRY,
    _correctness_artifacts,
    _driver_order,
    load_suite,
)

EXPECTED = {
    # flagship + wizard chain + ml
    "cluster_viz_summary",
    "wizard_full_chain",
    "wizard_chain_stages",
    "pairwise_medoids",
    "kmeans_clusters",
    "pca_coords",
    "embedding_dim_stats",
    "hash_embeddings",
    "sentiment_distinct_join",
    "medoid_summaries",
    # relational
    "pricing_summary",
    "region_revenue",
    "top_orders_per_customer",
    "order_priority_semijoin",
    "customers_without_orders",
    "nation_set_ops",
    "order_window_enrich",
    "argmax_per_flag",
    "order_rollup_revenue",
    "orders_upsert_merge",
    "orders_merge_bucketed",
    "orders_merge_steady",
    "sql_interface_segment_revenue",
    "shipping_priority_q3",
    "brand_price_regression",
    "part_price_skyline",
    "returned_items_q10",
    "local_supplier_volume_q5",
    "promo_revenue_q14",
    "disjunctive_revenue_q19",
    "volume_shipping_q7",
    "small_qty_revenue_q17",
    "waiting_suppliers_q21",
    "min_cost_supplier_q2",
    "excess_shipment_q20",
    "idle_customers_q22",
    "revenue_concentration_q11",
    "part_affinity_topk",
    "part_pagerank",
    "part_triangle_counts",
    "data_quality_report",
    "incremental_revenue_merge",
    "price_decile_histogram",
    "lineitem_unpivot_stats",
    "approx_distinct_parts",
    "salted_join_nation_customers",
    "salted_agg_priority_revenue",
    "price_quantiles",
    "order_cube_revenue",
    "customer_order_frames",
    # cleaning / pipeline
    "etl_clean_articles",
    "explode_paragraphs",
    # ner
    "ner_top_orgs",
    # multimodal
    "media_features",
    "video_frame_sample",
    # events / windows / streaming
    "events_tumbling_hourly",
    "events_sliding_hourly",
    "events_session_windows",
    "events_json_value_counts",
    "events_tumbling_streaming",
    "events_stream_dedup",
    "events_stateful_running",
    "events_stream_stream_join",
    "events_type_pivot",
    "events_funnel_stages",
    "events_asof_last_click",
    "events_asof_cogroup",
    "events_range_click_counts",
    "user_decayed_value",
    "event_outliers_mad",
    "weekly_active_users",
    "retention_cohorts",
    "event_transition_matrix",
    "events_hourly_gapfill",
    "events_cusum_changepoint",
    "events_value_ttest",
    "events_streaming_upsert",
    "events_json_roundtrip",
    "events_csv_roundtrip",
    "events_orc_roundtrip",
    "events_xml_roundtrip",
    # relational: round-8 second half — the battery-completing TPC-H
    # shapes (register after the frozen r8 window; first in the r9
    # promotion slate)
    "forecast_revenue_q6",
    "market_share_q8",
    "product_profit_q9",
    "late_shipment_priority_q12",
    "order_count_distribution_q13",
    "top_supplier_q15",
    "supplier_part_counts_q16",
    "large_volume_customers_q18",
    # round-8 second half: LLM-pipeline additions
    "semantic_dedup_cells",
    "perplexity_bucket_filter",
    "countmin_heavy_hitters",
    "custom_pysource_links",
    "events_stream_static_join",
    "events_variant_extract",
    "events_try_ops_safe",
    "user_event_map_profile",
    "sql_udf_token_stats",
    "hard_negative_mining",
    "source_kl_divergence",
    "weighted_sample_docs",
    "trade_hops_recursive",
    "top_customers_lateral",
    "doc_chunks_udtf",
    "doc_bytes_arrow",
    "collated_lang_counts",
    # text
    "doc_stats_quality",
    "lang_id",
    "top_terms_per_source",
    "sentence_stats",
    "lemma_term_counts",
    "bpe_token_stats",
    "bpe_merge_learn",
    "bpe_encode_stats",
    "bigram_lm_perplexity",
    "source_vocab_overlap",
    # sampling / curation
    "stratified_sample_docs",
    "dsir_importance_select",
    "winnowing_fingerprints",
    "gopher_repetition_flags",
    "pii_redaction",
    "contamination_ngram_overlap",
    "dedup_canonical_corpus",
    "corpus_prep_chain",
    # retrieval / packing
    "bm25_topk",
    "bigram_topk",
    "hybrid_rrf_search",
    "phrase_match_docs",
    "sequence_packing",
    "hash_split_profile",
    "temperature_resample",
    "doc_chunk_windows",
    "url_canonical_dedup",
    # dedup
    "exact_dedup",
    "ngram_jaccard_pairs",
    "prefix_jaccard_pairs",
    "minhash_lsh_pairs",
    "incremental_minhash_dedup",
    "fuzzy_name_matches",
    "simhash_pairs",
    "neardup_components",
    "duplicate_span_flags",
    "line_dedup_rebuild",
    "quality_representative_dedup",
    # similarity
    "knn_bruteforce",
    "knn_int8_rerank",
    "knn_ivf_cells",
    "knn_ivf_pruned",
    "knn_ivf_multiprobe",
    "embedding_neardup_pairs",
    "hyperplane_lsh_pairs",
    # topics
    "ctfidf_topics_per_lang",
    "group_concat_docs",
}


def test_suite_membership_exact():
    suite = load_suite()
    assert set(suite) == EXPECTED
    assert len(suite) == len(EXPECTED)


DRIVER_WINDOW = 50  # entries the external driver checks per round
FLAGSHIP = "cluster_viz_summary"


def _last_green(artifacts: dict[int, dict[str, dict]]) -> dict[str, int]:
    out: dict[str, int] = {}
    for rnd, rows in artifacts.items():
        for name, row in rows.items():
            if row["hash_match"] and row["rows_match"] and row["schema_match"]:
                out[name] = max(rnd, out.get(name, 0))
    return out


def _green_row() -> dict:
    return {"hash_match": True, "rows_match": True, "schema_match": True}


def test_flagship_always_first():
    names = list(load_suite())
    assert names[0] == FLAGSHIP
    # whatever the artifacts say, including a flagship that is stale
    artifacts = {1: {n: _green_row() for n in names if n != FLAGSHIP}}
    assert _driver_order(names[::-1], artifacts)[0] == FLAGSHIP
    assert _driver_order(names[::-1], {})[0] == FLAGSHIP


def test_order_non_decreasing_in_last_green_round():
    names = list(load_suite())
    artifacts = _correctness_artifacts()
    last = _last_green(artifacts)
    rounds = [last.get(n, 0) for n in _driver_order(names, artifacts)[1:]]
    assert rounds == sorted(rounds)
    # a red latest row does not count: "a" was green in round 1 and
    # failed in round 2, so it sorts ahead of "b", green in round 2
    red = {"hash_match": False, "rows_match": True, "schema_match": True}
    artifacts = {1: {"a": _green_row()}, 2: {"a": red, "b": _green_row()}}
    assert _driver_order(["b", "a", FLAGSHIP], artifacts) == [FLAGSHIP, "a", "b"]


def test_every_entry_checked_within_freshness_bound():
    """Simulate 20 rounds from the committed artifacts, each turning
    the first DRIVER_WINDOW entries green. Every window of
    ceil((N-1)/(W-1)) consecutive rounds checks every entry."""
    names = list(load_suite())
    artifacts = dict(_correctness_artifacts())
    bound = math.ceil((len(names) - 1) / (DRIVER_WINDOW - 1))
    first = max(artifacts) + 1
    checked: dict[str, list[int]] = {n: [] for n in names}
    for rnd in range(first, first + 20):
        head = _driver_order(names, artifacts)[:DRIVER_WINDOW]
        artifacts[rnd] = {n: _green_row() for n in head}
        for n in head:
            checked[n].append(rnd)
    for start in range(first, first + 20 - bound + 1):
        span = range(start, start + bound)
        stale = [n for n, rs in checked.items() if not any(r in span for r in rs)]
        assert not stale, f"unchecked in rounds {start}..{start + bound - 1}: {stale}"


def test_committed_window_holds_stalest_entries():
    names = list(load_suite())
    head = _driver_order(names, _correctness_artifacts())[:DRIVER_WINDOW]
    r11_stale = {
        "bpe_token_stats",
        "stratified_sample_docs",
        "winnowing_fingerprints",
        "bm25_topk",
        "sentiment_distinct_join",
    }
    assert r11_stale <= set(head)


def test_no_artifacts_gives_flagship_then_registration_order():
    load_suite()
    names = list(REGISTRY)
    rest = [n for n in names if n != FLAGSHIP]
    assert _driver_order(names, {}) == [FLAGSHIP] + rest


def test_rows_only_entries_pinned():
    """No entry may lack a DuckDB oracle (VERDICT r4 #8) — a future
    entry cannot silently ship oracle-less. Round 11 (VERDICT r10
    #3/#4) converted kmeans_clusters, pca_coords and
    approx_distinct_parts to witness/error-bound oracles, then
    extended the same recipe to wizard_full_chain
    (assignment-invariant aggregates + constant-true invariants of
    the viz table): the rows-only set is now EMPTY, and this pin
    keeps it that way."""
    suite = load_suite()
    no_oracle = {name for name, q in suite.items() if q.oracle is None}
    assert no_oracle == set()


def test_broken_suite_module_raises(monkeypatch):
    """An intra-package import failure must propagate, not silently
    shrink the registry (the round-1 hazard)."""
    real_import = builtins.__import__

    def broken(name, *args, **kwargs):
        if name == "miba_2023_capstone_rb_nlp_spark.suite.text":
            raise ModuleNotFoundError(
                "No module named "
                "'miba_2023_capstone_rb_nlp_spark.suite._typo'",
                name="miba_2023_capstone_rb_nlp_spark.suite._typo",
            )
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", broken)
    with pytest.raises(ModuleNotFoundError):
        load_suite()


def test_missing_thirdparty_dep_tolerated(monkeypatch):
    """A genuinely absent optional third-party dep must not kill the
    whole suite — only that module's entries go missing."""
    real_import = builtins.__import__

    def no_umap(name, *args, **kwargs):
        if name == "miba_2023_capstone_rb_nlp_spark.suite.topics":
            raise ModuleNotFoundError("No module named 'umap'", name="umap")
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", no_umap)
    suite = load_suite()  # must not raise
    assert "cluster_viz_summary" in suite
