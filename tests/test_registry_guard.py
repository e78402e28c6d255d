"""Registry guard: the declared query inventory is explicit and complete.

A plan module that exists but is not imported (and therefore registers
nothing) must fail CI loudly, not silently drop its queries out of the
oracle gate in tests/test_queries_oracle.py. The guard also checks that the
registered names equal the diffable EXPECTED inventory, that every
hard-coded name list outside the registry resolves, that every oracle keeps
the cross-engine parity spellings, and that every tool under tools/ still
imports."""

from __future__ import annotations

import importlib
import pathlib
import pkgutil

import pytest

import flink_cdc_fluss_quickstart_spark.plans as plans_pkg
from flink_cdc_fluss_quickstart_spark.plans.registry import (
    all_oracle_sql,
    all_queries,
    all_specs,
)

# Every query name the engine declares. Adding a query requires adding it
# here too -- that is the point: the inventory is explicit and diffable.
EXPECTED = {
    # reference core
    "revenue_analytics",
    "upsert_latest_snapshot",
    "changelog_apply_snapshot",
    "changelog_aware_aggregation",
    "betting_tickets_analytics",
    # events
    "events_json_props_stats",
    "approx_distinct_users_daily",
    "event_time_tumbling_hourly",
    "event_time_sliding_hourly",
    "session_windows_per_user",
    "events_running_stats",
    # relational families
    "window_topn_per_group",
    "left_join_order_coverage",
    "anti_join_customers_without_orders",
    "anti_join_customers_without_orders_planted",
    "semi_join_active_suppliers",
    "setop_multi_status_customers",
    "setop_except_large_orders",
    "rollup_nation_segment_revenue",
    "cube_status_priority_revenue",
    "distinct_agg_parts_per_priority",
    "asof_view_before_purchase",
    "range_join_price_bands",
    # multimodal
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_quality_gate",
    "multimodal_resize",
    "multimodal_phash_dedup",
    "multimodal_phash_dedup_planted",
    # pipeline
    "dataset_split_assign",
    "leakage_safe_split_assign",
    "token_stats_by_lang",
    "quality_filter_route",
    "decontamination_ngrams",
    "bloom_decontamination",
    "stratified_sample_by_lang",
    "pii_redact",
    "sequence_pack_offsets",
    "pack_efficiency_report",
    "training_shuffle_order",
    "temperature_resample_by_lang",
    "dsir_importance_weights",
    "token_budget_mix_plan",
    "domain_mix_report",
    "context_chunks",
    "length_bucket_batches",
    "fixed_count_sample_by_source",
    # text / dedup
    "dedup_exact",
    "doc_fingerprint",
    "token_count",
    "text_quality",
    "gopher_quality_flags",
    "c4_quality_flags",
    "kmv_distinct_tokens",
    "countmin_heavy_hitters",
    "quantile_sketch_report",
    "textrank_keywords",
    "char_entropy",
    "zipf_fit_report",
    "contrastive_triplets",
    "lang_id",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_incremental_pairs",
    "minhash_estimate_quality",
    "ngram_jaccard_neardup",
    "ngram_containment_pairs",
    "simhash_fingerprint",
    "simhash_neardup_pairs",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "bpe_token_stats",
    "unigram_lm_surprisal",
    "perplexity_buckets",
    "bigram_lm_surprisal",
    "curriculum_order",
    "tfidf_top_terms",
    "bm25_retrieval",
    "collocation_pmi",
    "dedup_components",
    "dedup_keep_representatives",
    "soft_dedup_weights",
    "repetition_signals",
    "span_dedup_text",
    "span_dedup_incremental",
    "line_dedup_text",
    "line_dedup_incremental",
    "doc_novelty_score",
    "nb_quality_score",
    "logreg_quality_score",
    "logreg_holdout_eval",
    "source_curation_report",
    "hashed_ngram_langid",
    "langid_multiclass",
    "score_drift_report",
    "logreg_calibration_report",
    "bpe_merge_candidates",
    "bpe_encode_tokens",
    "tokenizer_fertility_by_lang",
    "neardup_source_overlap",
    # similarity
    "embedding_cosine_topk",
    "embedding_ann_lsh",
    "embedding_ann_multiprobe",
    "embedding_ann_ivf",
    "embedding_cosine_neardup",
    "embedding_dedup_representatives",
    "embedding_label_centroids",
    "kmeans_embeddings",
    "semantic_dedup_prune",
    "embedding_pca_top_component",
    "embedding_int8_quantize",
    "embedding_decontamination",
    "embedding_pq_codes",
    "pq_incremental_codes",
    "embedding_pq_adc_topk",
    "embedding_l2_topk",
    "embedding_ivfpq_topk",
    "pq_adc_recall_report",
    "ann_recall_report",
    "ann_recall_report_clustered",
    "rrf_hybrid_retrieval",
    "rrf_hybrid_retrieval_ann",
    # TPC-H
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q4_priority_order_exists",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_nation_trade_flows",
    "q8_national_market_share",
    "q9_profit_by_nation_year",
    "q11_important_part_value",
    "q10_returned_item_revenue",
    "q12_shipping_delay_priority",
    "q13_customer_order_distribution",
    "q14_promo_revenue_share",
    "q15_top_revenue_supplier",
    "q16_supplier_part_variety",
    "q17_below_avg_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_predicates",
    "q20_part_heavy_suppliers",
    "q21_sole_late_supplier",
    "q22_idle_rich_customers",
}


def test_every_plan_module_registers_queries():
    """Importing the plans package must have imported every submodule (so a
    new module can't be dark), and every non-registry submodule must have
    registered at least one query."""
    specs = all_specs()
    registered_modules = {spec.builder.__module__ for spec in specs.values()}
    for info in pkgutil.iter_modules(plans_pkg.__path__):
        mod_name = f"{plans_pkg.__name__}.{info.name}"
        importlib.import_module(mod_name)  # no-op if __init__ imported it
        if info.name == "registry":
            continue
        assert mod_name in registered_modules, (
            f"plan module {mod_name} registers no queries -- "
            "missing import in plans/__init__.py?"
        )


def test_registered_names_match_declared_inventory():
    assert set(all_queries()) == EXPECTED


def test_oracle_sql_order_matches_queries_order():
    qnames = [n for n in all_queries() if n in all_oracle_sql()]
    assert list(all_oracle_sql()) == qnames


def test_hardcoded_name_lists_resolve():
    """Every hardcoded query-name list outside the registry must resolve --
    a typo or rename would otherwise crash the external bench run (no
    BENCH recorded) or the PLANS/SCALE regeneration."""
    import bench
    import importlib

    explain_report = importlib.import_module("tools.explain_report")
    scale_smoke = importlib.import_module("tools.scale_smoke")

    registered = set(all_queries())
    for label, names in (
        ("bench.HEADLINE", bench.HEADLINE),
        ("explain_report.REPORT", explain_report.REPORT),
        ("scale_smoke.OPS", scale_smoke.OPS),
    ):
        missing = [n for n in names if n not in registered]
        assert not missing, f"{label} names not registered: {missing}"


def test_oracle_token_split_is_the_canonical_guard():
    """Every oracle's whitespace token split over `text` must be EXACTLY the
    canonical blank-guarded spelling (functions/text.DUCK_TOKENS) that
    mirrors tokens(): a site retuned away from it -- or spelled bare --
    silently re-opens the cross-engine phantom-token divergence the guard
    closed, so the lockstep is CI-enforced here instead of trusting 15
    hand-copied oracle sites to stay in sync."""
    import re

    from flink_cdc_fluss_quickstart_spark.functions import text as tfn
    from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs

    bare = re.compile(r"regexp_split_to_array\(trim\(text\)")
    total = 0
    for name, spec in sorted(all_specs().items()):
        if spec.oracle is None:
            continue
        n_bare = len(bare.findall(spec.oracle))
        n_guarded = spec.oracle.count(tfn.DUCK_TOKENS)
        assert n_bare == n_guarded, (
            f"{name}: {n_bare - n_guarded} token split(s) not the canonical"
            " DUCK_TOKENS guard"
        )
        total += n_guarded
    assert total >= 15  # the guard is actually in use, not vacuously green


def test_no_long_precision_float_literals_in_oracles():
    """DuckDB parses decimal literals as DECIMAL and converts to double via
    int128/pow10 -- TWO roundings, up to 1 ulp off beyond ~15 significant
    digits (hypothesis-found: 900720.6463022095; see
    tests/test_float_determinism.py). A Python float interpolated into an
    oracle at full repr precision would therefore not round-trip to the
    same double DuckDB computes, breaking the bit-for-bit hash compare in a
    data-dependent way. Constants must stay short/exact (0.05, 2.0, 1e6 as
    1000000.0); any high-precision double must be COMPUTED inside the
    query, never parsed."""
    import re

    offenders = {
        name: re.findall(r"\d+\.\d{14,}", sql)[:3]
        for name, sql in all_oracle_sql().items()
        if re.search(r"\d+\.\d{14,}", sql)
    }
    assert not offenders, f"long-precision float literals in oracles: {offenders}"


TOOLS = sorted(
    p.stem
    for p in (pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py")
    if p.stem != "__init__"
)


@pytest.mark.parametrize("tool", TOOLS)
def test_tool_imports(tool):
    """Every tools/*.py imports cleanly, so a deleted helper or a renamed
    query a tool still names fails CI, not the tool's next run."""
    importlib.import_module(f"tools.{tool}")
