"""Generate PLANS.md: formatted physical plans for the headline queries with
an automated scale-audit checklist per plan.

The checklist is extracted from the plan text itself (not hand-claimed):
- pushdown: PushedFilters at the parquet scan,
- pruning: ReadSchema column subset,
- broadcast: BroadcastHashJoin / BroadcastExchange present where expected,
- red flags: CartesianProduct / BroadcastNestedLoopJoin (theta joins) and
  single-partition Exchanges outside metadata-sized frames.

(Whole-stage codegen is not visible in pre-execution formatted AQE plans, so
it is asserted in tests/test_plans.py rather than reported here.)

Usage: python tools/explain_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_cdc_fluss_quickstart_spark.session import get_spark  # noqa: E402
from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs  # noqa: E402

# every bench.HEADLINE query plus a representative of every other family
REPORT = (
    "revenue_analytics",
    "q1_pricing_summary",
    "q7_nation_trade_flows",
    "upsert_latest_snapshot",
    "event_time_tumbling_hourly",
    "dedup_exact",
    "token_stats_by_lang",
    "pack_efficiency_report",
    "betting_tickets_analytics",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q17_below_avg_quantity_revenue",
    "setop_multi_status_customers",
    "setop_except_large_orders",
    "rollup_nation_segment_revenue",
    "cube_status_priority_revenue",
    "distinct_agg_parts_per_priority",
    "minhash_lsh_pairs",
    "neardup_source_overlap",
    "logreg_quality_score",
    "logreg_holdout_eval",
    "score_drift_report",
    "logreg_calibration_report",
    "source_curation_report",
    "hashed_ngram_langid",
    "langid_multiclass",
    "minhash_incremental_pairs",
    "minhash_estimate_quality",
    "ngram_jaccard_neardup",
    "simhash_neardup_pairs",
    "bpe_token_stats",
    "ngram_containment_pairs",
    "decontamination_ngrams",
    "bloom_decontamination",
    "sequence_pack_offsets",
    "token_budget_mix_plan",
    "temperature_resample_by_lang",
    "dsir_importance_weights",
    "dedup_keep_representatives",
    "leakage_safe_split_assign",
    "soft_dedup_weights",
    "domain_mix_report",
    "embedding_cosine_topk",
    "embedding_l2_topk",
    "rrf_hybrid_retrieval",
    "rrf_hybrid_retrieval_ann",
    "embedding_ann_ivf",
    "kmeans_embeddings",
    "semantic_dedup_prune",
    "embedding_pca_top_component",
    "embedding_int8_quantize",
    "ann_recall_report",
    "ann_recall_report_clustered",
    "unigram_lm_surprisal",
    "perplexity_buckets",
    "bigram_lm_surprisal",
    "bm25_retrieval",
    "collocation_pmi",
    "span_dedup_text",
    "span_dedup_incremental",
    "line_dedup_text",
    "line_dedup_incremental",
    "bpe_encode_tokens",
    "tokenizer_fertility_by_lang",
    "anti_join_customers_without_orders_planted",
    "doc_novelty_score",
    "nb_quality_score",
    "bpe_merge_candidates",
    "textrank_keywords",
    "kmv_distinct_tokens",
    "countmin_heavy_hitters",
    "quantile_sketch_report",
    "char_entropy",
    "zipf_fit_report",
    "contrastive_triplets",
    "embedding_decontamination",
    "embedding_pq_adc_topk",
    "embedding_ivfpq_topk",
    "pq_incremental_codes",
    "pq_adc_recall_report",
    "fixed_count_sample_by_source",
    "context_chunks",
    "length_bucket_batches",
    "curriculum_order",
    "winnow_overlap_pairs",
    "asof_view_before_purchase",
    "range_join_price_bands",
    "multimodal_feature_extract",
    "multimodal_phash_dedup",
    "multimodal_phash_dedup_planted",
    "gopher_quality_flags",
    "c4_quality_flags",
    "q9_profit_by_nation_year",
    "q18_large_volume_orders",
    "q21_sole_late_supplier",
    "q2_min_cost_supplier",
    "q4_priority_order_exists",
    "q14_promo_revenue_share",
    "q19_disjunctive_predicates",
    "q20_part_heavy_suppliers",
    "q22_idle_rich_customers",
    "events_running_stats",
)


def audit(plan: str) -> list[str]:
    notes = []
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    if any(p.strip() for p in pushed):
        notes.append("filters pushed to scan: " + "; ".join(p for p in pushed if p.strip()))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if schemas:
        ncols = [len(s.split(",")) for s in schemas if s]
        notes.append(f"column-pruned scans: {len(schemas)} scan(s), {ncols} cols read")
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    n_shj = plan.count("ShuffledHashJoin")
    if n_bhj or n_smj or n_shj:
        notes.append(f"joins: {n_bhj} broadcast-hash, {n_shj} shuffled-hash, {n_smj} sort-merge")
    # formatted mode prints exchanges as "(N) Exchange" with an Arguments
    # line carrying the partitioning; count shuffles (not broadcasts) there
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    n_range = len(re.findall(r"Arguments: rangepartitioning", plan))
    n_single = len(re.findall(r"Arguments: SinglePartition", plan))
    notes.append(f"shuffle exchanges: {n_hash} hash, {n_range} range, {n_single} single-partition")
    if "CartesianProduct" in plan:
        notes.append("WARNING: CartesianProduct present")
    if "BroadcastNestedLoopJoin" in plan:
        notes.append("note: BroadcastNestedLoopJoin present (bounded side broadcast)")
    if "localCheckpoint" in plan:
        notes.append(
            "note: plan reads a localCheckpoint -- an iterative operator"
            " (pointer-jumping CC label rounds, BPE merge rounds) pins its"
            " per-round state to cut lineage, so this audit covers the"
            " post-checkpoint tail; the upstream iteration's own stages are"
            " the per-round shapes described in the operator's docstring"
            " (and, for CC, audited under minhash_lsh_pairs)"
        )
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain-report")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    print("# PLANS -- physical-plan audit of the headline queries")
    print()
    print(f"Generated by `python tools/explain_report.py {sf_dir}`; plans are")
    print("`.explain('formatted')` output at that SF. The checklist lines are")
    print("extracted from the plan text by tools/explain_report.py (pushdown,")
    print("pruning, join strategies, exchange counts) -- regenerate after any")
    print("plan-affecting change.")
    print()
    for name in REPORT:
        df = specs[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"## {name}")
        print()
        for note in audit(plan):
            print(f"- {note}")
        print()
        print("```")
        # the formatted header (operator tree + per-node details); cap very
        # long detail sections to keep the file reviewable
        lines = plan.rstrip().splitlines()
        print("\n".join(lines[:160]))
        if len(lines) > 160:
            print(f"... ({len(lines) - 160} detail lines elided)")
        print("```")
        print()


if __name__ == "__main__":
    main()
