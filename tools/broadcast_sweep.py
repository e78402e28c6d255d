"""r14 sweep: find CORPUS-SIZED broadcast builds in every registered
query's static plan at a replicated corpus (the generalized form of the
r13 multiclass / r14 incremental-census audits -- static size estimates
through explode/distinct/aggregate chains undershoot the broadcast
threshold, and the planner then broadcasts a frame that scales with the
corpus).

For each registered query (minus the iterative trainers, whose builders
EXECUTE driver-side rounds and already carry their own x100/x300 SCALE.md
decades), the sweep builds the plan against an x100-replicated corpus and
prints, for every BroadcastExchange in the physical tree, the leaf scans
and shape-changing ops (Generate/Aggregate/Filter/Window) inside its
subtree. A broadcast whose subtree reads documents/embeddings through a
Generate (explode) with NO aggregate between is corpus-sized by
construction and flagged SUSPECT; aggregates/filters in between need a
human boundedness argument (df caps, top-k, vocab-sized rollups), so they
print as REVIEW with the op chain.

Usage: python tools/broadcast_sweep.py [factor] [op ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_cdc_fluss_quickstart_spark.session import get_spark  # noqa: E402
from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs  # noqa: E402
from tools.scale_smoke import build_scaled  # noqa: E402

# builders that execute driver-side iteration rounds at BUILD time (GD /
# Lloyd / power-iteration / pointer-jumping CC / BPE argmax) -- running them
# at x100 is a timing run, not a plan peek; each already has SCALE.md
# decades and (for the GD family) the _corpus_side pins of r13
EXEC_SKIP = {
    "logreg_quality_score", "logreg_holdout_eval", "logreg_calibration_report",
    "score_drift_report", "hashed_ngram_langid", "langid_multiclass",
    "source_curation_report",
    "kmeans_embeddings", "embedding_ivfpq_topk", "embedding_pq_codes",
    "embedding_pq_adc_topk", "pq_incremental_codes", "pq_adc_recall_report",
    "embedding_pca_top_component", "embedding_ann_ivf", "embedding_ann_multiprobe",
    "ann_recall_report", "ann_recall_report_clustered", "rrf_hybrid_retrieval_ann",
    "embedding_label_centroids", "embedding_int8_quantize",
    "bpe_merge_candidates", "bpe_encode_tokens", "tokenizer_fertility_by_lang",
    "dedup_components", "dedup_keep_representatives", "soft_dedup_weights",
    "leakage_safe_split_assign", "textrank_keywords",
    "embedding_dedup_representatives",  # CC loop over x100 LSH pairs
    "curriculum_order", "training_shuffle_order", "contrastive_triplets",
    # streaming-shaped or PKTable-backed builders (materialize state)
    "upsert_latest_snapshot", "changelog_apply_snapshot",
    "changelog_aware_aggregation",
}


def subtree(lines: list[str], i: int) -> list[str]:
    """Lines of the operator subtree rooted at tree line i (indent-based)."""

    def depth(s: str) -> int:
        m = re.search(r"[A-Za-z(]", s)
        return m.start() if m else len(s)

    d0 = depth(lines[i])
    out = [lines[i]]
    for j in range(i + 1, len(lines)):
        if depth(lines[j]) <= d0:
            break
        out.append(lines[j])
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]]
    # the factor is optional: op names may start at args[0], and must not
    # silently drop out of the filter set when it does
    if args and args[0].isdigit():
        factor, ops = int(args[0]), args[1:]
    else:
        factor, ops = 100, args
    only = set(ops) if ops else None
    spark = get_spark("broadcast-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    tmp = tempfile.mkdtemp(prefix="bsweep_")
    d = os.path.join(tmp, f"x{factor}")
    os.makedirs(d, exist_ok=True)
    build_scaled(d, factor)
    names = [n for n in specs if (only is None or n in only)]
    flagged = 0
    for name in names:
        if only is None and name in EXEC_SKIP:
            continue
        try:
            df = specs[name].builder(spark, d)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            print(f"-- {name}: build failed: {e}")
            continue
        tree = plan.split("\n\n")[0].splitlines()
        reports = []
        for i, line in enumerate(tree):
            if "BroadcastExchange" not in line:
                continue
            sub = subtree(tree, i)
            ops = [re.sub(r"^[^A-Za-z]*", "", s).split(" ")[0] for s in sub[1:]]
            chain = [o for o in ops if o in (
                "Scan", "Generate", "HashAggregate", "ObjectHashAggregate",
                "SortAggregate", "Window", "Filter", "InMemoryTableScan",
                "Union", "BroadcastHashJoin", "SortMergeJoin", "Expand",
            )]
            has_scan = any(o in ("Scan", "InMemoryTableScan") for o in chain)
            has_gen = "Generate" in chain
            has_agg = any("Aggregate" in o for o in chain)
            if has_scan and has_gen and not has_agg:
                reports.append(("SUSPECT", chain))
            elif has_scan and (has_gen or has_agg):
                reports.append(("review", chain))
        if any(tag == "SUSPECT" for tag, _ in reports):
            flagged += 1
        for tag, chain in reports:
            print(f"{tag:7s} {name}: broadcast subtree ops = {chain}")
        if not reports:
            print(f"ok      {name}")
        sys.stdout.flush()
    print(f"== {flagged} SUSPECT op(s)")


if __name__ == "__main__":
    main()
