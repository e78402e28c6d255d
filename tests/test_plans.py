"""Physical-plan regression tests: the scale posture is part of the contract.

These assert the plan SHAPE (pushdown, pruning, join strategy), not timings:
a correct-but-mis-planned query would still pass the oracle gate yet fall
over at 100 TB, so plan regressions must fail CI.
"""

from __future__ import annotations

import pytest
from conftest import count_jobs

from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs

SF_DIR = "/root/testdata/sf0.001"


def _plans(spark, name):
    df = all_specs()[name].builder(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return qe.executedPlan().toString(), formatted


@pytest.mark.parametrize(
    "name",
    ["revenue_analytics", "q3_top_revenue_orders", "q5_region_revenue"],
)
def test_no_cartesian_anywhere(spark, name):
    plan, _ = _plans(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_revenue_analytics_plan(spark):
    plan, formatted = _plans(spark, "revenue_analytics")
    # dimension side broadcasts at test SF (64m threshold)
    assert "BroadcastHashJoin" in plan
    # the IS NOT NULL filter reaches the orders parquet scan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in formatted
    # column pruning: orders scan must NOT read the unused o_orderpriority
    scan_schemas = [
        line for line in formatted.splitlines() if "ReadSchema" in line
    ]
    orders_schema = next(s for s in scan_schemas if "o_custkey" in s)
    assert "o_orderpriority" not in orders_schema


def test_q3_filters_pushed_to_scan(spark):
    _, formatted = _plans(spark, "q3_top_revenue_orders")
    # literal predicates reach parquet, not a post-scan Filter only
    assert "EqualTo(c_mktsegment,BUILDING)" in formatted
    assert "EqualTo(o_orderstatus,O)" in formatted
    # lineitem scan prunes to the 3 needed columns
    li = next(s for s in formatted.splitlines() if "ReadSchema" in s and "l_orderkey" in s)
    assert "l_comment" not in li and "l_quantity" not in li


def test_q5_all_joins_broadcast_at_test_sf(spark):
    plan, formatted = _plans(spark, "q5_region_revenue")
    # 5 joins: every dimension side under the 64m threshold broadcasts
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in formatted


def test_whole_stage_codegen_covers_agg(spark):
    df = all_specs()["q1_pricing_summary"].builder(spark, SF_DIR)
    df.collect()  # an action on THIS frame finalizes its adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the hot aggregate path stays inside codegen (JVM, no Python boundary);
    # executed plans print codegen spans as "*(n)" stage markers
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # two-phase aggregation: partial before the exchange, final after
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_ivf_routing_is_equi_join(spark):
    """embedding_ann_ivf: the corpus-facing probe must be an equi hash join
    on the cell id. The only nested-loop join allowed is the tiny
    queries x centroids routing cross join (both sides broadcast-sized)."""
    plan, _ = _plans(spark, "embedding_ann_ivf")
    assert "CartesianProduct" not in plan
    # routing cross join is the single permitted nested-loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # corpus probe: hash join (broadcast at test SF; shuffle hash at scale)
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_ann_lsh_bucket_join_is_hash_join(spark):
    """Sign-LSH ANN must stay an equi hash join on the bucket id -- a theta
    or nested-loop join here is the quadratic scale-killer."""
    plan, _ = _plans(spark, "embedding_ann_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_is_semi_join(spark):
    plan, formatted = _plans(spark, "q4_priority_order_exists")
    assert "LeftSemi" in plan
    # the date range on orders reaches the parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in formatted


def test_q7_broadcasts_nation_twice_no_cartesian(spark):
    plan, _ = _plans(spark, "q7_nation_trade_flows")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q19_brand_disjunction_pushed_to_part_scan(spark):
    _, formatted = _plans(spark, "q19_disjunctive_predicates")
    # Catalyst factors the part-only OR-chain into a scan-level filter
    assert "Brand#11" in formatted and "Brand#33" in formatted


def test_q22_not_exists_is_anti_join(spark):
    plan, formatted = _plans(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    # urgent-orders filter reaches the orders scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in formatted


def test_bm25_probe_is_equi_join_with_bounded_broadcasts(spark):
    """The BM25 posting-list probe must stay an equi join on the term key
    (hash or sort-merge), with broadcasts only for the metadata-sized scalar
    frames (stats) -- no CartesianProduct, no data-on-data nested loop."""
    plan, formatted = _plans(spark, "bm25_retrieval")
    assert "CartesianProduct" not in plan
    # every nested-loop node must be a 1-row scalar broadcast (the stats
    # cross joins); a BNLJ with a join condition would be a theta join
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        # the build side is always the broadcast 1-row stats aggregate (a
        # Cross/Inner scalar join, possibly carrying the pushed-in
        # eligibility predicate) -- never a data-on-data theta join
        assert m.group(1) == "BuildRight" and m.group(2) in ("Inner", "Cross")


def test_collocation_top_k_is_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge of k x partitions rows), never a global Sort+Limit
    that funnels the pair table through one partition."""
    plan, _ = _plans(spark, "collocation_pmi")
    assert "TakeOrderedAndProject" in plan


def test_curriculum_rank_windows_are_partitioned(spark):
    """No corpus-sized window may run unpartitioned: the row_number windows
    must key on the stamped range-partition id; the only global-ordered
    window is the metadata-sized per-partition base prefix sum."""
    plan, _ = _plans(spark, "curriculum_order")
    assert "rangepartitioning" in plan.lower()


@pytest.mark.parametrize("name", ["winnow_overlap_pairs", "ann_recall_report"])
def test_plan_build_runs_no_compute_jobs(spark, name, monkeypatch):
    """Building (and explaining) a plan must run no COMPUTE on the cluster:
    the winnow pair-join partition sizing reads the parquet footer row count
    driver-side (tables.table_row_count), and the recall report composes its
    ANN plans lazily. The only jobs allowed during a build are the one
    schema-inference job `spark.read.parquet` runs per load_table call; any
    job beyond that is an eager count()/collect() at build time, which would
    make every explain/report pass pay a corpus scan (the bug class fixed
    for ann_recall_report in r6 and winnow_overlap_pairs in r7)."""
    import flink_cdc_fluss_quickstart_spark.plans.similarity_queries as sq
    import flink_cdc_fluss_quickstart_spark.plans.text_queries as tq
    import flink_cdc_fluss_quickstart_spark.tables as tables_mod

    calls = {"n": 0}
    real = tables_mod.load_table

    def counting(spark_, sf_dir, tbl):
        calls["n"] += 1
        return real(spark_, sf_dir, tbl)

    for mod in (tables_mod, tq, sq):
        monkeypatch.setattr(mod, "load_table", counting)

    _, n_jobs = count_jobs(spark, lambda: _plans(spark, name))
    assert n_jobs <= calls["n"], (
        f"plan build for {name} ran {n_jobs} jobs for {calls['n']} table"
        f" loads -- an eager action at build time"
    )


def test_asof_view_is_single_shuffle(spark):
    """The r8 review fix: the views side must NOT carry a pre-dedup
    row_number pass -- asof_join's right_order tie policy already picks the
    same row -- so the whole as-of query is exactly ONE hash exchange (the
    union-tag window's user_id shuffle)."""
    plan, _ = _plans(spark, "asof_view_before_purchase")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q16_part_filter_applies_before_anti_join(spark):
    """The r8 review fix: the ~16x-selective part join must sit BELOW the
    supplier anti join (Catalyst won't reorder an inner join below an anti
    join on its own), so the anti probe sees the filtered lineitem."""
    plan, _ = _plans(spark, "q16_supplier_part_variety")
    anti = plan.index("LeftAnti")
    # the part-side inner join appears deeper in the tree (later in the
    # toString) than the anti join that consumes its output
    inner = plan.index("p_partkey", anti)
    assert inner > anti, plan[:2000]


def test_q8_customer_prefiltered_through_region_dims(spark):
    """The r8 review fix: customer must join the broadcast nation+region
    dims BEFORE meeting the orders fact chain, so the o_custkey shuffle
    join probes only the ASIA-region customers."""
    plan, _ = _plans(spark, "q8_national_market_share")
    # the customer-side broadcast joins to nation/region appear below
    # (later in toString than) the o_custkey join that consumes them
    shuffle_join = plan.index("o_custkey")
    assert plan.index("r_regionkey", shuffle_join) > shuffle_join, plan[:2000]


def test_q18_scans_lineitem_once(spark):
    """q18's HAVING aggregate doubles as the projected total (the joins are
    key-unique), so the plan must read lineitem ONCE -- the naive semi-join
    + re-aggregate spelling scanned and shuffled it twice with no
    ReuseExchange possible."""
    plan, _ = _plans(spark, "q18_large_volume_orders")
    assert plan.count("lineitem.parquet") == 1, plan[:2000]


@pytest.mark.parametrize("name", ["q15_top_revenue_supplier", "q11_important_part_value"])
def test_scalar_subquery_shapes_reuse_the_bounded_aggregate(spark, name):
    """q15/q11 derive a scalar threshold from a dimension-sized aggregated
    frame and then filter that same frame: both consumers must read the
    persisted frame (unpersisted, each re-ran the full lineitem scan)."""
    plan, _ = _plans(spark, name)
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_q21_scans_each_fact_once(spark):
    """q21's per-order census runs as a window over the (order, supplier)
    reduction, so each fact table is scanned once -- the fact-vs-own-
    aggregate join re-ran the lineitem-orders shuffle join end-to-end."""
    import re
    from collections import Counter

    plan, _ = _plans(spark, "q21_sole_late_supplier")
    scans = Counter(re.findall(r"FileScan parquet \[[^\]]*\][^\n]*?(\w+)\.parquet", plan))
    assert scans["lineitem"] == 1 and scans["orders"] == 1, dict(scans)


def test_q9_filter_pushed_and_fact_scanned_once(spark):
    """q9 (newly benched r9): the p_type filter must reach the part scan
    (shrinking the build side before the join) and the 7-way tree must read
    the lineitem fact exactly once -- supply-side dims join as
    broadcast/hash builds around one fact pass."""
    plan, _ = _plans(spark, "q9_profit_by_nation_year")
    assert "p_type" in plan and "PushedFilters" in plan, plan[:2000]
    assert plan.count("lineitem.parquet") == 1, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_pairs",
        "simhash_neardup_pairs",
        "ngram_jaccard_neardup",
        "ngram_containment_pairs",
        "minhash_estimate_quality",
        "minhash_incremental_pairs",
        "multimodal_phash_dedup",
    ],
)
def test_neardup_corpus_sides_never_broadcast(spark, name):
    """r14 x100 sweep regression guard: every join in the near-dup pair
    family has corpus-sized sides (band-exploded self-joins, per-doc
    profile verify frames), so NONE of them may plan as a broadcast build
    at any SF -- static estimates through the explode chains undershoot
    the threshold and a retuned/hint-dropped build side would silently
    reintroduce the corpus-in-one-heap plan
    (functions.dedup._corpus_join_side)."""
    plan, _ = _plans(spark, name)
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert "SortMergeJoin" in plan, plan[:2000]


def test_neardup_source_overlap_broadcasts_only_the_scalar_total(spark):
    """The source-overlap rollup keeps exactly ONE broadcast: the one-row
    grand-total frame its milli-share division consumes. The pair join and
    the (doc, source) tag joins are corpus-sized and must stay sort-merge."""
    plan, _ = _plans(spark, "neardup_source_overlap")
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row crossJoin
    assert "SortMergeJoin" in plan, plan[:2000]


def test_band_join_stays_sort_merge_at_runtime_under_shj_rewrite(spark):
    """r16 evidence closure for the r15 AQE shuffled-hash rewrite conf
    (session.py maxShuffledHashJoinLocalMapThreshold): the SHUFFLE_MERGE
    hint on corpus self-joins (functions.dedup._corpus_join_side) must
    keep winning DURING AQE re-planning too, not just in the static plan
    -- the runtime rewrite applies only to unhinted sort-merge joins, so
    the r14 memory-safety pins hold by construction at execution time.
    Executes the query (collect() runs the frame's own QueryExecution, so
    ITS AdaptiveSparkPlan finalizes -- count() would finalize a different
    wrapper plan) and asserts the finalized plan still carries the
    sort-merge band join and no shuffled-hash or broadcast-hash variant
    of it."""
    df = all_specs()["minhash_lsh_pairs"].builder(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final[:500]
    assert "SortMergeJoin" in final, final[:3000]
    assert "ShuffledHashJoin" not in final, final[:3000]
    assert "BroadcastHashJoin" not in final, final[:3000]


@pytest.mark.parametrize(
    "name,n_merge",
    [("span_dedup_incremental", 2), ("line_dedup_incremental", 1)],
)
def test_incremental_census_joins_are_sort_merge(spark, name, n_merge):
    """r14 x100 audit regression guard: the batch-vs-census joins of the
    incremental dedup paths pin their corpus-sized census side to
    sort-merge (span: the semi + anti gram joins; line: the outer gate
    join). The batch-bounded frames (bdup/gate/starts) may still
    broadcast, so the guard counts merge joins rather than banning
    broadcasts outright."""
    plan, _ = _plans(spark, name)
    assert plan.count("SortMergeJoin") >= n_merge, plan[:3000]
