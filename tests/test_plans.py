"""Physical-plan regression tests: the scale properties SURVEY.md §2b/§4
claims (broadcast dim joins, filter pushdown, column pruning, partial
aggregation) must be visible in the executed plan, not just intended.

These guard against silent plan regressions — e.g. a dim join decaying to
SortMergeJoin, or a filter failing to reach the parquet scan — which would
be invisible at test scale but dominate at 100 TB.
"""

from __future__ import annotations

import pytest

from aws_data_engineering_spark.plans.registry import queries
from tests.oracle_utils import executed_plan


@pytest.fixture(scope="module")
def registry_dfs(spark, sf_dir) -> dict:
    """One shared build of every auditable registry query's DataFrame —
    constructing all ~300 plans costs ~3 min, and the two whole-registry
    sweeps below used to pay it twice (VERDICT r11 #1: the suite outgrew
    the driver's verify budget)."""
    return {
        name: fn(spark, sf_dir)
        for name, fn in queries().items()
        if not name.startswith(_AUDIT_SKIP_PREFIXES) and name not in _AUDIT_SKIP
    }


def test_q02_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = executed_plan(queries()["q02_revenue_by_nation"](spark, sf_dir))
    # every dim join is broadcast; the fact table must never sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q34_profit_join_broadcasts_dims(spark, sf_dir):
    plan = executed_plan(queries()["q34_profit_by_nation_year"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # part and supplier⨝nation
    assert "SortMergeJoin" not in plan


def test_q01_filter_pushed_to_scan(spark, sf_dir):
    plan = executed_plan(queries()["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_partial_aggregation(spark, sf_dir):
    # map-side partial agg before the exchange: two HashAggregate levels
    plan = executed_plan(queries()["q01_pricing_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_column_pruning_reaches_scan(spark, sf_dir):
    # q14 projects 2 of lineitem's 11 columns (+1 filter col); the parquet
    # ReadSchema must not contain unprojected wide columns
    plan = executed_plan(queries()["q14_parts_by_volume"](spark, sf_dir))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert not any("l_comment" in ln or "l_shipinstruct" in ln for ln in scan_lines)
    # lineitem scan must be narrow: fewer than 6 of its columns survive
    li_line = next(ln for ln in scan_lines if "l_" in ln)
    read_schema = li_line.split("ReadSchema:")[1]
    assert read_schema.count("l_") < 6, li_line


def test_q03_topk_avoids_global_sort(spark, sf_dir):
    plan = executed_plan(queries()["q03_top_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_d09_contamination_broadcasts_benchmark(spark, sf_dir):
    plan = executed_plan(queries()["d09_benchmark_contamination"](spark, sf_dir))
    # the benchmark gram set joins via broadcast; candidate grams never shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q57_argmax_single_pass_no_window(spark, sf_dir):
    plan = executed_plan(queries()["q57_argmax_customers"](spark, sf_dir))
    # argmax runs as a partial-aggregable agg (two HashAggregate/ObjectHash
    # levels), never a per-group window sort
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t10_topk_is_take_ordered(spark, sf_dir):
    plan = executed_plan(queries()["t10_top_tokens"](spark, sf_dir))
    # global top-20 must be TakeOrderedAndProject (per-partition heap),
    # not a full Sort of all distinct tokens
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine of hot tokens


def test_q56_exchange_reuse_on_group_key_join(spark, sf_dir):
    plan = executed_plan(queries()["q56_big_order_customers"](spark, sf_dir))
    # customer dim joins via broadcast; the orders join may shuffle, but the
    # lineitem groupBy(l_orderkey) partitioning must serve the downstream
    # join without a second fact-side exchange
    assert "BroadcastHashJoin" in plan


def test_p05_packing_windows_partition_by_group(spark, sf_dir):
    plan = executed_plan(queries()["p05_sequence_packing"](spark, sf_dir))
    # the prefix-sum window must partition by source (parallel per corpus),
    # not run single-partition
    assert "Window" in plan
    w_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert any("source" in ln for ln in w_lines), w_lines


def test_dq01_orphan_checks_use_anti_joins(spark, sf_dir):
    plan = executed_plan(queries()["dq01_data_quality_checks"](spark, sf_dir))
    # referential-integrity rules must run as anti-joins (broadcast for the
    # dim-sized parents), never as correlated per-row subqueries
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q68_reconciliation_single_join(spark, sf_dir):
    plan = executed_plan(queries()["q68_snapshot_reconciliation"](spark, sf_dir))
    # one full-outer join of the two snapshots; both sides scan orders once
    assert plan.count("SortMergeJoin FullOuter") + plan.count("FullOuter") >= 1


def test_q61_session_window_partial_agg(spark, sf_dir):
    plan = executed_plan(queries()["q61_builtin_session_window"](spark, sf_dir))
    # session windows merge map-side before the shuffle (partial agg)
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 1
    assert "Exchange" in plan


def test_pp01_pipeline_fuses_scalar_stages(spark, sf_dir):
    plan = executed_plan(queries()["pp01_training_data_pipeline"](spark, sf_dir))
    # quality/lang/fingerprint/split are all scalar expressions: exactly
    # one scan of documents, and only the dedup window + final agg shuffle
    assert plan.count("documents") >= 1
    assert plan.count("Exchange") <= 3, plan.count("Exchange")


def test_s06_ivf_fixed_no_cartesian(spark, sf_dir):
    plan = executed_plan(queries()["s06_ann_ivf_fixed_topk"](spark, sf_dir))
    # inverted-list search: scoring is list-local (one hash-partition
    # exchange on list_id feeding the per-list kernel), never a global
    # query×candidate product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(list_id" in plan, plan[:1200]
    assert "FlatMapGroupsInPandas" in plan or "applyInPandas" in plan.lower()


def test_t15_vocab_rejoin_no_driver_vocab(spark, sf_dir):
    plan = executed_plan(queries()["t15_unigram_logprob"](spark, sf_dir))
    # the unigram-LM score re-joins tokens with corpus counts as a JOIN on
    # token (shuffle or broadcast — both distributed); the corpus-total is
    # the only broadcast-able singleton
    assert "Join" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_q76_both_geo_roles_broadcast(spark, sf_dir):
    plan = executed_plan(queries()["q76_volume_shipping"](spark, sf_dir))
    # supplier-geo and customer-geo both broadcast: the fact side shuffles
    # only for the lineitem⨝orders join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q77_all_dims_broadcast_no_fact_sortmerge(spark, sf_dir):
    plan = executed_plan(queries()["q77_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # part, cust-asia, supp-geo
    assert "CartesianProduct" not in plan


def test_q75_date_filter_pushed(spark, sf_dir):
    plan = executed_plan(queries()["q75_promo_revenue_share"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q81_argmin_single_pass_no_window(spark, sf_dir):
    plan = executed_plan(queries()["q81_min_cost_supplier"](spark, sf_dir))
    # per-part argmin is MIN(struct) — partial-aggregable, no window sort
    assert "Window" not in plan
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2
    assert "SortMergeJoin" not in plan


def test_q81_part_size_filter_pushed(spark, sf_dir):
    plan = executed_plan(queries()["q81_min_cost_supplier"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(p_size), EqualTo(p_size,25)" in plan


def test_dq04_stats_broadcast_single_scan(spark, sf_dir):
    plan = executed_plan(queries()["dq04_partition_volume_anomaly"](spark, sf_dir))
    # the 1-row moment aggregate joins back via broadcast nested loop (a
    # true scalar), never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_e03_centroids_broadcast_argmax_no_window(spark, sf_dir):
    plan = executed_plan(queries()["e03_centroid_assignment"](spark, sf_dir))
    # 10 centroids broadcast against the fact side; per-vector argmax is
    # MAX_BY (partial-aggregable), not a row_number window
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_t17_gopher_audit_shuffle_free(spark, sf_dir):
    # the whole quality audit is per-row HOFs: no Exchange anywhere
    plan = executed_plan(queries()["t17_gopher_quality_rules"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_q82_takeordered_and_broadcast_geo(spark, sf_dir):
    plan = executed_plan(queries()["q82_returned_item_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # returnflag filter must reach the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q83_exists_is_left_semi_join(spark, sf_dir):
    plan = executed_plan(queries()["q83_late_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_e04_quantization_shuffle_free(spark, sf_dir):
    plan = executed_plan(queries()["e04_int8_quantization"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_p08_threshold_probe_broadcast(spark, sf_dir):
    # thresholds table joins back broadcast; only agg exchanges remain
    plan = executed_plan(queries()["p08_temperature_mixture"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t21_chunking_shuffle_free(spark, sf_dir):
    # chunk expansion is a per-row Generate; nothing may shuffle
    plan = executed_plan(queries()["t21_doc_chunking"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_d14_span_merge_no_cartesian(spark, sf_dir):
    # inverted-index dedup: gram equi-join only, never a cross product
    plan = executed_plan(queries()["d14_duplicate_span_merge"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_e08_power_iteration_broadcasts_v(spark, sf_dir):
    # the 64-row v vector joins back broadcast; the exploded relation must
    # never sort-merge against it
    plan = executed_plan(queries()["e08_power_iteration_pca"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dq07_winsorize_broadcasts_quantiles(spark, sf_dir):
    plan = executed_plan(queries()["dq07_winsorized_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_c11_delta_filter_pushed(spark, sf_dir):
    # the IVM delta branch's cutoff predicate must reach the orders scan
    plan = executed_plan(queries()["c11_incremental_view_maintenance"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_c12_partition_filters_prune_scan(spark, sf_dir):
    # the date predicate must be a partition filter (listing-time pruning),
    # not a data filter evaluated per row
    plan = executed_plan(queries()["c12_partition_pruned_read"](spark, sf_dir))
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_e11_centroids_broadcast(spark, sf_dir):
    plan = executed_plan(queries()["e11_embedding_health"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q104_aqe_skew_split_fires(spark):
    """q104's planted 5-key skew must be split by AQE at runtime — the
    EXECUTED plan (AQE finalizes only after an action) carries
    SortMergeJoin(skew=true) — and the skew-split aggregate must equal the
    plain q43 oracle aggregate row-for-row. Pinned to sf0.01: at sf0.001
    the hot partitions sit under the 16KB skew threshold by design (the
    thresholds model real-cluster defaults scaled to fixture bytes)."""
    from aws_data_engineering_spark.plans.relational_queries import (
        _q104_skew_confs,
        _q104_skewed_agg,
    )

    sfd = "/root/testdata/sf0.01"
    confs = _q104_skew_confs(sfd)
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = _q104_skewed_agg(spark, sfd)
        got = {
            (r["o_orderpriority"], r["revenue"], r["n_items"])
            for r in df.collect()
        }
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    want = {
        (r["o_orderpriority"], r["revenue"], r["n_items"])
        for r in queries()["q43_salted_skew_join"](spark, sfd).collect()
    }
    assert got == want


# Queries whose *construction* has side effects (writes, stream drains,
# checkpoint jobs) — excluded from the whole-registry plan audit to keep it
# fast and hermetic; each has its own dedicated tests above / in the suite.
_AUDIT_SKIP_PREFIXES = ("st",)
_AUDIT_SKIP = {
    "c03_managed_table_roundtrip", "c04_incremental_rollup",
    "c05_binaryfile_scan", "c06_python_datasource_sink",
    "c08_csv_corrupt_quarantine", "c09_bucketed_colocated_join",
    "c10_small_file_compaction", "c12_partition_pruned_read",
    "d10_neardup_clusters", "d11_bloom_contamination",
    "c13_csv_quoting_roundtrip", "c14_json_corrupt_quarantine",
    "d15_cdc_chunk_dedup", "g04_kcore_peeling",
    "g01_pagerank_neardup_graph", "g02_triangle_count",
    "g05_bfs_copurchase_hops", "g06_clustering_coefficient",
    "g03_label_propagation", "s04_ann_ivf_topk", "e06_semdedup",
    "e07_kmeans_lloyd", "m06_wav_decode_features", "m07_jpeg_decode_features",
    # q104 materializes under conf-scoped AQE thresholds at construction
    # (its skew plan is asserted by test_q104_aqe_skew_split_fires)
    "q104_aqe_skew_join",
    # c25 builds its 3-commit manifest table (writes) at construction; its
    # file mechanics are pinned by tests/test_round11.py
    "c25_snapshot_expire_vacuum",
}

# BroadcastNestedLoopJoin is legitimate ONLY as a broadcast scalar/constant
# join (1-row aggregates: global means, vector norms, token totals, the MMR
# selected set) or the documented broadcast range join (q19). Anything else
# appearing here is a regression toward an accidental cross product.
_BNLJ_ALLOW = {
    "q19_range_join", "q33_inactive_rich_customers", "q41_conversion_funnel",
    "q69_recursive_month_spine", "q80_important_parts",
    "dq04_partition_volume_anomaly", "dq09_benford_audit", "dq11_psi_drift",
    "e03_centroid_assignment", "e13_binary_hamming_topk",
    "e14_centroid_separation",
    "q92_association_rules",
    "e08_power_iteration_pca", "s09_mmr_diversified_topk",
    "t16_tfidf_top_terms", "t23_pmi_collocations",
    # q94 broadcasts the bounded day spine into a range join (the q19
    # shape); e15 compares a deterministic sample against itself; p12
    # fans every doc out against a broadcast 3-row epoch spine.
    "q94_trailing_distinct_users", "e15_jl_projection_audit",
    "p12_epoch_shuffle",
    # t29's per-round 1-row argmax winners broadcast back into the corpus
    # scan (Column-built replace patterns)
    "t29_bpe_merge_learning",
    # t30 broadcasts the 1-row corpus-stats aggregate (N, Σdl, per-term df)
    # back into the scoring scan — test_t30_bm25_no_corpus_shuffle pins
    # that exact shape
    "t30_bm25_topk",
    # t32 fans each doc's K-row profile against the |langs|-row broadcast
    # candidate table; t34's scaffold is the |langs|²/2 pair table crossed
    # with the vocab-bounded token list — both bounded broadcasts, never
    # corpus rows on the build side
    "t32_langid_ngram_profile", "t34_lang_jsd_matrix",
    # e20 scores every vector against a <=16-row broadcast centroid table
    # per k — the e03/e19 shape
    "e20_inertia_elbow_sweep",
    # s11's dense arm crossJoins the broadcast 1-ROW query vector into the
    # candidate scan (the t30 corpus-stats shape); the BM25 arm reuses
    # t30's allowlisted 1-row stats broadcast. Fusion itself is a
    # pool-bounded full-outer SMJ, never nested-loop.
    "s11_rrf_hybrid_retrieval",
    # c21's two pruning-audit columns ride broadcast 1-ROW aggregates
    # (probe census + build-key count) crossed into the grouped result —
    # the dq04/t30 scalar-broadcast shape; the data joins are 4 broadcast
    # hash equi-joins (bits) + one sort-merge equi-join (exact).
    "c21_bloom_semijoin_reduction",
}


def test_whole_registry_no_cartesian_products(spark, sf_dir, registry_dfs):
    """Every registry query's physical plan must be free of CartesianProduct,
    and BroadcastNestedLoopJoin may appear only in the documented
    scalar-broadcast / range-join allowlist — the global guard that no
    query ever decays into an accidental all-pairs join."""
    bad = []
    for name, df in registry_dfs.items():
        plan = executed_plan(df)
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOW:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_whole_registry_scalar_output_columns(spark, sf_dir, registry_dfs):
    """No registry query may project a top-level array/map/struct column:
    the driver's pandas canonicalizer sort_values over all columns and
    factorize dies on unhashable list/dict cells (CORRECTNESS_r03 q65).
    Nested types are fine mid-plan — only the final schema must be scalar.
    Schema comes from plan analysis only (no execution), so this sweeps the
    no-oracle queries the compare()-side guard never sees."""
    nested = {"array", "map", "struct"}
    bad = []
    for name, df in registry_dfs.items():
        for f in df.schema.fields:
            if f.dataType.typeName() in nested:
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, (
        f"top-level nested output columns crash the driver canonicalizer; "
        f"serialize with concat_ws/to_json at the query edge: {bad}"
    )


def test_bpe_learn_releases_intermediate_checkpoints(spark, sf_dir):
    """bpe_learn must unpersist every intermediate checkpoint block before
    returning (ADVICE r05: leaked localCheckpoints survive clearCache and
    accumulate across repeated t29 runs) — only the k-row result block may
    remain — and the returned result must still be usable afterwards."""
    from aws_data_engineering_spark.operators import text as T
    from aws_data_engineering_spark.sources.tables import load_table

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    docs = load_table(spark, sf_dir, "documents").limit(50)
    before = n_persistent()
    out = T.bpe_learn(docs, "text", rounds=3)
    rows = out.collect()
    assert len(rows) == 3
    # one block for the checkpointed k-row result, nothing else
    assert n_persistent() <= before + 1
    # result survives its intermediates being gone (re-collect hits the
    # checkpointed block, not the destroyed lineage)
    assert out.count() == 3


def test_s10_corpus_stays_map_side(spark, sf_dir):
    """Hard-negative mining: the candidate corpus must flow scan →
    repartition → one Python map stage, with the ONLY post-kernel exchange
    being the k·A-row per-anchor window — never an N×A score matrix. One
    MapInPandas, and every Exchange in the plan sits above it."""
    plan = executed_plan(queries()["s10_hard_negative_topk"](spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    kernel_pos = plan.index("MapInPandas")
    # exchanges above the kernel (window + initial fan-out repartition) are
    # fine; below it (i.e. later in the bottom-up string) only the fan-out
    # RoundRobin repartition may appear — no hash shuffle of raw vectors
    below = plan[kernel_pos:]
    assert "hashpartitioning" not in below.lower().replace(
        "roundrobinpartitioning", ""
    )


def test_m14_m15_codec_chain_shuffle_free(spark, sf_dir):
    """The synthesize → decode codec chains are pure map pipelines: blobs
    must die inside the Python stages with no Exchange anywhere (at 100 TB
    of media the plan IS the scan)."""
    for name in (
        "m14_audio_dynamics",
        "m15_jpeg420_decode",
        "m16_jpeg_progressive_decode",
        "m17_mjpeg_frame_decode",
    ):
        plan = executed_plan(queries()[name](spark, sf_dir))
        assert "Exchange" not in plan, (name, plan)
        assert plan.count("MapInPandas") >= 2, name


def test_t30_bm25_no_corpus_shuffle(spark, sf_dir):
    """Fixed-query BM25 is scan-local: per-term tf/dl are HOF expressions,
    corpus stats one 1-row broadcast aggregate, the top-k a
    TakeOrderedAndProject — corpus rows must never hash-shuffle."""
    plan = executed_plan(queries()["t30_bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "hashpartitioning" not in plan


def test_p14_curriculum_single_shuffle(spark, sf_dir):
    """Phase assignment + epoch fan-out are scan-stage expressions; the only
    exchange in the census is the final (epoch, phase) groupBy."""
    plan = executed_plan(queries()["p14_curriculum_schedule"](spark, sf_dir))
    assert "Generate" in plan  # posexplode fan-out, in the scan stage
    assert plan.count("Exchange") == 1


def test_c17_dynamic_partition_pruning(spark, sf_dir):
    """The quarter-filtered dim must reach the fact scan as a RUNTIME
    pruning subquery (dynamicpruning / SubqueryAdaptiveBroadcast in the
    fact FileScan's PartitionFilters) — the star-schema optimization the
    100 TB lake layout exists for."""
    plan = executed_plan(queries()["c17_dynamic_partition_pruned_join"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_survey_query_map_in_sync():
    """SURVEY §8.1 (the judge's per-name line-check map) must contain
    every registered query exactly once, at the file:line the registry
    actually resolves — regenerate with tools/gen_query_map.py."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    import gen_query_map as G

    survey = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"
    )
    text = open(survey).read()
    assert G.BEGIN in text and G.END in text
    block = text.split(G.BEGIN)[1].split(G.END)[0]
    want = G.rows()
    got = [l for l in block.splitlines() if l.startswith("| ") and "Implementation" not in l and not l.startswith("|---")]
    assert got == want, "SURVEY §8.1 stale — run: python tools/gen_query_map.py"


def test_readme_and_survey_counts_in_sync():
    """The README's headline registry counts ("M of N" oracle-checked)
    must match the live registry — VERDICT r07 #4 pinned these after two
    rounds of drift. SURVEY §8's totals line is pinned by the same rule."""
    import os
    import re

    from aws_data_engineering_spark.plans.registry import QUERIES, queries

    queries()  # load all modules
    total = len(QUERIES)
    oracle = sum(1 for q in QUERIES.values() if q.oracle is not None)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(root, "README.md")).read()
    assert f"{total} named queries" in readme, (
        f"README 'named queries' count drifted — registry has {total}"
    )
    assert readme.count(f"{oracle} of {total}") == 2, (
        f"README oracle counts drifted — registry is {oracle} of {total}"
    )
    # no stale "M of N" phrasing with other numbers may remain
    for m, n in re.findall(r"\((\d+) of (\d+)[;)]", readme):
        assert (int(m), int(n)) == (oracle, total), (
            f"README contains stale count ({m} of {n}); registry is "
            f"({oracle} of {total})"
        )
    # SURVEY §8's narrative totals line is generated from the same registry
    # (VERDICT r08 #4: it said 297/293 while the registry was 305/301)
    survey = open(os.path.join(root, "SURVEY.md")).read()
    m = re.search(r"(\d+) registry queries, (\d+) oracle-checked", survey)
    assert m, "SURVEY §8 totals line missing — run tools/gen_query_map.py"
    assert (int(m.group(1)), int(m.group(2))) == (total, oracle), (
        f"SURVEY §8 counts drifted ({m.group(0)}); registry is "
        f"{total}/{oracle} — run tools/gen_query_map.py"
    )


def test_printed_test_counts_match_collection():
    """The test counts printed in README/SURVEY are generated by
    tools/gen_query_map.py from pytest's own collector; this pins them
    against a fresh --collect-only run so drift fails the suite
    (VERDICT r08 #4: SURVEY said 628, README 654, the suite was 655)."""
    import os
    import re
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import gen_query_map as G

    # the SAME function that stamps the docs does the counting here, so
    # both sides collect under identical env/flags by construction
    n_tests = G.collected_test_count()

    readme = open(os.path.join(root, "README.md")).read()
    rm = re.search(r"(\d+) tests:", readme)
    assert rm, "README test-count line missing — run tools/gen_query_map.py"
    assert int(rm.group(1)) == n_tests, (
        f"README says {rm.group(1)} tests, collector finds {n_tests} — "
        "run tools/gen_query_map.py"
    )
    survey = open(os.path.join(root, "SURVEY.md")).read()
    sm = re.search(r"(\d+) tests, all passing", survey)
    assert sm, "SURVEY test-count line missing — run tools/gen_query_map.py"
    assert int(sm.group(1)) == n_tests, (
        f"SURVEY says {sm.group(1)} tests, collector finds {n_tests} — "
        "run tools/gen_query_map.py"
    )


def test_package_has_no_unreferenced_top_level_names():
    """Every top-level function, class and constant of the package is used
    somewhere in the repo's Python; a name whose only occurrence is its
    own definition is dead code. A use is a load of the name, an attribute
    access or an import; a decorated definition is used by its decorator
    (the query registry); dunders are exempt."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    used, defined = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if any(part.startswith(".") or part == "spark-warehouse" for part in rel.parts):
            continue
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
        if rel.parts[0] != "aws_data_engineering_spark":
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.decorator_list:
                    defined.append((rel, node.name))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                defined += [(rel, t.id) for t in targets if isinstance(t, ast.Name)]
    dead = sorted(
        f"{rel}: {name}"
        for rel, name in defined
        if name not in used and not (name.startswith("__") and name.endswith("__"))
    )
    assert not dead, dead


def test_package_has_no_unused_module_imports():
    """Every module-level import of a package module is loaded somewhere in
    that module, and no name is imported twice at module level. An import
    nothing reads only costs load time and hides the module's real
    dependencies. ``__init__.py`` re-exports and ``__future__`` are exempt."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    bad = []
    for path in sorted((root / "aws_data_engineering_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        loaded = {
            node.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
        }
        bound = set()
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                where = f"{path.relative_to(root)}:{node.lineno}: {name}"
                if name not in loaded:
                    bad.append(f"{where} is never loaded")
                elif name in bound:
                    bad.append(f"{where} is imported again")
                bound.add(name)
    assert not bad, bad


def test_package_has_no_assert_statements():
    """``python -O`` strips ``assert`` statements, so a package guard
    written as one silently stops guarding; every check raises a real
    exception instead."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    bad = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted((root / "aws_data_engineering_spark").rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not bad, bad


def test_text_contract_literals_only_in_text_module():
    """The cross-engine text contract (the ASCII-6 trim set, the A-Z fold
    pair and the whitespace-run class) is spelled once, in
    ``operators/text.py``; every other module calls its helpers."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    owner = root / "aws_data_engineering_spark" / "operators" / "text.py"
    needles = (
        "chr(9) || chr(10)",
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        r"\t\n\x0b\f\r",
        r"\\t\\n\\x0b\\f\\r",
    )
    bad = [
        f"{path.relative_to(root)}:{i}: {needle}"
        for path in sorted((root / "aws_data_engineering_spark").rglob("*.py"))
        if path != owner
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for needle in needles
        if needle in line
    ]
    assert not bad, bad


def test_foreach_batch_only_in_shared_sink_start():
    """Every foreachBatch sink starts through
    ``streaming.streams.start_batch_sink``: a call to ``foreachBatch(``
    anywhere else in the package would be a sink with its own replay
    handling instead of ``write_batch_partition``'s."""
    import inspect
    from pathlib import Path

    from aws_data_engineering_spark.streaming import streams

    root = Path(__file__).resolve().parent.parent
    lines, first = inspect.getsourcelines(streams.start_batch_sink)
    owner = {
        f"aws_data_engineering_spark/streaming/streams.py:{first + j}"
        for j, line in enumerate(lines)
        if "foreachBatch(" in line
    }
    hits = {
        f"{path.relative_to(root)}:{i}"
        for path in sorted((root / "aws_data_engineering_spark").rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "foreachBatch(" in line
    }
    assert owner and hits == owner, sorted(hits - owner)
