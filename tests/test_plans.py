"""Physical-plan assertions — the connector-parity proof (SURVEY.md §2.A/§4).

Astro's value proposition was pushdown + pruning + partial aggregation at the
storage layer. These tests assert our plans actually have those properties —
a query that silently full-scans would still pass the value checks, so the
plan IS part of the contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from backup_repo_spark import registry
from backup_repo_spark.plans.inspect import formatted_plan as plan_of
from backup_repo_spark.session import load_table
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    df = registry.QUERIES["filter_pushdown"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_shrinks_read_schema(spark):
    df = registry.QUERIES["column_pruning"](spark, SF_DIR)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_discount" in read_schema
    # none of the other 9 lineitem columns may be read
    for col in ["l_orderkey", "l_extendedprice", "l_shipdate", "l_quantity"]:
        assert col not in read_schema


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    out = str(tmp_path / "part")
    load_table(spark, SF_DIR, "orders").write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pf


def test_dynamic_partition_pruning_fires(spark):
    """The DPP query's fact scan must carry a dynamicpruningexpression —
    the runtime partition filter produced from the filtered broadcast dim
    (VERDICT r02 item 3: prove DPP, don't just claim it)."""
    from backup_repo_spark.sources.layout import dynamic_partition_pruning

    df = dynamic_partition_pruning(spark, SF_DIR)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and it prunes the PARTITION column of the fact scan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "ship_month" in pf and "dynamicpruning" in pf


def test_star_join_broadcasts_dims(spark):
    df = registry.QUERIES["join_star_5way"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark):
    df = registry.QUERIES["topk_revenue"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_agg_is_two_phase_partial_final(spark):
    df = registry.QUERIES["partial_agg"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_join_hints_respected(spark):
    sm = plan_of(registry.QUERIES["join_sortmerge"](spark, SF_DIR))
    assert "SortMergeJoin" in sm
    sh = plan_of(registry.QUERIES["join_shufflehash"](spark, SF_DIR))
    assert "ShuffledHashJoin" in sh


def test_whole_stage_codegen_active(spark):
    df = registry.QUERIES["agg_tpch_q1"](spark, SF_DIR)
    df.collect()  # AQE materializes the final (codegen'd) stages only on execution
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    ex = df._jdf.queryExecution().explainString(mode)
    n = int(ex.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 1, ex[:300]


def test_bucketed_join_has_no_join_exchange(spark):
    df = registry.QUERIES["bulk_bucketed_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan
    # Bucketed scans satisfy the join's distribution: the only exchanges
    # allowed are ABOVE the join (final agg + sort), i.e. at most 2.
    n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_exchange <= 2, f"bucketed join still shuffles: {n_exchange} exchanges\n{plan}"


def _scan_output_rows(df) -> int:
    """Collect ``df``, then sum ``numOutputRows`` over the parquet scans of
    its executed plan (inside AQE query stages too)."""
    df.collect()
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            total += node.metrics().apply("numOutputRows").value()
        elif kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return total


def test_range_layout_scan_prunes_row_groups(spark):
    """Astro's critical-point pruning on the native path: dsv2_scan_pushdown
    reads the catalog's 8-range lineitem layout with spark.read.parquet, the
    key range reaches the scan as PushedFilters, and the parquet reader
    skips every row group whose footer min/max misses [1000, 3000). Run at
    sf0.01: at sf0.001 the slice is a third of all keys, and 3 uneven
    (sampled) ranges can hold more than 3/8 of the rows."""
    import glob

    import pyarrow.parquet as pq

    from backup_repo_spark.sources.astro_datasource import ensure_range_layout

    sf = SF_DIR.replace("sf0.001", "sf0.01")
    df = registry.QUERIES["dsv2_scan_pushdown"](spark, sf)
    pushed = plan_of(df).split("PushedFilters:")[1].split("]")[0]
    assert "l_orderkey" in pushed, pushed
    layout = ensure_range_layout(spark, sf, "lineitem", "l_orderkey")
    everything = _scan_output_rows(spark.read.parquet(layout).select("l_orderkey"))
    sliced = _scan_output_rows(df)
    # 8 range files; a [1000, 3000) key slice overlaps at most 3 of them.
    assert 0 < sliced <= everything * 3 / 8, (sliced, everything)
    # exactly the rows of the row groups whose key bounds meet the slice
    overlapping = 0
    for f in glob.glob(f"{layout}/*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("l_orderkey")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st.min < 3000 and st.max >= 1000:
                overlapping += md.row_group(rg).num_rows
    assert sliced == overlapping, (sliced, overlapping)


def test_banded_range_join_is_not_nested_loop(spark):
    df = registry.QUERIES["join_range_banded"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:400]
    # the bucketed rewrite must join hash- or merge-based on (user, bucket)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:400]



def test_aqe_coalesces_shuffle_partitions(spark):
    # session sets shuffle.partitions=8 (conftest) but the post-execution
    # adaptive plan should coalesce the tiny sf0.001 shuffle to fewer
    # partitions — proof AQE is live, the property that lets the same code
    # run untuned from sf0.001 to 100 TB.
    df = registry.QUERIES["agg_tpch_q1"](spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final and "coalesced" in final, final[:500]


def _files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(n_overlapping, n_total): parquet files under `path` whose footer
    min/max for `col` intersects [lo, hi] — the files a stats-pruning scan
    must read."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{path}/*.parquet")
    n = 0
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index(col)
        hit = False
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or st.min <= hi and st.max >= lo:
                hit = True
                break
        n += hit
    return n, len(files)


def test_zorder_layout_prunes_2d_predicate(spark, tmp_path):
    # Z-order vs linear (orderkey-sorted) layout: for a range predicate on
    # px = l_partkey % 256 — NOT the linear sort key — the z-ordered files'
    # min/max footers must exclude strictly more files. This is the 100 TB
    # payoff of multi-dimensional clustering; rowkey (linear) order only
    # prunes its leading key.
    from backup_repo_spark.sources.clustering import write_zordered

    li = load_table(spark, SF_DIR, "lineitem")
    lin, zo = str(tmp_path / "lin"), str(tmp_path / "zo")
    (
        li.withColumn("px", F.pmod(F.col("l_partkey"), F.lit(256)))
        .repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(lin)
    )
    write_zordered(li, "l_partkey", "l_suppkey", zo, nfiles=16)
    z_hit, z_all = _files_overlapping(zo, "px", 16, 47)
    l_hit, l_all = _files_overlapping(lin, "px", 16, 47)
    assert z_all == l_all == 16
    assert l_hit == 16, "linear layout should not prune a non-leading key"
    assert z_hit <= z_all // 2, f"z-order pruned too little: {z_hit}/{z_all}"


def test_compaction_reduces_file_count(spark, tmp_path):
    from backup_repo_spark.sources.clustering import compact

    frag, comp = str(tmp_path / "frag"), str(tmp_path / "comp")
    load_table(spark, SF_DIR, "orders").repartition(64).write.parquet(frag)
    before, after = compact(spark, frag, comp)
    assert before == 64
    assert 1 <= after < before
    assert spark.read.parquet(comp).count() == spark.read.parquet(frag).count()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    # Runtime row-level filtering: with a selective filter on the build
    # side of a shuffle join, Spark injects a bloom_filter_agg on that side
    # and a might_contain predicate into the probe-side SCAN — the runtime
    # analog of Astro's storage-side predicate pushdown, and at 100 TB the
    # difference between shuffling the whole fact table and a sliver of it.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(F.col("o_totalprice") > 400000)
        df = (
            li.hint("merge")
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderstatus")
            .count()
        )
        plan = plan_of(df)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scan_parallelism_follows_max_partition_bytes(spark):
    # spark.sql.files.maxPartitionBytes is the knob that sets scan-task
    # granularity; at 100 TB it is the difference between 800 tasks and
    # 800k tasks. Shrinking it must increase the number of scan partitions
    # for the same file set.
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        wide = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        narrow = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").rdd.getNumPartitions()
        assert narrow > wide, (narrow, wide)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)


def test_bitmap_distinct_partial_aggregates(spark):
    """agg_bitmap_distinct's point is that bitmaps partial-aggregate (OR is
    associative): the plan must aggregate BEFORE the exchange, unlike
    count(DISTINCT) which must ship rows. Both aggregation levels appear as
    ObjectHashAggregate (bitmap state is not codegen-able)."""
    df = registry.QUERIES["agg_bitmap_distinct"](spark, SF_DIR)
    plan = plan_of(df)
    # the map-side (pre-shuffle) aggregate builds bitmap state: the
    # detailed plan must show a partial_bitmap_construct_agg function
    assert "partial_bitmap_construct_agg" in plan
    # and it runs BELOW the first exchange (node details section lists the
    # partial stage before its Exchange)
    assert plan.find("partial_bitmap_construct_agg") < plan.rfind("Exchange")


def test_attribution_single_shuffle_window(spark):
    """events_attribution computes last-touch in ONE window pass: exactly
    one shuffle on user_id feeds the Window operator — no self-join, no
    second exchange for the purchase filter."""
    df = registry.QUERIES["events_attribution"](spark, SF_DIR)
    plan = plan_of(df)
    assert "Window" in plan
    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries =====")[0]
    # hashpartitioning on user_id appears once; the final ORDER BY adds a
    # rangepartitioning exchange — but no second hash shuffle.
    assert body.count("hashpartitioning") == 1, body


def test_scd2_single_shuffle_window(spark):
    df = registry.QUERIES["events_scd2"](spark, SF_DIR)
    plan = plan_of(df)
    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries =====")[0]
    assert "Window" in plan
    assert body.count("hashpartitioning") == 1, body


def test_contamination_joins_on_shingle_no_cartesian(spark):
    """llm_contamination must stay a shingle equi-join — a cartesian or
    broadcast-nested-loop test×train product would explode at corpus
    scale."""
    df = registry.QUERIES["llm_contamination"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantize_is_map_only(spark):
    """llm_embed_quantize is pure per-row array math: the plan must contain
    no Exchange at all except the final sort's range partitioning."""
    df = registry.QUERIES["llm_embed_quantize"](spark, SF_DIR)
    plan = plan_of(df)
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("hashpartitioning") == 0, body


def test_lsh_candidate_join_is_hash_not_nested_loop(spark):
    """Banded MinHash candidate generation must join on band keys — a
    BroadcastNestedLoopJoin would mean the pair space is being scanned.
    The shipped key localCheckpoints the verified pair set before group
    expansion (round 10), which truncates the returned plan's lineage —
    so the candidate-join assertion runs on the INTERNAL representative
    pair plan, and the no-cartesian assertion additionally covers the
    expansion joins in the returned plan."""
    from backup_repo_spark.llm.dedup import _banded_rep_pairs
    from backup_repo_spark.session import load_table

    d = load_table(spark, SF_DIR, "documents")
    _, rep_pairs, _ = _banded_rep_pairs(d)
    inner = plan_of(rep_pairs)
    assert "CartesianProduct" not in inner
    # The only allowed nested-loop is none at all: band equality must drive
    # every many-to-many join in this plan.
    assert "BroadcastNestedLoopJoin" not in inner
    df = registry.QUERIES["llm_dedup_minhash_banded"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_asof_joins_on_user_key(spark):
    """The ±tolerance nearest join must plan as an equi join on user with a
    residual time filter, never a nested-loop over the pair space."""
    df = registry.QUERIES["join_asof_nearest"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_collocations_broadcasts_dictionary(spark):
    """Unigram dictionary + totals are broadcast onto bigram counts — the
    bigram side must not shuffle for those joins."""
    df = registry.QUERIES["llm_collocations"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_seq_pack_bucketed_prefix_no_global_sort(spark):
    """Sequence packing rides the two-phase bucketed prefix machinery
    (round 5): the plan must carry the (lang, _bkt) bucket windows — NOT a
    per-lang-only cumsum (parallelism = n_langs) — and no global sort."""
    df = registry.QUERIES["llm_seq_pack"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Window") >= 1
    assert "hashpartitioning(lang" in plan and "_bkt" in plan
    # No global Sort (orderBy) — only the window's partition-local sort.
    assert "rangepartitioning" not in plan.lower()


def test_token_budget_cap_bucketed_prefix(spark):
    """llm_token_budget_cap's running sum must also ride the (source,
    _bkt) bucket windows, not a per-source-only cumsum (12 sources = 12
    tasks for the whole corpus)."""
    plan = plan_of(registry.QUERIES["llm_token_budget_cap"](spark, SF_DIR))
    assert "hashpartitioning(source" in plan and "_bkt" in plan


def test_interpolation_has_no_self_join(spark):
    """Neighbor lookup must be window passes, not a grid×grid self-join:
    the only joins allowed are the grid build (cross of two tiny sides)
    and the grid←counts left join."""
    df = registry.QUERIES["ts_interpolate_linear"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("SortMergeJoin") <= 1
    assert "Window" in plan


def test_markov_window_partitioned_by_user(spark):
    """The lead() pass must partition by user_id (parallel), not run as a
    global single-partition window."""
    df = registry.QUERIES["events_markov"](spark, SF_DIR)
    plan = plan_of(df)
    assert "Window" in plan
    # Inspect the "(n) Window" detail block (the tree section carries no
    # partition spec), where Arguments lists the partitionBy columns.
    win_detail = plan.split(") Window")[1][:600]
    assert "user_id" in win_detail


def test_cdc_compact_window_partitioned_by_key(spark):
    """Latest-wins compaction must window-partition by the CDC key (user_id)
    — a global window would serialize the table through one task."""
    df = registry.QUERIES["dml_cdc_compact"](spark, SF_DIR)
    plan = plan_of(df)
    assert "user_id" in plan.split(") Window")[1][:600]


def test_concurrency_sweep_line_single_window(spark):
    """Sweep-line concurrency = one running-sum window over the delta
    stream; no interval self-join (would show a second SortMergeJoin or a
    nested loop)."""
    df = registry.QUERIES["events_concurrency"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_mba_dictionary_joins_broadcast(spark):
    """Market-basket lift joins (totals + per-part frequencies) must
    broadcast onto the pair counts."""
    df = registry.QUERIES["mba_part_pairs"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_seasonal_naive_rolls_up_before_self_join(spark):
    """The lag-7d self-join must run on the hourly rollup (post-aggregate),
    not the raw fact table: both join children contain HashAggregate."""
    df = registry.QUERIES["ts_seasonal_naive"](spark, SF_DIR)
    plan = plan_of(df)
    # tree shape: the join node appears after both aggregates of the rollup
    join_pos = min(
        [p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if p != -1]
        or [len(plan)]
    )
    assert plan[:join_pos].count("HashAggregate") >= 0  # join exists below
    assert "HashAggregate" in plan


def test_keyset_pagination_is_take_ordered(spark):
    """The page fetch must plan as TakeOrderedAndProject (top-k), never a
    global sort of the filtered table."""
    df = registry.QUERIES["sort_keyset_pagination"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_no_incoming_self_join(spark):
    """Incremental dedup joins incoming×base band keys — no cartesian and
    no nested loop anywhere in the plan."""
    df = registry.QUERIES["llm_incremental_dedup"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dataset_diff_single_outer_join(spark):
    """The snapshot diff is ONE full-outer join on the key (hash compare
    happens in the projection, not via extra joins)."""
    df = registry.QUERIES["dml_dataset_diff"](spark, SF_DIR)
    plan = plan_of(df)
    # Count join nodes in the tree section only — the detail section below
    # repeats each node name once more.
    tree = plan.split("\n\n")[0]
    n_joins = sum(tree.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, tree
    assert "FullOuter" in plan


def test_abandonment_semi_join_on_user_key(spark):
    """The 1-hour conversion check must be a LeftSemi hash/merge join on
    the user key with the time window as residual — not a nested loop."""
    df = registry.QUERIES["events_abandonment"](spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bot_detection_two_stage_rollup(spark):
    """Minute-grain rollup must come before the per-user pass: at least two
    HashAggregate pairs, no window, no join."""
    df = registry.QUERIES["events_bot_detection"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_skyline_local_prune_then_anti_join(spark):
    """Skyline must prune map-side (Python/Arrow eval of the local sweep)
    and finish with a broadcast anti-join over candidates — never a
    shuffle-join of the full table against itself."""
    df = registry.QUERIES["skyline_frontier"](spark, SF_DIR)
    plan = plan_of(df)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_symspell_join_is_equi_not_cartesian(spark):
    """The deletion-signature join must be an equi hash join on the
    signature key — the whole point is never forming the O(n^2) pair
    space (no cartesian, no nested loop for candidate generation)."""
    df = registry.QUERIES["join_editdist_symspell"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_incremental_topk_has_no_full_rescan_of_base(spark):
    """The refinement query unions k survivor rows with the new batch; the
    final top-k must be a TakeOrderedAndProject, not a global sort."""
    df = registry.QUERIES["llm_sim_search_incremental"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_ann_partitioned_probe_prunes_partitions(spark):
    """The multi-probe ANN scan must carry a static PartitionFilter on the
    bucket directory column — the layout IS the index; a probe that
    post-filters instead of pruning reads the whole corpus."""
    from backup_repo_spark.llm.simsearch import llm_ann_partitioned

    df = llm_ann_partitioned(spark, SF_DIR)
    plan = plan_of(df)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf and ("IN" in pf or "in" in pf), pf


def test_decision_stump_single_aggregate_pass(spark):
    """The 9-candidate split sweep must cost ONE scan of orders feeding one
    hash aggregate (after the broadcast cross join) — candidate count must
    never multiply exchanges."""
    plan = plan_of(registry.QUERIES["ml_decision_stump"](spark, SF_DIR))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_chi_square_broadcasts_dim(spark):
    """orders⋈customer must be a broadcast hash join — the contingency
    aggregate shuffles at most 15 rows afterwards."""
    plan = plan_of(registry.QUERIES["stat_chi_square"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_feature_stats_broadcasts_means(spark):
    """The second (deviation) pass joins the 5-row means table back onto
    the dim scan via broadcast, not a shuffle join."""
    plan = plan_of(registry.QUERIES["ml_feature_stats"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_auc_two_phase_bucketed_ranks(spark):
    """AUC's rank prefix comes from two-phase bucketed prefix sums: the
    heavy within-bucket window partitions on _bkt (hashpartitioning
    exchange — parallelism = bucket count, never one ordered partition),
    and the offset join back onto the histogram is an equi-join."""
    plan = plan_of(registry.QUERIES["ml_auc_roc"](spark, SF_DIR))
    assert "hashpartitioning(_bkt" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_windowed_distinct_shares_one_exchange(spark):
    """Both window specs of win_count_distinct partition by user_id — the
    plan must carry ONE hash-partition exchange (two sorts are fine)."""
    plan = plan_of(registry.QUERIES["win_count_distinct"](spark, SF_DIR))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1


def test_bloom_filter_join_injects_runtime_filter(spark):
    """join_bloom_filtered's whole point: with broadcast off (dim too big
    at 100 TB), InjectRuntimeFilter must plant a BloomFilterAggregate on
    the filtered orders side and a might_contain probe on the lineitem
    side, killing non-urgent fact rows before the join shuffle."""
    plan = plan_of(registry.QUERIES["join_bloom_filtered"](spark, SF_DIR)).lower()
    assert "bloom" in plan or "might_contain" in plan
    # and the join actually shuffles (the scenario the filter pays off in)
    assert "broadcasthashjoin" not in plan


def test_mann_whitney_ranks_from_histogram_not_rows(spark):
    """The rank windows must run over the grouped value histogram, bucket-
    partitioned: the within-bucket window exchanges on hashpartitioning
    (_bkt), and the DEEPEST aggregate (the value histogram) sits below the
    deepest window — no per-row global sort of the raw orders table."""
    plan = plan_of(registry.QUERIES["stats_mann_whitney"](spark, SF_DIR))
    assert "hashpartitioning(_bkt" in plan
    # formatted plans print parents before children, so deeper = later:
    # the histogram HashAggregate must appear below the last Window.
    assert plan.rindex("HashAggregate") > plan.rindex("Window")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ols_multi_single_aggregate_pass(spark):
    """All nine sufficient statistics come from ONE map-combinable
    aggregate over lineitem — no join, no window, one scan."""
    plan = plan_of(registry.QUERIES["ml_ols_multi"](spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_hampel_windows_share_one_exchange(spark):
    """ts_hampel_filter's two rolling-median windows both partition by
    user_id — the plan must carry ONE hash-partition exchange (the second
    window re-sorts within the same partitioning), and no join."""
    plan = plan_of(registry.QUERIES["ts_hampel_filter"](spark, SF_DIR))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_ntile_keys_have_no_global_ntile_sort(spark):
    """ml_calibration_bins / ml_lift_gains / events_rfm build their
    equal-frequency bins via ntile_nosort: the plan must carry the
    bucketed prefix machinery (hashpartitioning on _bkt and on the score
    value) and NO ntile window function — the global single-partition
    sort is gone."""
    for key in ("ml_calibration_bins", "ml_lift_gains", "events_rfm"):
        plan = plan_of(registry.QUERIES[key](spark, SF_DIR))
        # the ntile FUNCTION (not the helper's _ntot column) must be absent
        assert "ntile(" not in plan, key
        assert "hashpartitioning(_bkt" in plan, key


def test_pq_refine_exact_pass_restricted_to_shortlist(spark):
    """llm_pq_refine's exact re-rank must join the corpus subvectors
    against the broadcast 20-row shortlist and the broadcast query —
    BroadcastHashJoins only, no shuffle of raw vectors for the refine."""
    plan = plan_of(registry.QUERIES["llm_pq_refine"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_pairs_fenced_by_cluster_equijoin(spark):
    """llm_semdedup's pair generation must be an equi-join on the cluster
    code (SMJ/SHJ/BHJ) — never a cartesian/BNLJ over the corpus.

    The adaptive quantizer (llm/simsearch.py, nbits = f(corpus size))
    legitimately adds a crossJoin(broadcast(1-row aggregate)) to attach
    the corpus-derived nbits scalar, so a blanket "no BNLJ" substring
    ban would be wrong: instead we reuse tools/plan_sweep.py's per-NODE
    classifier, which only accepts BNLJ nodes whose OWN build subtree is
    a keyless (1-row) aggregate or a constant LocalTableScan.  Mutation
    check: rewriting the pair join as df.crossJoin(df) (a data-dependent
    BNLJ/CartesianProduct over the corpus) still fails — the cartesian
    assert catches the former and unsafe_bnlj_nodes the latter, since a
    full-corpus build side bottoms out in a keyed scan, not a 1-row
    aggregate.
    """
    from tools.plan_sweep import unsafe_bnlj_nodes

    plan = plan_of(registry.QUERIES["llm_semdedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert unsafe_bnlj_nodes(plan) == []
    # the corpus-pair join itself must be a genuine equi-join: at least
    # one hash/sort-merge join node keyed on the cluster code survives
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_embed_neardup_pairs_fenced_by_bucket_equijoin(spark):
    """Twin of the semdedup fence for llm_embed_neardup, which uses the
    identical adaptive sign-bucket blocking + 1-row nbits broadcast
    (flagged as a same-hazard twin in VERDICT r4)."""
    from tools.plan_sweep import unsafe_bnlj_nodes

    plan = plan_of(registry.QUERIES["llm_embed_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert unsafe_bnlj_nodes(plan) == []
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_curriculum_order_window_group_limit(spark):
    """llm_curriculum_order's per-source rank must carry WindowGroupLimit
    (the provably-redundant rnk <= 100 filter enables it): without it the
    whole corpus runs through the 12 source window partitions before the
    global top-100 is taken."""
    plan = plan_of(registry.QUERIES["llm_curriculum_order"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_udtf_table_arg_projects_before_boundary(spark):
    """r13 (guide §4.1): the TABLE(...) argument must carry only the two
    columns StatusStats.eval() reads — a bare TABLE(orders) ships every
    orders column through the partition shuffle and the pickled-row
    boundary (measured: eval-stage executor time −34%, shuffle bytes
    −67% at sf0.1)."""
    plan = plan_of(registry.QUERIES["udtf_table_arg"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderstatus" in read_schema and "o_totalprice" in read_schema
    for col in ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]:
        assert col not in read_schema


# ---- round-14 optimization shapes (OPTIMIZATION_r14.md) -------------------


def test_bounded_sorts_have_no_range_exchange(spark):
    """r14: the four headline queries whose final ORDER BY output is
    cardinality-bounded sort a single coalesced partition — the plan must
    carry Coalesce and NO rangepartitioning exchange (whose sampling job
    re-ran the final aggregate: headline diag, jobs 2 -> 1)."""
    for key in ("agg_tpch_q1", "agg_distinct", "stream_tumbling", "join_star_5way"):
        plan = plan_of(registry.QUERIES[key](spark, SF_DIR))
        assert "Coalesce" in plan, key
        assert "rangepartitioning" not in plan, f"{key} re-grew a range exchange"


def test_star_join_streams_fact_table(spark):
    """r14: join_star_5way must stream lineitem (the fact table), never
    broadcast it — the first scan in the formatted plan (node 1, the
    streamed side of the innermost join) is the lineitem parquet, and all
    five joins are BHJ."""
    plan = plan_of(registry.QUERIES["join_star_5way"](spark, SF_DIR))
    first_scan_loc = plan.split("Location:")[1].splitlines()[0]
    assert "lineitem.parquet" in first_scan_loc, first_scan_loc
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_simhash_is_exploded_codegen_not_hof(spark):
    """r14: llm_dedup_simhash's fingerprint is an exploded two-phase
    aggregate (Generate + partial-aggregable bit sums), not interpreted
    higher-order lambdas (simhash_probe: -61%)."""
    plan = plan_of(registry.QUERIES["llm_dedup_simhash"](spark, SF_DIR))
    # explode_outer may print as plain explode when the optimizer proves
    # text non-nullable from the parquet schema (values identical).
    assert "Generate" in plan and "explode" in plan
    assert "lambdafunction" not in plan, "HOF lambda back in the simhash plan"


def test_winnowing_trigrams_ride_the_min_window(spark):
    """r14: llm_winnowing forms trigrams with lead() on the same
    (doc_id, i0) window the sliding min pays for — one doc-keyed exchange
    below the window group, no interpreted transform (winnow_probe: -67%)."""
    plan = plan_of(registry.QUERIES["llm_winnowing"](spark, SF_DIR))
    assert "lambdafunction" not in plan, "HOF lambda back in the winnowing plan"
    assert plan.count("Window") >= 3  # lead + sliding min + per-doc count


def test_corpus_count_joinbacks_are_windows(spark):
    """r14: llm_dup_coverage / llm_novelty_score / llm_lm_score compute
    their per-gram corpus statistics as window aggregates over the one
    exploded relation, not groupBy tables joined back — which planned the
    interpreted gram Generate once PER CONSUMER and re-shuffled the
    exploded mass for each join (dupcov/novelty/lmscore probes: -49/-58/
    -50% at 50x). Counts are distinct Generate node ids: formatted explain
    prints each node twice (tree + detail)."""
    import re

    for key, n_gen in (
        ("llm_dup_coverage", 1),  # one Generate, window df, no join
        ("llm_novelty_score", 1),  # one Generate, window min, no join
        ("llm_lm_score", 2),  # windowed counts + the 1-row vocab branch
        ("llm_tfidf", 1),  # one Generate, window df over tf, no join
    ):
        plan = plan_of(registry.QUERIES[key](spark, SF_DIR))
        assert "Window" in plan, key
        gens = set(re.findall(r"^\((\d+)\) Generate\b", plan, re.M))
        assert len(gens) == n_gen, (key, sorted(gens))
        assert "SortMergeJoin" not in plan, key
    # the gram relations are never equi-joined back; lm_score keeps only
    # the whitelisted 1-row vocab cross join
    dup = plan_of(registry.QUERIES["llm_dup_coverage"](spark, SF_DIR))
    assert "BroadcastHashJoin" not in dup
