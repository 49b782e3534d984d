"""Physical-plan quality gates — the 100 TB contract, enforced.

Correctness tests prove the small-SF answer; these prove the PLAN is the
one you'd want on a 1000-executor cluster: filters reach the parquet scan,
scans read only referenced columns, small dimensions broadcast, and
operators don't shuffle more than their algorithm requires. A regression
here is a performance bug even when every value still matches the oracle.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module", autouse=True)
def _full_metadata_strings(spark):
    """Plan strings truncate scan metadata at 100 chars by default, which
    would hide the very PushedFilters/ReadSchema these tests assert on."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    yield
    spark.conf.set("spark.sql.maxMetadataStringLength", old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _node_name(node) -> str:
    return node.getClass().getSimpleName()


def _output(node) -> set[str]:
    cols = node.output()
    return {cols.apply(i).name() for i in range(cols.size())}


def _tree(node, stop: str | None = None):
    """Pre-order walk of a Catalyst plan through Py4J; nodes named
    ``stop`` are yielded but not descended into."""
    stack = [node]
    while stack:
        node = stack.pop()
        yield node
        if _node_name(node) != stop:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))


def test_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    from bytewax_iceberg_connector_spark.plans.relational import scan_project_filter

    plan = _plan(scan_project_filter(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the predicate must reach the scan, not sit in a post-filter only
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    # projection pruning: full lineitem has 11 columns; the ReadSchema
    # struct must only carry what the query references
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 6


def test_multi_join_broadcasts_small_dims(spark, sf_dir):
    """With size-based auto-broadcast OFF (the 100 TB regime, where no
    fact table fits the threshold), the EXPLICIT broadcast hints on
    nation/region must still broadcast, and the fact-fact joins must fall
    back to shuffle joins — broadcasting lineitem would OOM an executor."""
    from bytewax_iceberg_connector_spark.plans.relational import join_inner_multi

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        plan = _plan(join_inner_multi(spark, sf_dir))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    from bytewax_iceberg_connector_spark.plans.temporal import range_join_bands

    plan = _plan(range_join_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must cost ONE hash exchange on the key (the window),
    not a range-join candidate explosion or repeated repartitions."""
    from bytewax_iceberg_connector_spark.plans.temporal import asof_join_events

    plan = _plan(asof_join_events(spark, sf_dir))
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(hash_exchanges) == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    """Map-side partial aggregation before the exchange: the group-by must
    combine locally (6 groups → tiny shuffle) instead of shuffling raw rows."""
    from bytewax_iceberg_connector_spark.plans.relational import pricing_summary

    plan = _plan(pricing_summary(spark, sf_dir))
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    # plan strings print top-down: final agg, exchange, partial agg, scan —
    # a partial agg must appear BELOW (after) the exchange line
    assert "partial_" in plan[first_exchange:]


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    from bytewax_iceberg_connector_spark.plans.relational import exists_subquery

    plan = _plan(exists_subquery(spark, sf_dir))
    assert "LeftSemi" in plan


def test_topk_window_not_global_sort(spark, sf_dir):
    """Per-group top-k must sort within partitions of the group key; a
    global sort of the fact table would serialize on one reducer at scale."""
    from bytewax_iceberg_connector_spark.plans.relational import window_rank_topk

    plan = _plan(window_rank_topk(spark, sf_dir))
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or (
        "Window" in plan
    )
    # the sort feeding the window is partition-local
    assert re.search(r"Sort \[[^\]]*\], false", plan)


def test_lake_partition_pruning(spark, sf_dir, tmp_path):
    """The hidden-partition layout must prune at the source: a one-day
    predicate on the partition column shows up as a PartitionFilter and
    the scan touches one partition directory, not the whole table —
    THE property that makes the day-partitioned 100 TB table queryable."""
    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cfg = IcebergSinkConfig(
        table_name="db.prune_events",
        warehouse_path=str(tmp_path / "wh"),
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    sink.append(ev)
    one_day = sink.read().where(F.col("_p_ts_day") == "2024-01-03")
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = _plan(one_day)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert re.search(r"PartitionFilters: \[[^\]]*_p_ts_day", plan)
    assert one_day.count() == ev.where(
        F.date_trunc("day", "ts") == "2024-01-03 00:00:00"
    ).count()


def test_dedup_exact_shuffles_fingerprint_not_text(spark, sf_dir):
    """Exact dedup must hash-partition on the 128-bit fingerprint, never
    the full document text (narrow shuffle is the point of the design)."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_exact

    plan = _plan(dedup_exact(spark, sf_dir))
    assert re.search(r"Exchange hashpartitioning\(fp", plan)
    assert not re.search(r"Exchange hashpartitioning\(text", plan)


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The contamination scan must broadcast the (tiny) benchmark shingle
    set — the corpus side then never shuffles for the join. A SortMergeJoin
    here would shuffle the full 100 TB shingle stream."""
    from bytewax_iceberg_connector_spark.plans.curation import contamination_check

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(contamination_check(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_keyword_extract_broadcasts_vocabulary(spark, sf_dir):
    """The document-frequency table is vocabulary-sized: it must join back
    into the tf table as a broadcast even with auto-broadcast off — a
    SortMergeJoin would re-shuffle the whole (doc, term) table on term."""
    from bytewax_iceberg_connector_spark.plans.llm import keyword_extract

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(keyword_extract(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sql_surface_q3_topk_and_pushdown(spark, sf_dir):
    """The plain-SQL entry point must get the same Catalyst treatment as
    the DataFrame API: date predicates pushed to the scans, the LIMIT
    compiled to TopK (TakeOrderedAndProject), never a global sort."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_shipping_priority,
    )

    plan = _plan(sql_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_full_outer_join_preaggregates_both_sides(spark, sf_dir):
    """Full outer cannot broadcast; the plan must shuffle the PRE-AGGREGATED
    per-user counts (one narrow row per user per side), never the raw event
    rows — partial aggregation has to appear below each join input."""
    from bytewax_iceberg_connector_spark.plans.relational import join_full_outer

    plan = _plan(join_full_outer(spark, sf_dir))
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    join_pos = max(plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"))
    # both join inputs aggregate before the exchange feeding the join
    assert plan[join_pos:].count("partial_count") >= 2


def test_window_distribution_single_exchange_single_window(spark, sf_dir):
    """ntile + percent_rank + cume_dist share one partitioning and ordering:
    Catalyst must plan ONE hash exchange and ONE Window operator evaluating
    all three — a second exchange or window would double the sort cost."""
    from bytewax_iceberg_connector_spark.plans.relational import window_distribution

    plan = _plan(window_distribution(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning\(o_orderpriority", plan)) == 1
    window_ops = [ln for ln in plan.splitlines() if re.search(r"\bWindow\b", ln)]
    assert len(window_ops) == 1
    assert all(
        fn in window_ops[0] for fn in ("ntile", "percent_rank", "cume_dist")
    )


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """The 5-row stats frame must broadcast back onto the fact scan even in
    the no-auto-broadcast (100 TB) regime — a shuffle join here would hash
    the whole fact table a second time for a 5-row dimension."""
    from bytewax_iceberg_connector_spark.plans.behavioral import anomaly_zscore

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(anomaly_zscore(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan


def test_sql_q5_broadcasts_dims_and_pushes_date_filter(spark, sf_dir):
    """The verbatim Q5 join graph must come out of Catalyst with the small
    dims broadcast and the orders date range pushed to the scan — the
    declared join order is deliberately not the efficient one."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_local_supplier_volume,
    )

    plan = _plan(sql_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)


def test_edit_distance_verify_runs_above_repartition(spark, sf_dir):
    """The O(len^2) Levenshtein verify must evaluate ABOVE the round-robin
    exchange that spreads candidate pairs — Catalyst will happily push a
    deterministic lev predicate down into the candidate join condition,
    which serializes the quadratic work onto the join's few map tasks
    (the regression this pin guards: 4.1s -> 0.7s at sf0.1)."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_edit_distance

    plan = _plan(dedup_edit_distance(spark, sf_dir))
    rr = plan.find("RoundRobinPartitioning")
    lev = plan.find("levenshtein")
    assert rr != -1 and lev != -1
    # plan prints top-down: the verify must appear BEFORE (above) the exchange
    assert lev < rr
    # and the candidate join below the exchange must NOT evaluate levenshtein
    assert "levenshtein" not in plan[rr:]


def test_bm25_filters_terms_before_join_and_broadcasts_stats(spark, sf_dir):
    """The tf table must be pruned to the QUERY's terms at the scan side of
    the aggregation (isin filter below the joins), and every stats side
    (df table, doc lengths, corpus stats) must broadcast — the scored
    frame is |terms|·|matching docs|, never corpus-wide."""
    from bytewax_iceberg_connector_spark.plans.llm import bm25_rank

    plan = _plan(bm25_rank(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join
    # the term filter must run below the first join (plan prints top-down:
    # the LAST 'term IN/INSET' occurrence sits in the scan-side filter)
    joins = plan.find("BroadcastHashJoin")
    term_filter = max(plan.rfind("term#"), plan.rfind("INSET"))
    assert term_filter > joins


def test_inverted_index_partial_aggregates_before_exchange(spark, sf_dir):
    """Word-count shape: both aggregation levels must plan map-side
    partial_count before their exchange, so the term shuffle carries one
    row per distinct (doc, term), not one per token."""
    from bytewax_iceberg_connector_spark.plans.llm import inverted_index

    plan = _plan(inverted_index(spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan


def test_ivf_pq_candidate_shuffle_is_narrow(spark, sf_dir):
    """The cell-id candidate join must shuffle ids/codes only — the
    full-precision embedding array enters the plan solely via the scan
    and the bounded refine join, never the cell Exchange."""
    from bytewax_iceberg_connector_spark.plans.llm import _ivf_pq_topk

    plan = _plan(_ivf_pq_topk(spark, sf_dir))
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(cell#\d+L[^)]*\)", plan):
        seg = plan[m.start():m.start() + 400]
        assert "embedding" not in seg


def test_decayed_counts_single_narrow_shuffle(spark, sf_dir):
    """One groupBy(event_type) exchange with map-side partials; the 1-row
    reference day rides a broadcast, not a shuffle."""
    from bytewax_iceberg_connector_spark.plans.behavioral import decayed_counts

    plan = _plan(decayed_counts(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan or "partial sum" in plan


def test_unigram_surprise_broadcasts_lm_table(spark, sf_dir):
    """The vocabulary-sized LM joins back as a broadcast onto the tf frame
    — no corpus-wide re-shuffle on term for the scoring join."""
    from bytewax_iceberg_connector_spark.plans.curation import unigram_surprise

    plan = _plan(unigram_surprise(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_variant_parses_json_once(spark, sf_dir):
    """The VARIANT path evaluates parse_json in the scan-side projection;
    no get_json_object text re-walks anywhere in the plan."""
    from bytewax_iceberg_connector_spark.plans.relational import variant_extract

    plan = _plan(variant_extract(spark, sf_dir))
    assert "parseJson" in plan and "variant_get" in plan
    assert "get_json_object" not in plan


def test_sequence_packing_shards_not_global_sort(spark, sf_dir):
    """The prefix-sum window partitions by (lang, source) — a hash
    exchange, never a global range sort (the plan must scale by shard)."""
    from bytewax_iceberg_connector_spark.plans.curation import sequence_packing

    plan = _plan(sequence_packing(spark, sf_dir))
    assert "Window" in plan
    import re as _re

    win = plan[: plan.find("partial")] if "partial" in plan else plan
    assert _re.search(r"Exchange hashpartitioning\(lang#\d+, source#\d+", plan)
    # no SinglePartition exchange feeding the window
    w_at = plan.find("Window")
    seg = plan[w_at : w_at + 600]
    assert "SinglePartition" not in seg


def test_disjunctive_predicate_derives_per_side_pushdowns(spark, sf_dir):
    """TPC-H Q19's OR-of-conjunctions straddles the join; Catalyst must
    derive single-side implied filters and push them into BOTH scans —
    without them this is a full fact scan against a full dim scan."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_disjunctive_revenue,
    )

    plan = _plan(sql_disjunctive_revenue(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    part_side = [l for l in pushed if "p_brand" in l]
    line_side = [l for l in pushed if "l_quantity" in l]
    assert part_side, "brand disjunction not pushed to the part scan"
    assert line_side, "quantity envelope not pushed to the lineitem scan"
    assert "CartesianProduct" not in plan


def test_ivf_pq_has_no_dedup_shuffle_and_broadcasts_refine(spark, sf_dir):
    """Round-4 plan surgery pinned: the candidate join emits unique
    (q, neighbor) pairs by construction (no dropDuplicates exchange), and
    the exact-refine fetch joins a broadcast of the survivor set — the
    corpus is never shuffled for the refine."""
    from bytewax_iceberg_connector_spark.plans.llm import _ivf_pq_topk

    plan = _plan(_ivf_pq_topk(spark, sf_dir))
    # dropDuplicates compiles to an extra HashAggregate pair over the pair
    # keys; assert the plan's aggregate count stays at the expected level
    # indirectly via the absence of a deduplicate-shaped exchange marker
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the ADC top-R cut lives in the kernel now: exactly ONE Window
    # OPERATOR (the final rank) remains in the whole plan
    assert len(re.findall(r"\bWindow \[", plan)) <= 1


def test_percentile_rollup_single_shuffle(spark, sf_dir):
    """Exact per-group order statistics: one exchange on the group key —
    the sort happens within partitions after the shuffle, never globally
    (bar the final presentation orderBy on 5 rows)."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        percentile_rollup,
    )

    plan = _plan(percentile_rollup(spark, sf_dir))
    # exchanges: one hashpartitioning for the groupBy + the final
    # rangepartitioning for orderBy over |groups| rows
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "CartesianProduct" not in plan


def test_shard_shuffle_is_projection_plus_one_exchange(spark, sf_dir):
    """The seeded shuffle key is a pure projection (md5 in codegen, no
    UDF); shard rollup is the only exchange bar the 8-row orderBy."""
    from bytewax_iceberg_connector_spark.plans.curation import (
        shard_shuffle_manifest,
    )

    plan = _plan(shard_shuffle_manifest(spark, sf_dir))
    assert "BatchEvalPython" not in plan  # no row-at-a-time python
    assert plan.count("Exchange hashpartitioning") <= 1


def test_char_entropy_scores_at_scan_speed(spark, sf_dir):
    """The 27-char entropy score must be pure codegen'd projections — no
    explode, no UDF, no shuffle before the final per-lang rollup."""
    from bytewax_iceberg_connector_spark.plans.curation import char_entropy

    plan = _plan(char_entropy(spark, sf_dir))
    assert "Generate" not in plan          # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_ks_drift_compresses_to_bins_before_window(spark, sf_dir):
    """KS must aggregate events to ≤~500 bin rows (map-side partials)
    BEFORE any window/sort; the events table itself is never globally
    sorted."""
    from bytewax_iceberg_connector_spark.plans.behavioral import ks_drift

    plan = _plan(ks_drift(spark, sf_dir))
    assert "HashAggregate" in plan
    # the event_type IN filter reaches the parquet scan
    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan)
    # ONE scan: cumulative sums AND grand totals share the same window
    # stage — a totals cross-join would duplicate the whole subtree
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Join" not in plan


def test_scd2_reuses_one_user_exchange(spark, sf_dir):
    """lag-flag window, run-group aggregate, and lead window must all ride
    ONE hashpartitioning(user_id) exchange."""
    from bytewax_iceberg_connector_spark.plans.temporal import scd2_history

    plan = _plan(scd2_history(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert "CartesianProduct" not in plan


def test_embedding_centroids_single_component_shuffle(spark, sf_dir):
    """Centroid update = posexplode to (label, dim, micro) triples, then
    ONE partial-aggregated exchange — the distributed k-means shape."""
    from bytewax_iceberg_connector_spark.plans.curation import embedding_centroids

    plan = _plan(embedding_centroids(spark, sf_dir))
    assert "Generate" in plan  # posexplode
    assert len(re.findall(r"Exchange hashpartitioning\(label", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_incremental_shuffles_fp_not_text(spark, sf_dir):
    """Incremental dedup must join batch→history on the 128-bit
    fingerprint; document text never reaches an exchange."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_incremental

    plan = _plan(dedup_incremental(spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    assert "CartesianProduct" not in plan


def test_streaming_late_events_single_type_exchange(spark, sf_dir):
    """The per-type watermark replay must ride ONE event_type exchange —
    running-max window and rollup share the distribution; no global
    (single-partition) watermark sort."""
    from bytewax_iceberg_connector_spark.plans.streaming_queries import (
        streaming_late_events,
    )

    plan = _plan(streaming_late_events(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning\(event_type", plan)) == 1
    assert "Exchange SinglePartition" not in plan


def test_json_ingest_split_rides_the_scan(spark, sf_dir):
    """Corruption-plant, parse, and split are all codegen'd projections —
    ONE exchange (the per-type rollup), no Python."""
    from bytewax_iceberg_connector_spark.plans.operator_queries import (
        json_ingest_errors,
    )

    plan = _plan(json_ingest_errors(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_quality_profile_single_equi_join(spark, sf_dir):
    """documents ⋈ embeddings must plan as an equi-join (hash/merge or
    broadcast — never a nested loop) feeding a partial-aggregated
    rollup."""
    from bytewax_iceberg_connector_spark.plans.curation import (
        cluster_quality_profile,
    )

    plan = _plan(cluster_quality_profile(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan and "partial_" in plan


def test_vocab_build_window_is_bounded_by_limit(spark, sf_dir):
    """The row_number/cumsum window must run AFTER the top-V limit cut —
    a TakeOrdered(Global)Limit must appear below the Window in the plan,
    so the single-partition window only ever sees ≤ V rows. The corpus
    word-count materializes ONCE: both the vocab branch and the grand
    total must read the persisted tf frame (InMemoryTableScan), not
    re-aggregate the scan."""
    from bytewax_iceberg_connector_spark.plans.corpus import vocab_build

    plan = _plan(vocab_build(spark, sf_dir))
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    # the Window node sits above the limit, not directly on the corpus agg
    win_pos = plan.index("Window")
    lim_pos = max(plan.find("TakeOrderedAndProject"), plan.find("GlobalLimit"))
    assert lim_pos > win_pos  # plans print top-down: below = later in string
    assert plan.count("InMemoryTableScan") == 2


def test_span_dedup_shuffles_hashes_and_windows_per_doc(spark, sf_dir):
    """Span accounting must shuffle 8-byte gram hashes (never gram text)
    and compute interval coverage with a doc_id-partitioned window — no
    single-partition sort, no cartesian."""
    from bytewax_iceberg_connector_spark.plans.corpus import span_dedup

    plan = _plan(span_dedup(spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gram" not in m.group(1) and "text" not in m.group(1)
    assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]
    assert "CartesianProduct" not in plan
    assert re.search(r"Window.*doc_id", plan, re.DOTALL)


def test_quality_adaptive_threshold_broadcasts_back(spark, sf_dir):
    """The languages-sized threshold table must join back onto the scored
    scan as a BROADCAST — the corpus is never re-shuffled for the gate."""
    from bytewax_iceberg_connector_spark.plans.corpus import (
        quality_adaptive_filter,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(quality_adaptive_filter(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_source_overlap_has_no_self_join(spark, sf_dir):
    """The leakage matrix must come from ONE gram-hash exchange +
    collect_set — never a gram-keyed self-join (the naive quadratic
    formulation the oracle deliberately uses for readability)."""
    from bytewax_iceberg_connector_spark.plans.corpus import source_overlap_matrix

    plan = _plan(source_overlap_matrix(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(h#", plan)) == 1


def test_table_profile_splits_distincts_from_measures(spark, sf_dir):
    """The exact-distinct Expand pass must stay ISOLATED from the plain
    min/max/count measures: exactly one Expand in the plan (the distincts'
    own aggregate), so the measure branch keeps whole-stage codegen
    instead of re-evaluating every measure on rows × |columns| expanded
    input (measured ~3× slower fused). No corpus-keyed shuffle at all —
    both branches reduce to 1 row before meeting."""
    from bytewax_iceberg_connector_spark.plans.profiling import table_profile

    plan = _plan(table_profile(spark, sf_dir))
    assert plan.count("Expand") == 1
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gid" in m.group(1)  # only the distinct-group exchange


def test_fk_integrity_single_pass_per_edge(spark, sf_dir):
    """Every child/parent scan must prune to its KEY column (payloads
    never move — ReadSchema carries exactly one field per scan); each
    edge is ONE child pass — per-key pre-aggregation LEFT-joined to the
    parent's distinct keys — with no countDistinct (no Expand) and no
    anti-join second branch (the r04 fusion)."""
    from bytewax_iceberg_connector_spark.plans.profiling import fk_integrity

    plan = _plan(fk_integrity(spark, sf_dir))
    assert "LeftOuter" in plan
    assert "LeftAnti" not in plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(m.group(1).split(",")) == 1, m.group(1)
    # one scan per (edge x side): 7 edges x 2 = 14 parquet scans, not 21+
    assert plan.count("Scan parquet") <= 14


def test_interarrival_single_corpus_window_exchange(spark, sf_dir):
    """The lag window must partition by (user_id, event_type) — one
    corpus-sized exchange — and the events scan must prune to the four
    referenced columns; the per-type rollup shuffles map-side-combined
    partials only."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        interarrival_stats,
    )

    plan = _plan(interarrival_stats(spark, sf_dir))
    assert re.search(
        r"Exchange hashpartitioning\(user_id[^)]*event_type", plan
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 4
    assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_key_skew_window_is_bounded_by_limit(spark, sf_dir):
    """The rank/cumshare window must run AFTER the TakeOrdered top-k cut
    (vocab_build's bounded-window contract): the single-partition window
    only ever sees ≤ k rows."""
    from bytewax_iceberg_connector_spark.plans.profiling import key_skew_report

    plan = _plan(key_skew_report(spark, sf_dir))
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    win_pos = plan.index("Window")
    lim_pos = max(plan.find("TakeOrderedAndProject"), plan.find("GlobalLimit"))
    assert lim_pos > win_pos  # top-down plan: below = earlier in dataflow


def test_transition_matrix_windows_per_user_then_bounded(spark, sf_dir):
    """The bigram lag must ride ONE user_id-partitioned exchange over the
    pruned events scan; the row-normalizing window runs on the
    ≤ |types|² aggregated matrix (its exchange keys on prev_type, after
    aggregation), never on raw events."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        event_transition_matrix,
    )

    plan = _plan(event_transition_matrix(spark, sf_dir))
    assert re.search(r"Exchange hashpartitioning\(user_id#", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 4
    assert "CartesianProduct" not in plan


def test_cooccurrence_pmi_no_self_join_one_doc_exchange(spark, sf_dir):
    """The pair space must come from JVM-side array fan-out over the
    per-doc membership sets (source_overlap_matrix's contract) — never a
    (doc, term) self-join — with membership riding ONE doc_id exchange
    (collect_set dedups; no separate distinct() exchange) and the V-sized
    doc-frequency tables joining back as broadcasts."""
    from bytewax_iceberg_connector_spark.plans.corpus import cooccurrence_pmi

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(cooccurrence_pmi(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the membership chain is persisted: every doc_id exchange in the
    # printed plan must sit inside a cached-relation replay (one per
    # InMemoryTableScan consumer), i.e. it executes at most once
    n_imts = plan.count("InMemoryTableScan")
    assert n_imts >= 2  # dfreq (×2 broadcast sides) + pair fan-out
    assert (
        len(re.findall(r"Exchange hashpartitioning\(doc_id#", plan)) <= n_imts
    )


def test_ohlc_is_a_pure_mergeable_aggregate(spark, sf_dir):
    """Open/close selection must ride the struct-min/max trick — a pure
    map-side-combinable aggregate with NO window operator (the oracle's
    rank-1 window formulation is the readable-but-unmergeable shape this
    plan deliberately avoids): one (type, hour) exchange, partial
    aggregation below it."""
    from bytewax_iceberg_connector_spark.plans.temporal import ohlc_bars

    plan = _plan(ohlc_bars(spark, sf_dir))
    assert "Window" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_twa_single_stream_exchange(spark, sf_dir):
    """The trapezoid lag must ride ONE (user_id, event_type) exchange;
    the per-stream reduce reuses that partitioning (no second corpus
    shuffle) and only the ≤ |types| rollup exchanges after it."""
    from bytewax_iceberg_connector_spark.plans.temporal import (
        time_weighted_avg,
    )

    plan = _plan(time_weighted_avg(spark, sf_dir))
    assert re.search(
        r"Exchange hashpartitioning\(user_id[^)]*event_type", plan
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 5  # +value vs interarrival


def test_semi_reduced_join_prefilters_before_exchange(spark, sf_dir):
    """The dimension's key set must broadcast as a LEFT SEMI prefilter on
    the fact side BELOW the fact exchange, and the main join must be the
    shuffled merge join the hint forces — the semi-join-reduction shape
    where only matching fact rows ever enter the shuffle."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        semi_reduced_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(semi_reduced_join(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert "SortMergeJoin" in plan
    # the semi prefilter must sit BELOW the fact-side exchange (top-down
    # plan strings print shallower nodes first): filtering after the
    # shuffle would defeat the reduction entirely
    fact_exchange = re.search(r"Exchange hashpartitioning\(l_partkey", plan)
    assert fact_exchange, "fact side must shuffle on the join key"
    assert fact_exchange.start() < plan.index("LeftSemi")
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3


def test_corr_matrix_single_pass_no_expand(spark, sf_dir):
    """All three pairs' moments ride ONE map-side-combinable aggregate
    over one pruned scan: no Expand (zero distincts), no hash exchange,
    3-column ReadSchema."""
    from bytewax_iceberg_connector_spark.plans.profiling import corr_matrix

    plan = _plan(corr_matrix(spark, sf_dir))
    assert "Expand" not in plan
    assert "Exchange hashpartitioning" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3


def test_rolling_actives_no_window_operator(spark, sf_dir):
    """The rolling distinct must come from the cover-explode decomposition
    (COUNT DISTINCT does not decompose over overlapping range windows) —
    no Window operator anywhere, membership deduped on (day, user) before
    the ×7 fan-out, events scan pruned to 2 columns."""
    from bytewax_iceberg_connector_spark.plans.behavioral import (
        rolling_active_users,
    )

    plan = _plan(rolling_active_users(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"Exchange hashpartitioning\(day#[^)]*user_id", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2


def test_copurchase_affinity_no_self_join_bounded_window(spark, sf_dir):
    """Pair mining must ride the per-basket array fan-out (no lineitem
    self-join on orderkey) and the rank window must run after the top-k
    cut; lineitem scan pruned to the two key columns."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        copurchase_affinity,
    )

    plan = _plan(copurchase_affinity(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    win_pos = plan.index("Window")
    lim_pos = max(plan.find("TakeOrderedAndProject"), plan.find("GlobalLimit"))
    assert lim_pos > win_pos
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2


def test_hybrid_rank_broadcasts_query_vector_and_stats(spark, sf_dir):
    """The dense arm must broadcast the single query vector across the
    embedding scan (BroadcastNestedLoopJoin on one row — never a
    shuffled/cartesian product) and the BM25 arm must keep its stats
    broadcasts; the fusion join runs on two <= top-k lists."""
    from bytewax_iceberg_connector_spark.plans.llm import hybrid_rank

    plan = _plan(hybrid_rank(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan  # score math stays in codegen


def test_stratified_sample_is_scan_speed(spark, sf_dir):
    """Admission must be a codegen'd projection: no UDF, no join, only the
    final strata rollup exchanges; the documents scan prunes to the four
    referenced columns."""
    from bytewax_iceberg_connector_spark.plans.curation import (
        stratified_sample,
    )

    plan = _plan(stratified_sample(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 4, m and m.group(1)


def test_bpe_vocab_substrate_is_word_count_shaped(spark, sf_dir):
    """The corpus is touched ONCE (the initial word count: one exchange of
    map-side-combined term partials + TakeOrdered top-V); text never rides
    a shuffle."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.functions import text as X
    from bytewax_iceberg_connector_spark.plans.corpus import (
        _BPE_VOCAB,
    )
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(_BPE_VOCAB)
    )
    plan = _plan(vocab)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).startswith("text"), m and m.group(1)


def test_copurchase_cosine_broadcasts_strengths_no_selfjoin(spark, sf_dir):
    """The strength table must broadcast into both joins (node-sized) and
    the pair build must be the basket fan-out, never a lineitem
    self-join; score math stays in codegen."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        copurchase_cosine,
    )

    plan = _plan(copurchase_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_source_keywords_one_token_pass_topk_pruned(spark, sf_dir):
    """TF-IDF must be ONE token pass: tf computed once and reused for the
    source-level df (no second explode), df broadcast back (vocab-sized,
    the cooccurrence_pmi precedent), and the per-source top-k pruned by
    WindowGroupLimit BEFORE the source exchange so only ~k rows per
    source per task ride the final shuffle."""
    from bytewax_iceberg_connector_spark.plans.corpus import source_keywords

    plan = _plan(source_keywords(spark, sf_dir))
    # both the tf branch and the df branch read the SAME cached (source,
    # term, tf) relation — the explode executes once even though the
    # cached plan's text prints under each consumer
    assert plan.count("InMemoryTableScan") == 2
    assert plan.count("Generate") == plan.count("InMemoryRelation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # documents scan carries only the two referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "text",
        "source",
    }, m and m.group(1)


def test_tokenizer_fertility_is_pure_projection_rollup(spark, sf_dir):
    """Encoding must stay a codegen projection (merge list inlined as
    literals — no UDF, no join, no broadcast): the only exchanges are the
    |langs|-row rollup and the output sort; scan prunes to (text, lang)."""
    from bytewax_iceberg_connector_spark.plans.corpus import (
        tokenizer_fertility,
    )

    plan = _plan(tokenizer_fertility(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "text",
        "lang",
    }, m and m.group(1)


def test_triangle_count_oriented_and_broadcast_degrees(spark, sf_dir):
    """Degree tables are node-sized and must BROADCAST onto the edge list
    for orientation (shuffling edges on node id twice would double the
    exchange bill); no CartesianProduct anywhere. Since the r12
    adjacency-intersection rewrite there is NO wedge self-join: triangles
    come from joining the oriented edge list to the persisted per-node
    out-neighbor arrays (adj) on both endpoints and summing
    ``size(array_intersect(nb_u, nb_v))``. Cached reads: the edge list
    feeds degrees, orientation and the edge total (3 scans) and adj feeds
    both sides of the intersection join (2 scans) — 5 InMemoryTableScans,
    never a replay of the basket fan-out."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        triangle_count,
    )

    plan = _plan(triangle_count(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "array_intersect" in plan  # adjacency intersection, not a
    # wedge self-join: the oriented edge list must never join itself
    assert plan.count("InMemoryTableScan") >= 5


def test_sql_order_priority_semi_join_pushed_quarter(spark, sf_dir):
    """Q4's correlated EXISTS must decorrelate to a LEFT SEMI on
    orderkey (never a per-order aggregate), and the one-quarter date
    range must reach the orders scan."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_order_priority,
    )

    plan = _plan(sql_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_sql_late_supplier_blame_semi_plus_anti(spark, sf_dir):
    """Q21's signature: the EXISTS and NOT EXISTS decorrelate to one
    semi join AND one anti join on orderkey, each carrying the
    different-supplier residual — no correlated re-execution, no
    cartesian."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_late_supplier_blame,
    )

    plan = _plan(sql_late_supplier_blame(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("EqualTo(o_orderstatus,F)") == 2  # status pushed to both late builds


def test_sql_idle_customer_balance_anti_join_pushed_date(spark, sf_dir):
    """Q22's NOT EXISTS must become an anti join on custkey whose orders
    side is pruned by the pushed recency filter BEFORE the join; the
    1-row threshold rides a broadcast."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_idle_customer_balance,
    )

    plan = _plan(sql_idle_customer_balance(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,1999-01-01" in plan
    assert "CartesianProduct" not in plan


def test_conversion_latency_one_user_exchange_per_branch(spark, sf_dir):
    """The latency branch rides ONE hashpartitioning(user_id) (window +
    per-user aggregate share it); single-partition exchanges appear only
    AFTER reduction to user-scale latencies; the signup denominator
    broadcasts."""
    from bytewax_iceberg_connector_spark.plans.behavioral import (
        conversion_latency,
    )

    plan = _plan(conversion_latency(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_basket_lift_broadcasts_item_counts(spark, sf_dir):
    """The catalog-sized item-count table must broadcast into BOTH rule
    directions and the 1-row total must broadcast — after the pair
    build, nothing re-shuffles; the top-k cut is TakeOrdered, not a
    global sort."""
    from bytewax_iceberg_connector_spark.plans.relational import basket_lift

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(basket_lift(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan.split("TakeOrderedAndProject")[0]
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_session_paths_single_user_exchange_until_count(spark, sf_dir):
    """The boundary windows, the step-rank window AND the per-session
    pivot all ride ONE hashpartitioning(user_id); only the path count
    (bounded by |event_types|^steps) and the final sort shuffle again."""
    from bytewax_iceberg_connector_spark.plans.behavioral import session_paths

    plan = _plan(session_paths(spark, sf_dir))
    # both the top-k branch and the grand total read the SAME cached
    # path-count relation — the session pipeline (and its user_id
    # exchange) executes once even though the cached plan's text prints
    # under each consumer
    assert plan.count("InMemoryTableScan") == 2
    hashes = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    per_print = [h.split("#")[0] for h in hashes].count("user_id")
    assert per_print == plan.count("InMemoryRelation"), hashes
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan  # rank capped at 3 before the pivot
    assert "BatchEvalPython" not in plan


def test_dup_family_histogram_shuffles_fingerprints_once(spark, sf_dir):
    """The family build hash-partitions on the 128-bit fingerprint (never
    text); the histogram and the corpus total both read the SAME cached
    family table (one scan), and the total broadcasts."""
    from bytewax_iceberg_connector_spark.plans.llm import dup_family_histogram

    plan = _plan(dup_family_histogram(spark, sf_dir))
    assert re.search(r"Exchange hashpartitioning\(fp", plan)
    assert not re.search(r"Exchange hashpartitioning\(text", plan)
    assert plan.count("InMemoryTableScan") == 2
    assert "BatchEvalPython" not in plan


def test_supplier_share_trend_one_fact_shuffle(spark, sf_dir):
    """The fact table shuffles ONCE — the (year, suppkey) aggregate; the
    year-total, in-year rank, and YoY lag windows all run over the
    reduced |years|x|suppliers| table (their exchanges carry only that);
    the scan prunes to the four referenced columns."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        supplier_share_trend,
    )

    plan = _plan(supplier_share_trend(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the fact shuffle
    assert plan.count("Window ") >= 2
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "l_suppkey",
        "l_shipdate",
        "l_extendedprice",
        "l_discount",
    }, m and m.group(1)


def test_weekly_growth_single_count_shuffle(spark, sf_dir):
    """The fact table reduces map-side into the (type, week) count before
    its one exchange; the lag window runs over the reduced table; scan
    prunes to (ts, event_type) with the NULL filter pushed."""
    from bytewax_iceberg_connector_spark.plans.temporal import weekly_growth

    plan = _plan(weekly_growth(spark, sf_dir))
    assert "partial_count" in plan
    assert "Join" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "ts",
        "event_type",
    }, m and m.group(1)


def test_ab_test_eval_single_pass_no_join(spark, sf_dir):
    """Arm assignment composes into the scan projection and both arms'
    moments accumulate in ONE CASE-split aggregate — no join, no second
    scan, one exchange to |event_types| rows."""
    from bytewax_iceberg_connector_spark.plans.behavioral import ab_test_eval

    plan = _plan(ab_test_eval(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_skyline_pareto_prunes_before_global_sweep(spark, sf_dir):
    """Phase 1's windows key on spark_partition_id (parallel sweep, no
    global sort of the catalog); only the PRUNED survivors reach the
    single-partition phase-2 window; no join anywhere; scan pruned to
    the three referenced columns."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        skyline_pareto,
    )

    plan = _plan(skyline_pareto(spark, sf_dir))
    assert "Join" not in plan
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan
    # exactly one single-partition exchange (phase 2), after filtering
    assert plan.count("Exchange SinglePartition") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "p_partkey",
        "p_retailprice",
        "p_size",
    }, m and m.group(1)


def test_followed_by_within_no_event_join(spark, sf_dir):
    """The sequential pattern must be ONE running window per user — no
    event-to-event join, no candidate explosion; the two-type filter
    pushes to the scan."""
    from bytewax_iceberg_connector_spark.plans.behavioral import (
        followed_by_within,
    )

    plan = _plan(followed_by_within(spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan)


def test_benford_single_column_nine_groups(spark, sf_dir):
    """Digit extraction rides the scan projection; one 9-group combine;
    scan reads ONLY o_totalprice with the positivity filter pushed."""
    from bytewax_iceberg_connector_spark.plans.profiling import benford_check

    plan = _plan(benford_check(spark, sf_dir))
    assert "Join" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*o_totalprice", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).split(":")[0] == "o_totalprice", m.group(1)


def test_order_reconciliation_combines_lines_before_join(spark, sf_dir):
    """Lineitem must reduce to per-order cents (map-side partial sum)
    BEFORE meeting the header — the join carries |orders| rows, never
    raw lines; both scans prune to key + money columns."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        order_reconciliation,
    )

    plan = _plan(order_reconciliation(spark, sf_dir))
    assert "partial_sum" in plan
    first_join = plan.find("Join")
    assert first_join != -1 and "partial_sum" in plan[first_join:]
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 4, mm.group(1)


def test_revenue_gini_partitioned_sort_broadcast_dims(spark, sf_dir):
    """The in-group Gini sort partitions by nation (parallel, never a
    global sort); customer/nation broadcast onto the per-customer cents
    aggregate; the fact table shuffles once on custkey."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        revenue_gini_by_nation,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(revenue_gini_by_nation(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"Exchange hashpartitioning\(o_custkey", plan)


def test_rfm_three_ntiles_share_one_segment_exchange(spark, sf_dir):
    """All three RFM quartile windows partition by c_mktsegment and must
    share ONE hash exchange (same distribution, different sort keys);
    the customer dim broadcasts onto the per-custkey aggregate even with
    size-based auto-broadcast off; orders scans stay pruned."""
    from bytewax_iceberg_connector_spark.plans.behavioral import (
        rfm_segmentation,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(rfm_segmentation(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Exchange hashpartitioning(c_mktsegment") == 1
    assert plan.count("ntile(4)") >= 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 3, mm.group(1)


def test_quantile_bins_single_hash_exchange(spark, sf_dir):
    """The per-year NTILE sort and the (year, decile) rollup share one
    hash exchange (grouping-key prefix reuse); the orders scan reads only
    the three referenced columns."""
    from bytewax_iceberg_connector_spark.plans.behavioral import quantile_bins

    plan = _plan(quantile_bins(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, m and m.group(1)


def test_graph_degree_profile_broadcasts_node_dim(spark, sf_dir):
    """The node-sized degree table broadcasts onto the incidence list
    twice (node side + neighbor side) even with size-based auto-broadcast
    off; no sort-merge join, no cartesian product; the lineitem scan
    reads only the two basket columns."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        graph_degree_profile,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(graph_degree_profile(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_bfs_reach_static_three_hop_broadcast_frontiers(spark, sf_dir):
    """Fixed-depth BFS: every frontier join (expand + shortest-distance
    anti) is a broadcast join; the plan is static (no driver loop) and
    cartesian-free."""
    from bytewax_iceberg_connector_spark.plans.relational import bfs_reach

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bfs_reach(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_anomaly_two_exchanges_day_then_dow(spark, sf_dir):
    """The daily aggregate shuffles on the day key; every weekday window
    and the final rollup share ONE dow exchange; the orders scan reads
    only the two referenced columns and pushes the NULL-date filter."""
    from bytewax_iceberg_connector_spark.plans.temporal import seasonal_anomaly

    plan = _plan(seasonal_anomaly(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(dow") == 1
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(o_orderdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_cusum_drift_distributed_agg_feeds_bounded_kernel(spark, sf_dir):
    """The fact scan aggregates (nation, day) BEFORE the Python kernel:
    exactly one FlatMapGroupsInPandas over the bounded daily series, the
    dims broadcast, and no row-at-a-time Python UDF anywhere."""
    from bytewax_iceberg_connector_spark.plans.temporal import cusum_drift

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(cusum_drift(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # the (n_name, day) aggregate must sit BELOW the pandas kernel
    kernel = plan.find("FlatMapGroupsInPandas")
    assert "HashAggregate" in plan[kernel:]


def test_bigram_perplexity_word_count_shape_no_python(spark, sf_dir):
    """Bigram fan-out stays JVM-side (transform+explode, no Python UDF);
    the LM folds from the bigram-count table (no second corpus token
    explode — exactly one Generate over documents); the documents scan
    prunes to the four referenced columns."""
    from bytewax_iceberg_connector_spark.plans.curation import (
        bigram_perplexity,
    )

    plan = _plan(bigram_perplexity(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # tf and cbg persist: consumers read the caches (plan text replays a
    # cached subtree under each InMemoryTableScan, so gate on the cache
    # reads, not on the Generate count)
    assert plan.count("InMemoryTableScan") >= 3
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 4, mm.group(1)


def test_crosstab_deviation_folds_totals_from_cells(spark, sf_dir):
    """Row/col/N totals fold from the persisted cell table (3 cache
    reads), never re-scanning customer: exactly one customer scan; the
    bounded top-k is a TakeOrdered, not a global sort."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        crosstab_deviation,
    )

    plan = _plan(crosstab_deviation(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 3
    assert plan.count("customer.parquet") <= plan.count("InMemoryTableScan")
    assert "TakeOrdered" in plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_prefixes_filters_before_rank(spark, sf_dir):
    """The min-family filter must run BEFORE the per-source rank window
    (the sort sees family heads only), and the (source, prefix) agg and
    the rank window share work on one exchange chain; documents scan
    prunes to (source, text)."""
    from bytewax_iceberg_connector_spark.plans.corpus import (
        boilerplate_prefixes,
    )

    plan = _plan(boilerplate_prefixes(spark, sf_dir))
    win = plan.find("RunningWindowFunction")
    if win == -1:
        win = plan.find("Window")
    filt = plan.find("n_docs")
    assert win != -1
    # the HAVING filter on n_docs appears below (after, in printed order)
    # the window operator
    assert re.search(r"Filter.*n_docs#\d+L >= 2", plan[win:])
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_rolling_median_bounded_epilogue(spark, sf_dir):
    """The sliding median runs over the DAILY aggregate: the plan must
    aggregate (day) before the single-partition range window, and the
    orders scan reads only the two referenced columns."""
    from bytewax_iceberg_connector_spark.plans.temporal import (
        rolling_median_revenue,
    )

    plan = _plan(rolling_median_revenue(spark, sf_dir))
    win = plan.find("Window")
    assert win != -1
    assert "HashAggregate" in plan[win:]  # daily agg sits below the window
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_shipping_delay_profile_one_fact_join_month_windows(spark, sf_dir):
    """Fact-fact shuffle join on orderkey (NO broadcast of either fact),
    month windows + rollup share one month exchange; both scans prune to
    the referenced columns and push the NULL-date filters."""
    from bytewax_iceberg_connector_spark.plans.temporal import (
        shipping_delay_profile,
    )

    plan = _plan(shipping_delay_profile(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(month") == 1
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(l_shipdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(o_orderdate", plan)
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 3, mm.group(1)


def test_mad_outliers_one_event_type_exchange(spark, sf_dir):
    """Both median windows and the rollup share ONE event_type exchange
    (two in-partition sorts, one shuffle); the events scan reads only
    the three referenced columns and pushes the NULL filter."""
    from bytewax_iceberg_connector_spark.plans.behavioral import mad_outliers

    plan = _plan(mad_outliers(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(event_type") == 1
    assert "Exchange SinglePartition" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, m and m.group(1)


def test_k_anonymity_audit_two_aggregates_no_joins(spark, sf_dir):
    """Two stacked aggregates (QI classes -> histogram), no joins, no
    windows; customer scan prunes to the three QI columns."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        k_anonymity_audit,
    )

    plan = _plan(k_anonymity_audit(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, m and m.group(1)


def test_return_rate_outliers_single_fact_join_takeordered(spark, sf_dir):
    """One fact-fact join on orderkey, per-customer agg persisted and
    reused for the base rate (cache reads, no second lineitem scan),
    bounded TakeOrdered; scans prune to two columns each."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        return_rate_outliers,
    )

    plan = _plan(return_rate_outliers(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2
    assert "TakeOrdered" in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 2, mm.group(1)


def test_streaming_enrich_dim_broadcast_and_one_exchange(spark, sf_dir):
    """The static dim broadcasts (the stream side can never build a
    shuffle join) and the windowed aggregate is the only hash exchange;
    the dim scan prunes to two columns."""
    from bytewax_iceberg_connector_spark.plans.streaming_queries import (
        streaming_enrich_dim,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(streaming_enrich_dim(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_theil_sen_bounded_broadcast_self_join(spark, sf_dir):
    """The pair fan-out self-joins the BOUNDED daily aggregate via
    broadcast (never a shuffled fact self-join); the orders scan reads
    two columns; no cartesian product (the d1 < d2 predicate rides the
    broadcast nested loop, which is fine on a day-bounded frame)."""
    from bytewax_iceberg_connector_spark.plans.temporal import theil_sen_trend

    plan = _plan(theil_sen_trend(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 2, mm.group(1)


def test_psi_drift_constant_state_no_joins_on_facts(spark, sf_dir):
    """One (half, bin) cell aggregate over the fact scan; totals fold
    from the persisted cell table; the only joins are 1-row broadcasts;
    orders scan prunes to two columns."""
    from bytewax_iceberg_connector_spark.plans.behavioral import psi_drift

    plan = _plan(psi_drift(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 2, mm.group(1)


def test_basket_triples_linear_fanout_no_self_join(spark, sf_dir):
    """The triple space comes from the per-basket array fan-out (one
    Generate), NEVER a 3-way table self-join: exactly one lineitem scan,
    no join operator at all, bounded TakeOrdered."""
    from bytewax_iceberg_connector_spark.plans.relational import basket_triples

    plan = _plan(basket_triples(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Generate") == 1
    assert "TakeOrdered" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_blocking_efficiency_aggregates_only(spark, sf_dir):
    """Three stacked block-size aggregates + a 1-row broadcast: no
    sort-merge joins, no windows over fact data; customer scans prune
    to the two QI columns."""
    from bytewax_iceberg_connector_spark.plans.profiling import (
        blocking_efficiency,
    )

    plan = _plan(blocking_efficiency(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 2, mm.group(1)


def test_cohort_revenue_ltv_custkey_window_then_bounded_rollup(spark, sf_dir):
    """One custkey exchange feeds the first-order window; the (cohort,
    offset) rollup and its cumulative window run on the bounded cell
    frame; orders scan prunes to three columns."""
    from bytewax_iceberg_connector_spark.plans.behavioral import (
        cohort_revenue_ltv,
    )

    plan = _plan(cohort_revenue_ltv(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1
    assert plan.count("Exchange hashpartitioning(cohort") >= 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, m and m.group(1)


def test_pagerank_iteration_parallel_and_exchange_free(spark, sf_dir):
    """Round-6 gate (r05 verdict #4): the per-iteration PageRank
    aggregate must run WIDE and exchange-free — no coalesce or
    single-partition exchange anywhere in the live iteration plan (the
    r05 ADVICE single-task regression), no shuffle exchange (the cached
    edge table's destination partitioning must satisfy groupBy(v)), and
    the rank vector rides a broadcast."""
    from tools.explain_audit import count_executed_exchanges, executed_tree_lines

    from bytewax_iceberg_connector_spark.plans.relational import (
        _pr_graph,
        _pr_step,
    )

    ew, pr, caches = _pr_graph(spark, sf_dir)
    try:
        step = _pr_step(ew, pr)
        live = "\n".join(executed_tree_lines(_plan(step)))
        assert "Coalesce" not in live
        assert "SinglePartition" not in live
        assert "BroadcastHashJoin" in live
        # zero shuffle exchanges outside the already-materialized caches
        n_ex, n_imts = count_executed_exchanges(_plan(step))
        assert n_ex == 0, live
        # ew scan + the cached outw feeding the LAZY rank seed under the
        # broadcast (r12: the seed itself no longer persists — it is read
        # exactly once as iteration 1's broadcast input)
        assert n_imts == 2
        # and the aggregate keeps the cached edge table's width
        assert step.rdd.getNumPartitions() == ew.rdd.getNumPartitions() > 1
    finally:
        for c in caches:
            c.unpersist()


def test_percentile_approx_check_single_pass_two_columns(spark, sf_dir):
    """The approx-vs-exact differential runs as ONE grouped aggregate —
    both percentile families (sketch + disc) in the same pass, one hash
    exchange on the 2-column orders projection, no join, no Python."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        percentile_approx_check,
    )

    plan = _plan(percentile_approx_check(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan and "BatchEvalPython" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)


def test_streaming_dedup_watermark_one_key_exchange_arrow_kernel(spark, sf_dir):
    """The greedy keep-chain kernel: exactly one hash exchange on the
    dedup key feeding a within-partition sort + ONE Arrow-batched
    MapInPandas (never row-at-a-time Python); the events scan prunes to
    the 3 ridden columns; the final rollup exchanges |event_type| rows."""
    from bytewax_iceberg_connector_spark.plans.streaming_queries import (
        streaming_dedup_watermark,
    )

    plan = _plan(streaming_dedup_watermark(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(event_id") == 1
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    # the key sort is partition-local (global=false), not a global sort
    assert re.search(r"Sort \[event_id.*\], false", plan), plan[:2000]
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(mm.group(1).split(",")) <= 3, mm.group(1)


def test_sketch_audits_two_stage_no_expand(spark, sf_dir):
    """The converted sketch contract audits must keep the explicit
    two-stage distinct shape: no Expand (the countDistinct+plain-aggs
    trap), no join wider than the week/type-keyed audit join, scans
    pruned to the ridden columns."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        distinct_approx,
        sketch_rollup,
    )

    for fn, max_cols in ((distinct_approx, 2), (sketch_rollup, 2)):
        plan = _plan(fn(spark, sf_dir))
        assert "Expand" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            assert len(mm.group(1).split(",")) <= max_cols, (
                fn.__name__,
                mm.group(1),
            )


def test_ann_audit_persists_exact_and_stays_narrow(spark, sf_dir):
    """The shared ANN contract audit must read its exact twin from ONE
    persisted materialization (three branches consume it — un-persisted,
    the exact block-GEMM replays per branch), keep every row UDF out, and
    prune the embeddings scan to the ridden columns."""
    from bytewax_iceberg_connector_spark.plans.llm import similarity_ann_lsh

    plan = _plan(similarity_ann_lsh(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert cols <= {"vec_id", "embedding"}, cols


def test_simhash_audit_single_kernel_materialization(spark, sf_dir):
    """The simhash audit derives BOTH halves (fingerprint index + exact
    shingle join) from one persisted (doc_id, sha) frame — the md5 kernel
    is the dominant cost and must not run per half; documents scans stay
    pruned to (doc_id, text)."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_simhash

    plan = _plan(dedup_simhash(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_semantic_audit_narrow_scans_no_row_udf(spark, sf_dir):
    """The semantic audit's slice-wide pieces (census cells, pairwise
    reach, slice count) must stay on pruned embeddings scans with Arrow
    kernels only; the final assembly is 1-row joins. Since r07 every
    embeddings scan feeding the audit must carry the hash-admission
    predicate — no stage of the registered plan touches the full corpus
    pairwise."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _EMB_SAMPLE_PPM,
        semantic_dedup,
    )

    df = semantic_dedup(spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert cols <= {"vec_id", "embedding", "label"}, cols
    assert f"< {_EMB_SAMPLE_PPM})" in plan, "audit-slice admission missing"
    # r13 dead-cache pin: the kmeans slice persist must SURVIVE to the
    # final plan (the r12 form's scoped finalizer fired when the census
    # frame's Python ref died inside the outer builder, so the action
    # re-scanned + re-deduped the corpus with zero InMemoryTableScan),
    # and the fused _assign_carry kernel must carry (embedding, label)
    # through its one Arrow pass instead of join-backing the slice onto
    # the narrow assignment — the census branch plans NO join between
    # the kernel and the per-cell applyInPandas.
    assert "InMemoryTableScan" in plan, "kmeans slice cache stranded"
    # anchored on the census subtree of the optimized logical plan, not
    # on plan-text order: the cell prune is the grouped-pandas node that
    # outputs n_kept; walking down from it, every path must reach the
    # fused assignment kernel (one MapInPandas carrying embedding and
    # label) without crossing a join
    census = [
        n for n in _tree(df._jdf.queryExecution().optimizedPlan())
        if _node_name(n) == "FlatMapGroupsInPandas"
        and "n_kept" in _output(n)
    ]
    assert len(census) == 1, "census cell prune not found"
    between = list(_tree(census[0], stop="MapInPandas"))
    kernels = [n for n in between if _node_name(n) == "MapInPandas"]
    assert len(kernels) == 1, "fused assignment kernel not found"
    assert {"embedding", "label", "cluster"} <= _output(kernels[0])
    joins = [_node_name(n) for n in between if "Join" in _node_name(n)]
    assert not joins, (
        "label/embedding join-back reappeared between the assignment "
        f"kernel and the cell prune: {joins}"
    )


def test_cosine_audit_admission_filter_precedes_pair_fanout(spark, sf_dir):
    """`dedup_embedding_cosine` (r07: declared-ppm audit slice) must
    evaluate the md5 hash-admission predicate IN THE SCAN-SIDE Filter —
    before the collect_list block aggregation and the block-pair join —
    so at 100 TB only (p·N) vectors ever shuffle and only (p·N/512)²/2
    tiles fan out. A plan where the filter lands above the join is the
    O(N²) regression this gate exists to catch."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _EMB_SAMPLE_PPM,
        dedup_embedding_cosine,
    )

    plan = _plan(dedup_embedding_cosine(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert cols <= {"vec_id", "embedding"}, cols
    # the admission predicate must appear in a Filter Condition on BOTH
    # join inputs (the plan scans embeddings twice), i.e. below the join
    conds = [
        m.group(0)
        for m in re.finditer(r"\+- Filter .*", plan)
        if f"< {_EMB_SAMPLE_PPM})" in m.group(0) and "md5(" in m.group(0)
    ]
    assert len(conds) >= 2, plan


def test_sql_product_profit_pushed_name_filter_no_cartesian(spark, sf_dir):
    """Q9 (adapted): the %red% part filter must reach the part scan as a
    StringContains pushdown (the star join's selectivity lives there),
    every dimension joins hash/broadcast — a cartesian or an unpushed
    name filter turns the 5-way join into a full-fact blowup."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_product_profit,
    )

    plan = _plan(sql_product_profit(spark, sf_dir))
    assert "StringContains(p_name,red)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sql_parts_supplier_pushed_part_predicates(spark, sf_dir):
    """Q16 (adapted): brand/type/size predicates must reach the part
    scan (Not(EqualTo)/In pushdowns) so the derived partsupp pairs join
    against an already-filtered broadcast side."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_parts_supplier,
    )

    plan = _plan(sql_parts_supplier(spark, sf_dir))
    assert "Not(EqualTo(p_brand,Brand#1))" in plan
    assert "In(p_size" in plan
    assert "CartesianProduct" not in plan


def test_sql_potential_promotion_semi_join_pushed_year(spark, sf_dir):
    """Q20 (adapted): the suppkey IN must compile to a semi join (no
    supplier duplication), and the 1995 ship window must be pushed to
    BOTH lineitem scans (the shipped and part_year CTE arms) — an
    unpushed window scans the whole fact twice."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_potential_promotion,
    )

    plan = _plan(sql_potential_promotion(spark, sf_dir))
    assert "LeftSemi" in plan
    assert plan.count("GreaterThanOrEqual(l_shipdate,1995-01-01") >= 2
    assert "CartesianProduct" not in plan


def test_sql_min_cost_supplier_decorrelated_topk(spark, sf_dir):
    """Q2 (adapted): the LIMIT must be a TakeOrderedAndProject (no global
    sort materializes), the size/region predicates must reach their scans
    (region on BOTH the outer and the decorrelated-min arm), and the
    correlated min-cost subquery must decorrelate into joins — a
    CartesianProduct or an unpushed region filter re-prices every
    supplier on the planet per part."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_min_cost_supplier,
    )

    plan = _plan(sql_min_cost_supplier(spark, sf_dir))
    assert "TakeOrderedAndProject(limit=100" in plan
    assert "EqualTo(p_size,15)" in plan
    assert plan.count("EqualTo(r_name,EUROPE)") >= 2
    assert "CartesianProduct" not in plan


def test_sql_important_stock_pushed_nation_broadcasts(spark, sf_dir):
    """Q11 (adapted): the nation equality must reach the nation scan on
    BOTH the per-part arm and the grand-total scalar-subquery arm, and
    supplier⋈nation must broadcast into the lineitem stream — the only
    wide exchange is the partkey rollup of the filtered slice."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_important_stock,
    )

    plan = _plan(sql_important_stock(spark, sf_dir))
    assert plan.count("EqualTo(n_name,NATION_7)") >= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sql_shipmode_priority_pushed_year_window(spark, sf_dir):
    """Q12 (adapted): the one-year ship window must push to the lineitem
    scan (the join then carries only that year's lines); the lateness
    comparison references both sides so it can only ride the join
    condition — but never as a cartesian."""
    from bytewax_iceberg_connector_spark.plans.relational import (
        sql_shipmode_priority,
    )

    plan = _plan(sql_shipmode_priority(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate,1995-01-01" in plan
    assert "LessThan(l_shipdate,1996-01-01" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_single_partition_stages_are_agg_finals(spark, sf_dir):
    """r08 verdict watch item: the audit flagged 3 SinglePartition stages in
    semantic_dedup. Pin that every one of them is the FINAL stage of a
    two-phase global aggregate — fed by a map-side partial (partial_count /
    partial_sum over counter rows, one tiny row per task), never a
    data-bearing repartition-to-1. The three global scalars (n_vectors,
    n_dup_reach, census sums) are the query's summary-row contract; their
    single-partition finals move O(#tasks) longs, not vectors."""
    from bytewax_iceberg_connector_spark.plans.llm import semantic_dedup

    plan = _plan(semantic_dedup(spark, sf_dir))
    chunks = plan.split("Exchange SinglePartition")
    assert 2 <= len(chunks) - 1 <= 3, "unexpected SinglePartition count"
    for following in chunks[1:]:
        # plan strings print top-down: final agg, THIS exchange, partial
        # agg. The text below the exchange must hit a partial aggregate
        # before any further exchange — i.e. the input is pre-combined
        # counter rows.
        below = following.split("Exchange")[0]
        assert "partial_" in below, (
            "SinglePartition exchange not fed by a partial aggregate:\n"
            + below[:500]
        )
    assert "CartesianProduct" not in plan
