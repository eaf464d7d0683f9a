"""Physical-plan audit: machine-checks that the plans Catalyst picks
are the plans the scale design calls for (predicate pushdown reaching
parquet, dimension joins going broadcast, top-k avoiding global sorts,
aggregates running partial+final).

Run: ``python -m spec_search_spark.plans.audit [sf_dir]`` → one line
per check + exit status; tests/test_plans.py asserts the same
invariants so plan regressions fail CI.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession


def plan_of(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def window_over_single_partition(plan: str) -> bool:
    """True if any Window node sits (via an optional Sort) directly
    above an Exchange whose Arguments are SinglePartition — the
    single-task window shape the rank walks must never take over
    data-sized tables.

    This is the r5 `hashpartitioning(1,` forbid made REAL: in Spark
    4.1 a foldable window partition spec is optimized away entirely,
    so a lit(1)-partitioned window plans as `Exchange` +
    `Arguments: SinglePartition` and the old substring never matches
    (the meta-test in tests/test_plans.py proved the string dead).
    Structural matching is required because SinglePartition exchanges
    also appear LEGITIMATELY under one-row global aggregates — only
    the Window-over-SinglePartition composition is the anti-pattern.
    """
    import re

    single_ids: set[str] = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\b", block)
        if m and "Arguments: SinglePartition" in block:
            single_ids.add(m.group(1))
    if not single_ids:
        return False
    # walk every tree section (main plan + AQE/Subquery subtrees):
    # node lines look like "   +- Sort (4)" / ":  +- Exchange (3)";
    # depth = prefix length before the operator token
    # the prefix class includes '*' so whole-stage-codegen markers
    # ('+- * HashAggregate (5)') still parse as tree nodes: without it
    # a starred plan (AQE disabled, or executed final plans) drops the
    # nodes off the ancestor stack and the check passes silently
    # (ADVICE r9 item 1)
    node_re = re.compile(
        r"^([\s:|+\-*]*?)([A-Za-z][A-Za-z0-9_]*)[^()]*\((\d+)\)\s*$"
    )
    stack: list[tuple[int, str]] = []  # (depth, opname)
    for line in plan.splitlines():
        m = node_re.match(line)
        if not m:
            continue
        depth, op, nid = len(m.group(1)), m.group(2), m.group(3)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if op == "Exchange" and nid in single_ids:
            anc = [o for _d, o in reversed(stack)]
            for o in anc:
                if o == "Sort":
                    continue
                if o == "Window":
                    return True
                break
        stack.append((depth, op))
    return False


#: Operators that may legitimately sit above a result-ordering range
#: exchange: the final Sort itself, presentation projections, and the
#: adaptive-plan root. Anything else above a rangepartitioning
#: exchange means a GLOBAL SORT FEEDING MORE WORK — the 100 TB
#: anti-pattern the blanket `rangepartitioning(` forbid guards against.
_RESULT_SORT_ANCESTORS = frozenset(
    {"Sort", "Project", "AdaptiveSparkPlan", "ResultQueryStage", "CollectLimit"}
)


def interior_range_partitioning(plan: str) -> bool:
    """True if any rangepartitioning Exchange is INTERIOR — consumed by
    anything other than the plan's final result sort (ADVICE r7 item 2,
    completed r9): queries whose output legitimately sorts can't carry
    the blanket `rangepartitioning(` forbid, and the r8 `≤1 occurrence`
    count was weaker than the invariant (one interior global sort in a
    plan with no result sort slipped through). Structural form: walk
    the operator tree exactly like window_over_single_partition and
    require every ancestor of a range exchange to be a result-sort
    shape operator (_RESULT_SORT_ANCESTORS)."""
    import re

    range_ids: set[str] = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\b", block)
        if m and "rangepartitioning(" in block:
            range_ids.add(m.group(1))
    if not range_ids:
        return False
    # the prefix class includes '*' so whole-stage-codegen markers
    # ('+- * HashAggregate (5)') still parse as tree nodes: without it
    # a starred plan (AQE disabled, or executed final plans) drops the
    # nodes off the ancestor stack and the check passes silently
    # (ADVICE r9 item 1)
    node_re = re.compile(
        r"^([\s:|+\-*]*?)([A-Za-z][A-Za-z0-9_]*)[^()]*\((\d+)\)\s*$"
    )
    stack: list[tuple[int, str]] = []
    for line in plan.splitlines():
        m = node_re.match(line)
        if not m:
            continue
        depth, op, nid = len(m.group(1)), m.group(2), m.group(3)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if op == "Exchange" and nid in range_ids:
            if any(o not in _RESULT_SORT_ANCESTORS for _d, o in stack):
                return True
        stack.append((depth, op))
    return False


# (query name, [required plan fragments], [forbidden plan fragments])
CHECKS: list[tuple[str, list[str], list[str]]] = [
    # q6: every predicate must reach the parquet scan
    ("q6_forecast_revenue", ["PushedFilters: [IsNotNull(l_shipdate)"], ["CartesianProduct"]),
    # q1: pre-shuffle partial aggregation (partial_ prefix in agg node)
    ("q1_pricing_summary", ["partial_sum", "HashAggregate"], ["SortAggregate"]),
    # q3: dimension join broadcasts; fact join keeps hash strategy
    ("q3_shipping_priority", ["BroadcastHashJoin"], ["CartesianProduct"]),
    # top-k: TakeOrderedAndProject, not a global Sort + Limit
    ("topk_orders", ["TakeOrderedAndProject"], ["rangepartitioning("]),
    # semi/anti joins stay semi/anti (no row-multiplying rewrite)
    ("join_semi", ["LeftSemi"], []),
    ("join_anti", ["LeftAnti"], []),
    # broadcast hint honored on the part dimension
    ("join_broadcast_agg", ["BroadcastHashJoin"], ["SortMergeJoin"]),
    # scans project only needed columns: q6 reads 4 cols, never l_comment-ish width
    ("q6_forecast_revenue", ["ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"], []),
    # window top-k: single shuffle on the partition key
    ("window_topk_per_customer", ["Window", "hashpartitioning(o_custkey"], []),
    # knn: probe side broadcast — embedding table never shuffles
    # (formatted explain prints the operator name and its Arguments on
    # separate lines, so the forbid anchors on the argument text alone)
    ("knn_exact", ["BroadcastNestedLoopJoin"], ["hashpartitioning(vec_id"]),
    # as-of: union + window composition, never a range/cross join
    ("asof_join_purchase", ["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # sessionize: single partitioning chain on user_id
    ("sessionize", ["hashpartitioning(user_id"], ["CartesianProduct"]),
    # events hourly rollup aggregates partially before the shuffle
    ("hourly_event_rollup", ["partial_count"], []),
    # correlated subquery is decorrelated to an aggregate+join
    ("sql_correlated_subquery", ["HashAggregate"], ["CartesianProduct"]),
    # range-band join keeps the equi conjunct as the hash key
    ("join_range_band", ["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # --- TPC-H completion pack (size-independent invariants only:
    # join TYPE, parquet pushdown, partial aggregation — broadcast
    # vs SMJ on fact joins is AQE's size-based call, not pinned) ---
    # q2: min-per-part aggregates partially; the hinted build sides broadcast
    ("q2_min_price_supplier", ["partial_min", "BroadcastHashJoin"], ["CartesianProduct"]),
    # q4: EXISTS stays a semi join; the year filter reaches the orders scan
    ("q4_priority_exists",
     ["LeftSemi", "GreaterThanOrEqual(o_orderdate,1996-01-01"], ["CartesianProduct"]),
    # q8: 6-dim join tree is all broadcast hash joins, single fact shuffle
    ("q8_market_share", ["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # q9: the LIKE '%widget%' prunes the part dim AT THE SCAN
    ("q9_profit_by_nation", ["StringContains(p_name,widget)"], ["CartesianProduct"]),
    # q11: global total is a one-row broadcast nested loop, not a window
    ("q11_important_value", ["BroadcastNestedLoopJoin", "partial_sum"], ["Window"]),
    # q13: outer join preserved (zero-count customers survive)
    ("q13_custdist", ["LeftOuter", "partial_count"], ["CartesianProduct"]),
    # q15: argmax via broadcast scalar — never a global sort
    ("q15_top_supplier", ["partial_sum"], ["rangepartitioning("]),
    # q17: correlated avg decorrelates to partial+final avg on partkey
    ("q17_small_qty_revenue", ["partial_avg"], ["CartesianProduct"]),
    # q18: HAVING join-back ends in TakeOrdered, no global sort
    ("q18_large_orders",
     ["TakeOrderedAndProject", "partial_sum"], ["rangepartitioning("]),
    # q19: shared p_size bound + per-side disjunction both push to parquet
    ("q19_disjunctive_bands",
     ["LessThanOrEqual(p_size,30)", "BroadcastHashJoin"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # q21: one fact shuffle — semi join + Expand for the two distincts
    ("q21_sole_returner", ["LeftSemi", "Expand"], ["CartesianProduct"]),
    # q22: NOT EXISTS stays anti; scalar threshold is a one-row broadcast
    ("q22_idle_customers", ["LeftAnti", "BroadcastNestedLoopJoin"], ["CartesianProduct"]),
    # UDTF lateral join is a pure map stage: no shuffle anywhere
    ("udtf_chunk_explode", ["BatchEvalPythonUDTF"], ["Exchange", "CartesianProduct"]),
    # grouped-agg UDAF: one shuffle on the group key, Arrow-batched agg,
    # scan pruned to the three referenced columns (vec_id feeds the
    # deterministic summation order — see _label_centroid)
    ("udaf_label_centroid",
     ["ArrowAggregatePython", "hashpartitioning(label",
      "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>"],
     ["CartesianProduct"]),
    # multi-probe top-k: Spark's map-side WindowGroupLimit cuts the
    # per-probe window BEFORE the per-probe exchange — the scored table
    # never shuffles in full onto the handful of probe_id reducers, and
    # no Python hop does the cut; see
    # test_plans.test_two_phase_topk_single_shuffle for the structural
    # (ordering + shuffle-count) assertion
    ("knn_multi_probe",
     ["WindowGroupLimit", "hashpartitioning(probe_id"],
     ["SortMergeJoin", "CartesianProduct", "MapInPandas"]),
    ("ann_lsh_bucketed",
     ["WindowGroupLimit", "hashpartitioning(probe_id"],
     ["SortMergeJoin", "CartesianProduct", "MapInPandas"]),
    ("ann_lsh_multiprobe",
     ["WindowGroupLimit", "hashpartitioning(probe_id"],
     ["SortMergeJoin", "CartesianProduct", "MapInPandas"]),
    # near-dup pair join is banded: join keys include (band_idx, sig),
    # never a label-only pair join (quadratic in a label block) —
    # see test_plans.test_neardup_banding for the candidate-count bound
    ("embedding_near_dup",
     ["band_idx"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # sheet-store unpivot is a pure map pipeline: native JSON file scan →
    # explode/posexplode → filter/project, zero shuffles, no Python scan
    ("sheets_source_unpivot", ["Scan json", "Generate"], ["Exchange", "BatchScan"]),
    # --- training-pipeline pack (pipeline_ops.py) ---
    # decontamination: the benchmark hash set broadcasts; the corpus
    # side never cross-joins
    ("decontaminate", ["BroadcastHashJoin"], ["CartesianProduct"]),
    # repetition histogram aggregates partially before the shuffle
    ("repetition_filters", ["partial_count"], ["CartesianProduct"]),
    # hash split: pure per-row hash + partial/final agg
    ("hash_split_report", ["partial_sum"], ["CartesianProduct", "Window"]),
    # tf-idf: vocab-sized df table broadcasts back; top-k window rides
    # the doc_id partitioning; no global sort
    ("tfidf_top_terms",
     ["BroadcastHashJoin", "hashpartitioning(doc_id"],
     ["SortMergeJoin", "rangepartitioning("]),
    # packing windows per-source — never a single-partition cumsum
    ("token_pack_blocks",
     ["hashpartitioning(source"],
     ["SinglePartition", "CartesianProduct"]),
    # mixing weights: one-row global via broadcast nested loop (q11 shape)
    ("source_mix_weights",
     ["BroadcastNestedLoopJoin", "partial_sum"],
     ["Window", "SortMergeJoin"]),
    # variant shredding stays a partial/final agg over the scan
    ("variant_shred_stats", ["partial_min"], ["CartesianProduct", "rangepartitioning("]),
    # weighted sampling: weights broadcast onto the scan, agg partial
    ("weighted_sample", ["BroadcastHashJoin", "partial_sum"], ["CartesianProduct"]),
    # e2e funnel: flag joins + one partial/final agg, nothing quadratic
    ("training_pipeline_e2e", ["partial_sum"], ["CartesianProduct"]),
    # normalization is a pure per-row regex map: zero shuffles
    ("normalize_text", [], ["Exchange"]),
    # PII scan/redact: per-row regex (codegen) + one partial/final agg
    # on source — never a sort-based agg or anything quadratic
    ("pii_scan", ["partial_sum", "HashAggregate"], ["CartesianProduct", "SortAggregate"]),
    ("pii_redact", ["partial_sum", "HashAggregate"], ["CartesianProduct", "SortAggregate"]),
    # SQ8 codebook build is a pure per-row map: zero shuffles
    ("quantize_int8", [], ["Exchange"]),
    # SQ8 ANN keeps the two-phase shape: partial top-k before the
    # per-probe exchange; quantized scan side never sort-merge joins
    ("ann_int8_rerank",
     ["MapInPandas", "hashpartitioning(probe_id"],
     ["SortMergeJoin", "CartesianProduct"]),
    # recall report: both arms keep their map-side window cut; the
    # hit-join is over ≤ probes×k rows, never a sort-merge join
    ("ann_recall_report", ["WindowGroupLimit"],
     ["SortMergeJoin", "CartesianProduct", "MapInPandas"]),
    # SCD2 snapshot: window + agg share ONE user_id exchange; current
    # state comes from the window, never a self-join back to events
    ("scd2_current_snapshot",
     ["hashpartitioning(user_id"],
     ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"]),
    # fixed-point PageRank: per-round edge joins aggregate partially,
    # nothing quadratic; scores stay bigint (no float agg nodes)
    ("graph_pagerank", ["partial_sum"], ["CartesianProduct"]),
    # triangles: oriented wedge-close joins only — no cartesian, no
    # broadcast of the node-sized degree table forced by hint
    ("graph_triangles", ["partial_count"], ["CartesianProduct"]),
    # bucketed join: both scans read bucket-clustered data and the SMJ
    # consumes them with ZERO exchange on either orderkey — the
    # write-once shuffle is amortized across every downstream join
    ("bucketed_join_revenue",
     ["SortMergeJoin", "Bucketed: true", "SelectedBucketsCount: 8 out of 8"],
     ["hashpartitioning(l_orderkey", "hashpartitioning(o_orderkey"]),
    # fuzzy vocab join: gram-blocked candidates + short-string block,
    # never an unblocked name×name pair join
    ("fuzzy_name_pairs", ["partial_count"], ["CartesianProduct"]),
    # gap-fill: spine explode + ONE forward-fill window per type; the
    # raw events never join the spine (only the pre-aggregated hourly)
    ("gap_fill_hourly", ["Window", "partial_count"], ["CartesianProduct"]),
    # balanced shards: the only unpartitioned window runs over the
    # 64-row bucket-count table; doc rows get a bucket-partitioned
    # row_number + broadcast offset join, never a global sort
    ("balanced_shards",
     ["hashpartitioning(bucket", "BroadcastHashJoin"],
     ["rangepartitioning(", "CartesianProduct"]),
    # triplet mining: ONE shuffle of vectors by LSH bucket into the
    # per-bucket Arrow mining kernel — no pair join materialized at
    # all, no window pass, no cross join
    ("triplet_mining",
     ["FlatMapGroupsInPandas", "hashpartitioning(bucket"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "SortMergeJoin"]),
    # differential skew join: hot slice broadcasts, cold slice keeps
    # the shuffle join; histogram aggregates partially
    ("adaptive_skew_join",
     ["BroadcastHashJoin", "LeftAnti", "partial_count"],
     ["CartesianProduct"]),
    # decimal aggregation: partial+final hash agg, casts stay in the
    # scan projection (no extra exchange)
    ("decimal_exact_revenue", ["partial_sum", "HashAggregate"], ["SortAggregate"]),
    # statistical moments: one partial+final pass computes every moment
    ("stats_moments", ["partial_corr", "HashAggregate"], ["SortAggregate"]),
    # filtered vector search: the metadata predicate reaches the scan —
    # filter-then-search, and the top-k is a TakeOrdered, no global sort
    ("filtered_ann_search",
     ["PushedFilters: [IsNotNull(label), EqualTo(label,3)", "TakeOrderedAndProject"],
     ["rangepartitioning("]),
    # hybrid RRF: both arms end in TakeOrdered at arm depth; the query
    # token IN-filter pushes to the documents scan
    ("hybrid_search_rrf",
     ["TakeOrderedAndProject"],
     ["rangepartitioning(", "CartesianProduct"]),
    # two-stage rerank: stage 1 is a TakeOrdered at RERANK_DEPTH; the
    # reranker never sees an unbounded candidate set (no global sort)
    ("semantic_search_reranked",
     ["TakeOrderedAndProject"],
     ["CartesianProduct"]),
    # snapshot diff: fingerprint-only full-outer join (8-byte payload,
    # SMJ — Spark has no broadcast full-outer), partial+final counts
    ("corpus_diff", ["FullOuter", "partial_count"], ["CartesianProduct"]),
    # corpus-build flagship: the composed funnel must CONSUME the
    # memoized index artifacts (span-hit postings, CC labels, shingle
    # postings → InMemoryTableScan / checkpointed RDD scans), never
    # re-derive them; verdict joins are doc_id-keyed hash joins with
    # the bounded sides (bench hash set, weights, shard offsets)
    # broadcast; the funnel report aggregates partially. No pair
    # blow-up, no row-at-a-time Python. Its only windows run over the
    # 64-row bucket-count table and within hash buckets (the
    # balanced_shards two-phase rank) — bounded by construction, which
    # is why this name is NOT in NO_SINGLE_TASK_WINDOW. The result
    # orderBy is the plan's one range exchange (structural loop below).
    ("corpus_build_pipeline",
     ["partial_sum", "BroadcastHashJoin", "InMemoryTableScan",
      "Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython", "MapInPandas"]),
    # URL canonicalization: synth + canonicalize are ONE codegen
    # projection over the scan (no join, no Python); the two distinct
    # aggs collapse map-side (partial_count)
    # (the result orderBy is the one legit range exchange — covered by
    # the structural interior-range loop, not a blanket forbid)
    ("url_canonicalize_dedup",
     ["partial_count"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
      "MapInPandas", "SortMergeJoin", "Window"]),
    # URL survivor selection: the one window partitions by the
    # canonical URL (millions of small groups), then a partial+final
    # per-source agg — no Python, no pair join, no global sort beyond
    # the result orderBy (structural loop)
    ("url_dedup_survivors",
     ["Window", "hashpartitioning(canon", "partial_count"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
      "MapInPandas", "SortMergeJoin"]),
    # domain concentration: eTLD+1 via the PSL rule-table engine over
    # DISTINCT hosts (rule table BROADCAST — never shuffled: no
    # hashpartitioning(rule); the candidate prevail collapses
    # map-side as partial_max), host→domain map joins back, per-domain
    # partial+final agg, one-row total broadcasts back (BNLJ),
    # TakeOrdered cut — never a global sort
    ("domain_distribution_report",
     ["partial_count", "partial_max", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
      "MapInPandas", "Window", "rangepartitioning(",
      "hashpartitioning(rule", "SortMergeJoin"]),
    # PSL rule engine: candidate explode is a narrow projection; the
    # rule table is the broadcast side of the one join; prevailing-rule
    # max collapses map-side; result orderBy is the only range exchange
    # (structural loop)
    ("psl_domain_extract",
     ["BroadcastHashJoin", "partial_max"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
      "MapInPandas", "SortMergeJoin", "hashpartitioning(rule"]),
    # stratified gate: skew-proof rank — row_number windows partition
    # by (source, bucket) with broadcast bounds/offset/total joins;
    # never a source-only window (one giant source = one task) and
    # never a global sort
    ("stratified_quality_sample",
     ["hashpartitioning(source", "Window", "BroadcastHashJoin"],
     ["rangepartitioning(", "CartesianProduct"]),
    # equi-depth histogram: one 9-element cut broadcast; the scan never
    # shuffles for classification — only the 10-group count exchanges.
    # The rank walk's cumulative window must partition by the range
    # bucket (rank_stats._bucketed_cum), never a single-task window —
    # the r5 `weak` mark, now checked structurally for every name in
    # NO_SINGLE_TASK_WINDOW (the old hashpartitioning(1, substring is
    # dead in Spark 4.1: see window_over_single_partition)
    ("equi_depth_histogram",
     ["partial_count", "partial_min", "hashpartitioning(bucket"],
     ["rangepartitioning(", "SortMergeJoin", "partial_percentile(",
     ]),
    # exact percentile WITHOUT the single-state buffer: rank walk is
    # partial+final aggregates + (group, bucket)-partitioned windows
    ("percentiles_distributed",
     ["partial_count", "partial_sum", "hashpartitioning(l_returnflag"],
     ["partial_percentile(", "ObjectHashAggregate", "CartesianProduct",
     ]),
    # approx quantile twins: the sketch aggregates partially (bounded
    # mergeable KLL state, partial+final); the exact percentile's
    # full-column single-state buffer must never appear in these plans
    ("percentiles_approx",
     ["partial_approx_percentile"],
     ["partial_percentile(", "CartesianProduct"]),
    ("equi_depth_histogram_approx",
     ["partial_approx_percentile", "partial_sum"],
     ["partial_percentile(", "SortMergeJoin"]),
    # real-codec round trip: scan -> synth kernel -> decode kernel in
    # ONE stage — payload bytes never cross an exchange
    ("multimodal_real_codec",
     ["MapInPandas"],
     ["Exchange", "CartesianProduct"]),
    # q16: denylist anti-joins (broadcast) BEFORE the distinct agg
    ("q16_supplier_cnt",
     ["LeftAnti", "BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "SortMergeJoin"]),
    # q20: one (suppkey,partkey) exchange computes both aggregates;
    # the chain stays semi joins
    ("q20_promotion_suppliers",
     ["LeftSemi", "partial_max"],
     ["CartesianProduct", "SortMergeJoin"]),
    # interval overlap: grid cells explode (Generate) and the join is
    # HASH-keyed on the cell — the overlap predicate must never plan
    # as a nested-loop theta join
    ("interval_overlap_join",
     ["Generate"],
     ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # z-order: bounds are a one-row broadcast; z-code + cells stay
    # per-row expressions (no extra exchange, no range partitioning)
    ("zorder_layout",
     ["partial_min", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "rangepartitioning("]),
    # incremental maintenance: base partials come from the
    # materialization boundary (InMemoryTableScan), merged by union +
    # re-agg — never a rescan-and-join of raw base rows
    ("incremental_agg_merge",
     ["InMemoryTableScan", "Union", "partial_sum"],
     ["CartesianProduct", "SortMergeJoin"]),
    # rollup hierarchy: every level re-aggregates the finer level
    # (chained partial+final), one raw scan, no range partitioning
    ("multi_granularity_rollup",
     ["partial_count", "partial_sum", "Union"],
     ["CartesianProduct", "rangepartitioning("]),
    # constraint gate: uniqueness via one aggregate (never a
    # self-join), FK orphans via anti joins
    ("constraint_check_report",
     ["LeftAnti", "partial_count", "Union"],
     ["CartesianProduct", "rangepartitioning("]),
    # native gap sessions: the engine's session-merge aggregation on
    # ONE user_id shuffle — no window function, no lag materialization
    ("session_window_native",
     ["MergingSessions", "hashpartitioning(user_id", "partial_count"],
     ["Window", "CartesianProduct"]),
    # winsorization composes the rank walk — still no single-state
    # percentile buffer anywhere
    ("winsorized_stats",
     ["partial_count", "BroadcastHashJoin"],
     ["partial_percentile(", "CartesianProduct",]),
    # MAD outliers: two chained rank walks, still distinct-value-sized
    # state only
    ("robust_outlier_report",
     ["partial_count", "BroadcastHashJoin"],
     ["partial_percentile(", "CartesianProduct",]),
    # span dedup: duplicate detection is a partial+final agg on the
    # 8-byte window fingerprint; the merge is a per-doc window — never
    # a quadratic pair path
    ("dup_spans_merged",
     ["partial_count", "Window"],
     ["CartesianProduct"]),
    ("span_dup_ratio", ["partial_count"], ["CartesianProduct"]),
    # k-means assignment: centroids broadcast (k rows — nested-loop is
    # the right physical form), winner selection via the rank-limit
    # pushdown, corpus never shuffled for the distance step
    ("kmeans_assign",
     ["BroadcastNestedLoopJoin", "WindowGroupLimit"],
     ["CartesianProduct", "SortMergeJoin"]),
    ("kmeans_cluster_sizes", ["HashAggregate"], ["CartesianProduct"]),
    # SemDeDup: the within-cluster pair search is an EQUI-join on the
    # cluster id (co-located SMJ), never an all-pairs nested loop
    ("semantic_dedup",
     ["SortMergeJoin", "partial_"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # bloom semi-join reduction: the bit-test filter must be present on
    # the fact side (shiftrightunsigned probe), the one-row filter
    # arrives by broadcast, and the exact join stays a hash join
    ("bloom_pruned_join",
     ["shiftrightunsigned", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "bit_or"],
     ["CartesianProduct"]),
    # PQ: codebook joins broadcast (128 rows), code winner via the
    # rank-limit pushdown, candidate cut is a TakeOrdered (never a
    # global sort), no quadratic path anywhere
    ("pq_encode",
     ["BroadcastHashJoin", "WindowGroupLimit", "partial_"],
     ["CartesianProduct", "SortMergeJoin"]),
    ("pq_ann_search",
     ["TakeOrderedAndProject", "BroadcastHashJoin", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "rangepartitioning("]),
    # BM25: corpus stats and per-token df arrive by broadcast, the
    # final cut is a TakeOrdered, aggregation is partial+final
    ("bm25_search",
     ["TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    # market basket: co-located equi self-join + TakeOrdered, never a
    # cross product or a global sort
    ("copurchase_pairs",
     ["TakeOrderedAndProject", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    # sliding windows: ONE exchange (Expand generates the 2 window
    # copies map-side, partial agg combines before the shuffle)
    ("sliding_window_counts", ["Expand", "partial_count"], ["CartesianProduct"]),
    # unpivot: the Expand is zero-shuffle; one partial+final agg
    ("unpivot_metrics", ["Expand", "partial_count"], ["CartesianProduct"]),
    # PIT join: one window pass carries all features — exactly one
    # user_id partitioning, no as-of per-feature join cascade
    ("feature_store_pit",
     ["Window", "hashpartitioning(user_id", "partial_"],
     ["CartesianProduct", "SortMergeJoin"]),
    # analytic ranks: nation-partitioned window after a broadcast dim
    # join; never a global (empty-partition) window
    ("window_ntile_ranks",
     ["Window", "BroadcastHashJoin", "hashpartitioning(c_nationkey"],
     ["CartesianProduct"]),
    # profilers: single-scan partial+final aggregates; the skew top-k
    # is a TakeOrdered over key counts
    ("skew_profile",
     ["TakeOrderedAndProject", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    ("table_profile", ["Expand", "partial_"], ["CartesianProduct"]),
    # uniform rate limiter: one source-partitioned window with the
    # rank-limit pushdown
    ("per_source_cap",
     ["WindowGroupLimit", "hashpartitioning(source"],
     ["CartesianProduct"]),
    # tokenizer ops: generate + partial agg + TakeOrdered
    ("bpe_pair_merges",
     ["Generate", "TakeOrderedAndProject", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    ("vocab_coverage",
     ["TakeOrderedAndProject", "partial_count"],
     ["CartesianProduct"]),
    # ER: converged label table is checkpointed (plan must NOT nest the
    # CC iterations — a deep-lineage plan re-analyzes every round);
    # survivorship is one component-partitioned window
    ("entity_resolution",
     ["Window", "hashpartitioning(entity_id", "Scan ExistingRDD"],
     ["CartesianProduct"]),
    # pooled doc embeddings: index scan (checkpointed memo) +
    # partial+final per-dim means
    ("doc_embeddings_pooled",
     ["partial_", "Generate"],
     ["CartesianProduct", "SortMergeJoin"]),
    # join-strategy hint surface: the shuffle_hash hint must yield the
    # SHUFFLED hash join (no sort), the one physical join strategy no
    # other query exercises
    ("shuffle_hash_join_agg",
     ["ShuffledHashJoin", "partial_count"],
     ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"]),
    # phrase search: adjacency via equi-joins on (doc, pos) only
    ("phrase_search", ["partial_count"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # --- corpus-statistics quality pack (lm_quality.py). Size-independent
    # invariants only: generate + partial aggregation, no cartesian, no
    # range shuffle — broadcast vs SMJ on the grown-with-corpus prob/gram
    # tables is AQE's size call at test scale (the code never hints it). ---
    # bigram LM: JVM-side bigram explode, partial-agg counts
    ("lm_perplexity_scores",
     ["Generate", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    # boilerplate grams: ONE corpus explode + partial counts; document
    # frequency is a window count over the pre-aggregated doc-gram
    # table — no self-join, so no second Generate pass
    ("boilerplate_ngram_report",
     ["Generate", "partial_count", "partial_sum", "Window"],
     ["CartesianProduct", "rangepartitioning(", "SortMergeJoin"]),
    # CMS: union of D projections, partial bucket sums, min-merge
    ("heavy_hitters_cms",
     ["Union", "partial_sum", "partial_min"],
     ["CartesianProduct", "rangepartitioning("]),
    # time-weighted avg: one window pass on the user partition, then
    # partial+final aggregation — no second shuffle beyond user_id
    ("time_weighted_avg",
     ["Window", "hashpartitioning(user_id", "partial_sum"],
     ["CartesianProduct", "rangepartitioning("]),
    # embedding outliers: posexplode + partial centroid avg + one
    # label-partitioned window for the decile cut
    ("embedding_outlier_report",
     ["Generate", "partial_avg", "Window"],
     ["CartesianProduct"]),
    # table checksum: one narrow scan + one 64-group partial+final agg;
    # the additive checksum must combine map-side
    ("table_checksum_report",
     ["partial_sum", "partial_count", "HashAggregate"],
     ["CartesianProduct", "rangepartitioning(", "SortMergeJoin", "Window"]),
    # --- behavioral-analytics pack (behavior.py) ---
    # gaps-and-islands: map-side distinct (partial agg) feeds ONE
    # user-partitioned window; island detection is a subtraction,
    # never a self-join
    ("activity_streaks",
     ["Window", "hashpartitioning(user_id", "partial_count"],
     ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # transition matrix: one lag window on user_id + partial counts
    ("event_transition_matrix",
     ["Window", "hashpartitioning(user_id", "partial_count"],
     ["CartesianProduct", "SortMergeJoin"]),
    # last-touch: window form, NOT the purchases×events point-in-time
    # self-join
    ("attribution_last_touch",
     ["Window", "hashpartitioning(user_id", "partial_count"],
     ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # cumulative distinct: first-occurrence row_number + running sum —
    # two window partitionings on custkey-rooted keys, no
    # distinct-per-frame rescan, no join beyond the fact equi join
    ("cumulative_distinct_parts",
     ["Window", "hashpartitioning(o_custkey", "partial_sum"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Welch A/B: single conditional partial+final aggregation pass;
    # no arm-vs-arm join, no window
    ("ab_test_welch",
     ["HashAggregate", "partial_count"],
     ["CartesianProduct", "Window", "rangepartitioning("]),
    # collocations: ONE JVM bigram explode (Generate), partial counts;
    # the only cross join is the one-row totals broadcast
    ("collocation_pmi",
     ["Generate", "partial_count"],
     ["CartesianProduct", "rangepartitioning("]),
    # LATERAL + LIMIT decorrelates to a window filter, never a
    # per-group rescan loop or a cartesian
    ("sql_lateral_topk",
     ["Window"],
     ["CartesianProduct"]),
    # listagg: window pre-filter caps the aggregate input at k×groups;
    # dimension join broadcasts
    ("listagg_top_customers",
     ["Window", "BroadcastHashJoin"],
     ["CartesianProduct"]),
    # transpose executes its (partial+final agg) input eagerly and the
    # flipped matrix is a bounded LOCAL table — metrics × flags rows,
    # never a distributed plan to mis-shape
    ("transpose_pricing_matrix",
     ["LocalTableScan"],
     ["CartesianProduct", "Exchange"]),
    # BPE iteration 2: pair explode + partial counts + top-k without a
    # global sort; the merge pair rides a one-row broadcast
    ("bpe_apply_first_merge",
     ["Generate", "partial_count", "TakeOrderedAndProject"],
     ["CartesianProduct", "rangepartitioning("]),
    # minhash eval: three O(1)-row aggregates composed by one-row
    # broadcast crosses; both member pipelines keep their equi-key
    # joins (no quadratic path enters through the composition)
    ("minhash_eval_report",
     ["HashAggregate", "BroadcastNestedLoopJoin"],
     ["CartesianProduct"]),
    # lang confusion: one pair count + one label-partitioned window
    ("lang_id_confusion",
     ["partial_count", "Window"],
     ["CartesianProduct", "SortMergeJoin"]),
    # temperature mixing: per-source partial sums crossed with the
    # one-row normalizer broadcast (the q11 shape)
    ("source_mix_temperature",
     ["partial_sum", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "Window", "SortMergeJoin"]),
    # k-anonymity: two chained aggregations, nothing else
    ("k_anonymity_report",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "Window", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # DSIR: one token explode + hash PINNED as the occurrence table
    # (four consumers — raw/target buckets, totals, per-doc sums — so
    # the registered plan reads the checkpoint, not a re-explode),
    # bucket aggregations, and the O(64)-row importance table broadcast
    # back onto the occurrence stream — the hashed feature space makes
    # the broadcast safe by construction
    ("dsir_importance_report",
     ["partial_count", "BroadcastHashJoin"],
     ["CartesianProduct", "rangepartitioning("]),
    # pipe syntax parses to the same physical plan as the nested form:
    # filter reaches the scan, aggregation is partial+final
    ("sql_pipe_syntax",
     ["PushedFilters: [IsNotNull(l_shipdate)", "partial_count"],
     ["CartesianProduct"]),
    # ewma: partial collect before the single user_id exchange; the
    # fold is a codegen expression, not a window or a Python kernel
    ("ewma_user_value",
     ["ObjectHashAggregate", "hashpartitioning(user_id"],
     ["CartesianProduct", "Window", "MapInPandas"]),
    # applyInArrow: the Arrow-native grouped kernel after one exchange
    ("arrow_group_stats",
     ["FlatMapGroupsInArrow", "hashpartitioning(event_type"],
     ["CartesianProduct", "Window"]),
    # audio energy: chained MapInPandas in ONE stage — payload bytes
    # never cross an exchange
    ("multimodal_audio_energy",
     ["MapInPandas"],
     ["Exchange", "CartesianProduct", "Window"]),
    # containment decontamination: benchmark postings + sizes broadcast;
    # the 100 TB corpus side probes in place, never cross-joins
    ("contamination_containment",
     ["BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "SortMergeJoin"]),
    # leakage-safe split: per-row hash on the cluster label + one
    # partial/final agg; the CC label table is memoized, not recomputed
    ("leakage_safe_split",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "rangepartitioning("]),
    # weighted reservoir: per-partition top-k heaps, single merge —
    # no global sort, no shuffle of the full corpus
    ("weighted_reservoir_sample",
     ["TakeOrderedAndProject"],
     ["rangepartitioning(", "CartesianProduct", "Window"]),
    # PCA: the visible plan is the post-checkpoint eigensolve (the
    # covariance explode runs once behind localCheckpoint); partial
    # aggregation on the matvec, no Python kernels, no global sort
    ("pca_power_iteration",
     ["partial_sum"],
     ["MapInPandas", "CartesianProduct"]),
    # NB classifier: token explode + partial-agg counts; one window
    # argmax per doc — never a sort-based aggregation
    ("nb_lang_classifier",
     ["partial_count", "Window", "Generate"],
     ["CartesianProduct", "SortAggregate"]),
    # OLS: ONE partial+final moment aggregation and a scalar project —
    # no join, no window, no second pass over the fact table
    ("ols_price_model",
     ["partial_sum", "HashAggregate"],
     ["CartesianProduct", "Window", "SortMergeJoin", "BroadcastHashJoin"]),
    # IRLS logreg: the visible plan is the scoring pass over the
    # checkpointed feature projection against the pinned 1-row beta —
    # partial+final moment sums, broadcast of the 1-row state, no
    # Python kernels, no sort/window anywhere in the training walk
    ("logreg_irls_doc_model",
     ["partial_sum", "HashAggregate"],
     ["Window", "SortMergeJoin", "MapInPandas", "rangepartitioning("]),
    # OOF target encoding: one partial+final (source, fold) pass; the
    # encoding applies over the tiny broadcast table — no corpus join,
    # no window, no Python
    ("target_encoding_oof",
     ["partial_count", "BroadcastHashJoin"],
     ["Window", "SortMergeJoin", "MapInPandas", "rangepartitioning("]),
    # chi2 selection: doc-distinct explode -> vocabulary-sized shuffle
    # agg (never broadcast), one-row margins, TakeOrdered top-K — no
    # global sort, no corpus-side join
    ("chi2_token_selection",
     ["partial_sum", "TakeOrderedAndProject", "Generate"],
     ["SortMergeJoin", "MapInPandas", "rangepartitioning("]),
    # VARIANT extraction: parse+typed-get are codegen expressions over
    # the scan; one partial+final agg, nothing else
    ("variant_typed_extract",
     ["partial_count", "HashAggregate"],
     ["Window", "SortMergeJoin", "MapInPandas", "BroadcastHashJoin",
      "rangepartitioning("]),
    # SQL UDFs inline into codegen: the plan must be a plain
    # partial+final hash aggregate with ZERO Python/Arrow evaluation
    # nodes — the point of the declarative extensibility surface
    ("sql_udf_revenue",
     ["partial_sum", "HashAggregate"],
     ["BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDTF"]),
    # seasonal baseline: one partial+final moment pass -> broadcast of
    # the bounded 168-row bucket table over the flag scan; no window,
    # no sort, no Python
    ("seasonal_anomaly_report",
     ["partial_count", "BroadcastHashJoin", "HashAggregate"],
     ["Window", "SortMergeJoin", "MapInPandas", "rangepartitioning("]),
    # perceptual-hash image dedup: decode + hash kernels (MapInPandas),
    # then the SimHash pigeonhole plan — band-keyed equi join only,
    # never a quadratic pair path
    ("image_phash_pairs",
     ["MapInPandas", "Generate"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "Window",
      "rangepartitioning("]),
    # incremental dedup: band-keyed equi joins only; the verify join is
    # hash-keyed on the 8-byte shingle hash — no quadratic fallback
    ("incremental_minhash_delta",
     ["HashAggregate"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "rangepartitioning("]),
    # CMS join-cardinality: the sketch side collapses map-side into
    # D×W groups (partial agg); no window, no sort, no Python
    ("join_cardinality_cms",
     ["partial_count", "HashAggregate"],
     ["Window", "rangepartitioning(", "MapInPandas", "SortMergeJoin"]),
    # Poisson bootstrap: all B replicate accumulators are COLUMNS of
    # one partial+final global aggregate over a single scan (no ×B row
    # explode of the fact table); the only Generate left is the 1-row
    # unpack of the B accumulator structs — no key shuffle, no join on
    # the fact side, no Python kernel
    ("bootstrap_ci_revenue",
     ["Generate", "partial_sum"],
     ["Window", "SortMergeJoin", "MapInPandas", "CartesianProduct"]),
    # LPA: edge-keyed joins + vertex-keyed argmax windows only; the
    # checkpointed edge table keeps the lineage linear per round
    ("label_propagation_communities",
     ["Window", "partial_count"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # image stats: chained MapInPandas in ONE stage — pixel bytes never
    # cross an exchange; the even-doc filter reaches the parquet scan
    ("multimodal_image_stats",
     ["MapInPandas"],
     ["Exchange", "CartesianProduct", "Window"]),
    # resize: same chained-kernel shape — payload bytes never shuffle
    ("multimodal_image_resize",
     ["MapInPandas"],
     ["Exchange", "CartesianProduct", "Window"]),
    # AUC: corpus collapses to the distinct-score table by partial agg
    # FIRST; the rank window runs over that bounded table only (its
    # range exchange is score-grid-sized, like balanced_shards' 64 rows)
    ("quality_auc_by_lang",
     ["partial_sum", "Window"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin"]),
    # bucketed aggregation: the groupBy key IS the bucketing key — the
    # whole plan is scan + partial/final agg with ZERO exchanges
    ("bucketed_agg_revenue",
     ["HashAggregate"],
     ["Exchange", "CartesianProduct", "Window", "SortAggregate"]),
    # KM survival: events collapse per-user then per-lifetime BEFORE any
    # window; the cumulative windows run on the bounded lifetime table
    ("km_survival_curve",
     ["partial_min", "Window"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin"]),
    # KS: the two samples collapse to the distinct-cents table by ONE
    # partial agg; the cumulative counts run as per-range-bucket windows
    # (hashpartitioning(bucket) — parallel) + a 64-row offset table; the
    # only SinglePartition exchange in the plan is that bounded table's
    ("ks_test_priority_revenue",
     ["partial_sum", "Window", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin"]),
    # PSI: 10-bin partial agg; the bounds row broadcasts back — no
    # window at all, no global sort
    ("psi_value_drift",
     ["partial_sum"],
     ["CartesianProduct", "Window", "MapInPandas", "rangepartitioning("]),
    # Mann-Whitney: same bucketed rank walk as KS — cumulative windows
    # run per range bucket, never over one global partition
    ("mannwhitney_priority_revenue",
     ["partial_sum", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # Spearman: both rank tables come from bucketed walks; the small
    # quantity rank table broadcasts back onto the fact rows
    ("spearman_qty_price",
     ["partial_count", "BroadcastHashJoin", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "rangepartitioning("]),
    # MAD: two lower-median rank walks; medians broadcast back as
    # one-row tables (BroadcastNestedLoopJoin is the bounded crossJoin)
    ("mad_outlier_orders",
     ["partial_count", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "rangepartitioning("]),
    # corpus entropy/JS/vocab: pure partial+final agg chains keyed by
    # (group, token) — no windows, no joins, no Python workers
    ("token_entropy_by_lang",
     ["partial_count"],
     ["CartesianProduct", "Window", "MapInPandas", "SortMergeJoin"]),
    ("js_divergence_en_de",
     ["partial_sum"],
     ["CartesianProduct", "Window", "MapInPandas", "SortMergeJoin"]),
    ("vocab_growth_by_source",
     ["partial_count"],
     ["CartesianProduct", "Window", "MapInPandas", "SortMergeJoin"]),
    # containment: postings self-join keyed on the shingle; per-source
    # totals broadcast back; never an all-pairs document product
    ("source_shingle_containment",
     ["partial_count", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas"]),
    # Gini/Zipf: group-wise bucketed rank walks — windows partitioned by
    # (source, bucket), bounds/offsets broadcast, no global sort
    ("token_gini_by_source",
     ["partial_count", "hashpartitioning(source"],
     ["CartesianProduct", "MapInPandas"]),
    ("zipf_slope_by_source",
     ["partial_count", "hashpartitioning(source"],
     ["CartesianProduct", "MapInPandas"]),
    # stump: histogram-candidate search — one partial+final agg into
    # ≤48 groups, broadcast triangular candidate join, TakeOrdered(1)
    ("decision_stump_lang",
     ["partial_count", "TakeOrderedAndProject", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas", "Window",
      "rangepartitioning("]),
    # partition pruning: the lang predicate must land in the scan's
    # PartitionFilters (directory-level skip), never a post-scan Filter
    ("partitioned_scan_prune",
     ["PartitionFilters: [isnotnull(lang", "= en)", "partial_count"],
     ["CartesianProduct", "Window", "MapInPandas"]),
    # Benford: one partial+final agg into 9 digit groups; the chi-2 and
    # total rows broadcast back (bounded BNLJ crossJoins only)
    ("benford_first_digit",
     ["partial_count"],
     ["Window", "MapInPandas", "SortMergeJoin",
      ]),
    # ACF: stream collapses to the bounded hourly table; lag joins are
    # hash joins on the hour key; no per-row window, no global sort
    ("hourly_autocorrelation",
     ["partial_sum"],
     ["Window", "MapInPandas", "CartesianProduct",
      "rangepartitioning("]),
    # CV OLS: one moment pass (partial+final) + the 5-row beta table
    # broadcast back onto the fact rows; bounded one-row BNLJ crossJoins
    ("ols_cv_rmse",
     ["partial_sum", "BroadcastHashJoin"],
     ["CartesianProduct", "SortMergeJoin", "Window", "MapInPandas",
      ]),
    # trend pair: the all-pairs comparison rides a broadcast
    # nested-loop over the BOUNDED hours table — never a cartesian of
    # data-sized inputs, no global sort
    ("mann_kendall_hourly",
     ["partial_sum", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "MapInPandas", "Window",
      "rangepartitioning("]),
    ("theil_sen_hourly",
     ["partial_count", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "MapInPandas", "rangepartitioning("]),
    # GROUP BY ALL: inference must still plan as a plain partial+final
    ("sql_group_by_all",
     ["partial_count"],
     ["CartesianProduct", "Window", "MapInPandas",
      "rangepartitioning("]),
    # MI: cell counts join the token marginal on the token key; the
    # lang marginal and the total broadcast; no windows, no Python
    ("token_lang_mi",
     ["partial_sum"],
     ["CartesianProduct", "Window", "MapInPandas"]),
    # centroid cosine: bounded centroid table self-joins via broadcast
    ("label_centroid_similarity",
     ["partial_sum", "BroadcastHashJoin"],
     ["CartesianProduct", "Window", "MapInPandas", "SortMergeJoin"]),
    # Kruskal-Wallis: same bucketed rank walk as Mann-Whitney — the
    # cumulative window is partitioned by range bucket (parallel), the
    # k-group pivot is one partial+final agg into one row
    ("kruskal_wallis_priority",
     ["partial_sum", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # CUSUM: cumulative sums ride the bucketed walk over the bounded
    # hours table (the window MUST be bucket-partitioned, never
    # global); max/argmax and moments are partial+final aggs with
    # one-row broadcast crossJoins only
    ("cusum_changepoint_hourly",
     ["partial_sum", "windowspecdefinition(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # seq3 mining: both leads share ONE user_id window shuffle, the
    # trigram count collapses partial+final, top-K is TakeOrdered —
    # never a global sort
    ("event_seq3_support",
     ["TakeOrderedAndProject", "hashpartitioning(user_id"],
     ["CartesianProduct", "MapInPandas", "rangepartitioning("]),
    # RFM: quintile cuts ride the bucketed rank walk (bucket-partitioned
    # windows only); the three one-row cut tables broadcast back onto
    # the per-customer table; segment rollup is partial+final
    ("rfm_quintile_segments",
     ["partial_count", "windowspecdefinition(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # Cochran-Armitage: ONE partial+final moment aggregation over the
    # scan — no joins, no windows, no exchanges beyond the final gather
    ("cochran_armitage_trend",
     ["partial_count", "partial_sum"],
     ["CartesianProduct", "MapInPandas", "Window", "SortMergeJoin",
      "BroadcastHashJoin", "rangepartitioning("]),
    # dynamic partition pruning: the runtime-derived shard dim MUST
    # land in the fact scan's PartitionFilters as a dynamicpruning
    # subquery (directory skip decided at run time), dim broadcast
    ("dpp_join_prune",
     ["dynamicpruningexpression", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas", "Window", "SortMergeJoin",
      "rangepartitioning("]),
    # per-group MAD: both order statistics ride the GROUP-WISE rank
    # walk — every window is (lang, bucket)-partitioned, the ≤|langs|
    # median/MAD tables broadcast back; no global or per-group
    # single-task window
    ("grouped_mad_doclen",
     ["partial_count", "windowspecdefinition(lang"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # Wilcoxon: AM/PM pairing is a hash join on (day, slot) over the
    # bounded hour grid; |d| ranks ride the bucketed walk
    ("wilcoxon_ampm_hourly",
     ["partial_sum", "windowspecdefinition(bucket"],
     ["CartesianProduct", "MapInPandas", "rangepartitioning("]),
    # burstiness: bounded (type, hour) grid from broadcast bounds×types;
    # exact integer moments partial+final — no windows, no Python
    ("burstiness_by_type",
     ["partial_count", "partial_sum"],
     ["CartesianProduct", "MapInPandas", "Window",
      "rangepartitioning("]),
    # median CI: ONE bucketed walk serves median and both CI order
    # statistics (broadcast one-row index bounds)
    ("median_ci_orders",
     ["partial_count", "windowspecdefinition(bucket"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # bitext mining: non-EN side broadcast (BNLJ cross is the bounded
    # knn_exact shape), both argmaxes are partial+final max(struct)
    # aggs — no corpus-wide window, no sort
    ("bitext_mining_pairs",
     ["BroadcastNestedLoopJoin", "partial_max"],
     ["CartesianProduct", "MapInPandas", "Window",
      "rangepartitioning("]),
    # matryoshka eval: probes broadcast, slice() scored JVM-side, the
    # per-probe windows run on probe-keyed survivor tables only
    ("matryoshka_recall_report",
     ["BroadcastNestedLoopJoin", "hashpartitioning(probe_id"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin",
      "rangepartitioning("]),
    # MK panel: the per-group all-pairs comparison is a HASH join on
    # the group key over the bounded day grid (da<db residual), never
    # a cartesian of data-sized inputs; S and ties are partial+final
    ("mann_kendall_daily_by_priority",
     ["partial_sum", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas", "Window",
      "rangepartitioning("]),
    # quality funnel: one scan, pure per-row codegen into a partial+final
    # (source, stage) agg — no join, no per-doc window, nothing Python
    ("quality_funnel_report",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "MapInPandas", "SortMergeJoin", "BatchEvalPython",
      "rangepartitioning("]),
    # MERGE apply: ONE full outer join on the merge key, partial+final
    # audit agg — no cartesian, no python, no sort
    ("merge_upsert_cdc",
     ["FullOuter", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # corr matrix: every pairwise r from ONE moment aggregation —
    # partial+final DECIMAL sums, zero joins over data, zero python
    ("feature_corr_matrix",
     ["partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "SortMergeJoin", "rangepartitioning("]),
    # trigram backoff: model tables join the held-out occurrences on
    # token keys (strategy is AQE's size call — not pinned); the (V,T)
    # scalars ride a one-row broadcast; no python, no range shuffle
    ("trigram_backoff_scores",
     ["partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # DAU/WAU: contribution explode + partial+final distinct counts —
    # never a per-frame distinct window, no python, no range shuffle
    ("rolling_active_users",
     ["partial_count", "Generate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning(", "Window"]),
    # Holt: per-hour pre-agg is the only data-sized pass; the fold runs
    # on the one collected-array row; no python anywhere
    ("holt_forecast_hourly",
     ["partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # quantile normalization: per-source window + integer-j equi-join
    # against the interval-exploded mapping — NEVER a range/theta join
    # (the only BNLJ is the one-row N-total broadcast)
    ("quantile_normalize_scores",
     ["Window", "Generate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython"]),
    # association rules: pair table joins the item margins on the item
    # key; basket self-join keys on l_orderkey; TakeOrdered top rules
    ("association_rules",
     ["TakeOrderedAndProject", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # Mahalanobis: one moment pass broadcast as one row, per-row
    # quadratic form in codegen, per-flag partial+final report
    ("mahalanobis_outlier_report",
     ["partial_sum", "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "SortMergeJoin", "Window", "rangepartitioning("]),
    # CDC chunking: vocabulary-sized Arrow hash pass, doc-partitioned
    # chunk-assignment window, two fingerprint aggs — no range shuffle
    ("cdc_chunk_dedup",
     ["ArrowEvalPython", "Window", "partial_count"],
     ["CartesianProduct", "MapInPandas",
      "rangepartitioning("]),
    # hourly percentile bands: group-wise rank walk — windows keyed by
    # (hod, bucket), never a single global sort
    ("hourly_value_percentiles",
     ["Window", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # forecast backtest: per-hour pre-agg only; fold + errors on the
    # one collected bounded row, zero python
    ("holt_backtest_mase",
     ["partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # recommender eval: item-keyed joins + per-basket bounded window;
    # the only BNLJs are the one-row report crossJoins
    ("rules_hitrate_eval",
     ["Window", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # INTERSECT ALL: planned as counted aggregation + generate — no
    # distinct collapse, no python
    ("setop_intersect_all",
     ["HashAggregate", "Generate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython"]),
    # null-safe join: keeps a hash join strategy (the knownfloatingpoint
    # <=> key is hashable) — never a BNLJ over data
    ("join_null_safe",
     ["Join"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "BroadcastNestedLoopJoin"]),
    # nprobe sweep: probe tables broadcast, a map-side WindowGroupLimit
    # before every per-probe window exchange, exact arm = the knn_exact
    # BNLJ shape (the cached index lineage keeps the build's Arrow
    # assignment, so MapInPandas is not forbidden here)
    ("ivf_nprobe_sweep",
     ["BroadcastHashJoin", "Window"],
     ["CartesianProduct", "BatchEvalPython",
      "rangepartitioning("]),
    # percolator: stored-query postings broadcast onto the doc stream;
    # matching is joins + counted gates, never per-(doc × query) loops
    ("percolate_alerts",
     ["BroadcastHashJoin", "partial_count"],
     ["MapInPandas", "BatchEvalPython"]),
    # l-diversity: two partial+final counts, |QI| work at any n
    ("l_diversity_report",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "SortMergeJoin", "rangepartitioning("]),
    # weighted SP: per-round frontier join + vertex-keyed min — node-
    # sized state, never path-sized; no cartesian, no range shuffle
    ("weighted_shortest_paths",
     ["partial_min"],
     ["CartesianProduct", "BatchEvalPython",
      "rangepartitioning("]),
    # LTTB: bounded anchor tables broadcast, per-bucket max-struct
    # partial+final — no window over the series, no python
    ("lttb_downsample_hourly",
     ["partial_max", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "rangepartitioning("]),
    # LTV triangle: events collapse to the bounded weeks² grid before
    # the cohort-partitioned cumulative window
    ("cohort_ltv_triangle",
     ["Window", "partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # --- round 6 additions ---------------------------------------------
    # SPRT: one partial+final hourly count pass; the LLR walk windows
    # only the bounded hour grid (a lone bounded-window op; no python)
    ("sprt_conversion_hourly",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # seasonal decomposition: contribution explode over a 25-row
    # broadcast offset table, partial+final per-target-hour sums; no
    # window over the series at all
    ("seasonal_decompose_hourly",
     ["partial_sum", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "rangepartitioning("]),
    # JSD: vocabulary-sized partial+final count pass, one-row totals
    # broadcast back, integer nano-bit sum — no window, no python
    ("jsd_lang_drift",
     ["partial_sum", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "rangepartitioning("]),
    # MI ranking: same χ² contingency shape — vocabulary-sized counts,
    # TakeOrdered top-K, never a global sort
    ("mutual_info_tokens",
     ["partial_sum", "TakeOrderedAndProject"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # walk-forward CV: ONE partial+final per-year collapse; folds come
    # from a broadcast join over the bounded year table (the broadcast
    # theta-join over ≤#years×#folds rows is the intended form)
    ("walk_forward_cv_splits",
     ["partial_count", "partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "SortMergeJoin"]),
    # exact AUC: distinct-score collapse + the range-bucketed prefix
    # sum — never the lit(1) single-task window
    ("roc_auc_doc_model",
     ["partial_sum", "hashpartitioning(bucket"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # Brier: two bounded aggregation passes (distinct-(p6,y) and ≤10
    # bins); decomposition terms live on broadcast one-row joins
    ("brier_decomposition",
     ["partial_sum", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "rangepartitioning("]),
    # isotonic PAV: the whole fit is ≤10-row broadcast triangular
    # joins — no window, no loop, no python
    ("isotonic_calibration_pav",
     ["partial_count", "HashAggregate"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
     ]),
    # Fellegi-Sunter: all m/u statistics are vocabulary/group-sized
    # partial+final count passes; the only pair work is the blocked
    # candidate join collapsed map-side onto ≤8 patterns
    ("fs_linkage_scores",
     ["partial_count", "BroadcastHashJoin"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      ]),
    # JL projection: fully codegen'd signed sums (no python), probes
    # broadcast into the scoring joins, top-k via per-probe windows on
    # the probe-keyed table
    ("jl_projection_recall",
     ["hashpartitioning(probe_id", "Window"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # weighted Jaccard: candidate-bound intersection join on the 8-byte
    # hash key; per-doc totals join back under the capped-broadcast-or-
    # shuffle policy (BROADCAST_VOCAB_MAX — the corpus-sized tot table
    # NEVER broadcasts uncapped; at test scale the cap admits it, hence
    # BroadcastHashJoin here) — no all-pairs path, no window
    ("weighted_jaccard_pairs",
     ["partial_sum", "BroadcastHashJoin"],
     ["CartesianProduct", "Window", "rangepartitioning("]),
    # conformal interval: β from one moment pass, q̂ via the bucketed
    # rank walk — never the lit(1) single-task window
    ("conformal_interval_orders",
     ["partial_sum", "hashpartitioning(bucket"],
     ["CartesianProduct",
      "rangepartitioning("]),
    # semantic decon: benchmark side broadcasts into the scoring join
    # (≤N_BENCH rows — nested-loop is the intended physical form at
    # test scale; the 100 TB path swaps in the IVF candidate join);
    # everything downstream is plain partial+final aggregation
    ("semantic_decontamination",
     ["partial_max", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      ]),
    # U-shaped attribution: segment marking + per-(user, seg) ranks are
    # user-keyed windows; touch→purchase is an equi-join, never a
    # purchases×events point-in-time product
    ("attribution_position_based",
     ["hashpartitioning(user_id", "Window", "partial_sum"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      ]),
    # BPE apply: the trained merges are literals in ONE stateless
    # replace-chain projection; everything downstream is |vocab|-sized
    # partial+final aggregation — no python, no window
    ("bpe_segment_stats",
     ["partial_sum", "partial_count"],
     ["CartesianProduct", "Window", "MapInPandas", "BatchEvalPython"]),
    # t-closeness: |QI|-sized partial counts + a one-row global
    # broadcast; EMD is pure projection arithmetic
    ("t_closeness_report",
     ["partial_count"],
     ["CartesianProduct", "Window", "MapInPandas",
      "rangepartitioning("]),
    # Misra-Gries: per-partition Arrow summaries (MapInPandas) run
    # EAGERLY behind a localCheckpoint (so the corpus-sized summary
    # cache can be released — ADVICE r7); the returned plan shows the
    # pinned candidate table (Scan ExistingRDD) broadcast back for the
    # exact recount — the corpus never joins itself and never sorts
    ("misra_gries_heavy_hitters",
     ["Scan ExistingRDD", "BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "Window"]),
    # skyline: strict reverse prefix-max rides the bucketed walk at
    # scale (audit pins the forced-big shape) — never the O(n²)
    # dominance self-join, never a lit(1) window
    ("skyline_customers",
     ["partial_max", "windowspecdefinition(bucket"],
     ["CartesianProduct",
      ]),
    # HITS: per-round keyed join + partial/final sums over the
    # checkpointed edge table; normalization totals broadcast
    ("hits_hubs_authorities",
     ["partial_sum", "TakeOrderedAndProject"],
     ["CartesianProduct", "Window", "rangepartitioning("]),
    # retrieval eval: probes broadcast onto the scan, the map-side
    # WindowGroupLimit keeps the per-probe window off the corpus
    # (survivors only), the label table is a broadcast count — no
    # corpus shuffle anywhere
    ("retrieval_eval_report",
     ["BroadcastHashJoin", "WindowGroupLimit", "Window"],
     ["CartesianProduct", "MapInPandas"]),
    # audio silence runs: chained MapInPandas in ONE stage — payload
    # bytes never shuffle; no row-at-a-time python, no join at all
    ("audio_silence_runs",
     ["MapInPandas"],
     ["CartesianProduct", "BatchEvalPython", "hashpartitioning(",
      "SortMergeJoin", "Window"]),
    # embedding drift: the dims×rows explode collapses map-side to the
    # (half, dim) table — one 128-row shuffle, no window, no python
    ("embedding_drift_monitor",
     ["partial_sum", "TakeOrderedAndProject"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython", "Window",
      "rangepartitioning("]),
    # DBSCAN: the neighbor search is the within-cluster EQUI-join (the
    # SemDeDup candidate policy — never an unblocked pair product);
    # label rounds are equi-joins over the materialized core edge set
    ("dbscan_clusters",
     ["partial_count", "partial_min"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython"]),
    # Page-Hinkley: one partial+final hourly collapse; the PH walk
    # windows only the bounded hour grid — no python, no pair joins
    ("page_hinkley_hourly",
     ["partial_sum", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # --- round 8 additions ---------------------------------------------
    # IVFADC: the deployed codes index is a pinned artifact (Scan
    # ExistingRDD); the ADC scan joins it to the BROADCAST per-probe-
    # cluster LUTs on the cluster key (only probed clusters survive —
    # partition pruning at deployment); the map-side WindowGroupLimit
    # runs BEFORE the probe_id exchange so the candidate table never
    # shuffles in full; re-rank touches ≤ probes × CAND_K rows
    ("ivfpq_search",
     ["Scan ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit",
      "hashpartitioning(probe_id"],
     ["CartesianProduct", "MapInPandas"]),
    ("ivfpq_recall_report",
     ["Scan ExistingRDD", "BroadcastHashJoin", "WindowGroupLimit"],
     ["CartesianProduct", "MapInPandas"]),
    # IVFADC delta upsert: delta-sized crossJoin against the broadcast
    # 16-row centroid table + 128-row codebook assignment; the corpus
    # appears only as the pinned codes artifact (n_base)
    ("ivfpq_delta_upsert",
     ["Scan ExistingRDD", "BroadcastNestedLoopJoin", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython"]),
    # sparse retrieval: term-keyed postings probe the ≤Q_TERMS-row
    # broadcast query; ONE partial+final score agg; TakeOrdered cut —
    # the corpus never sorts and nothing is quadratic
    ("sparse_retrieval_topk",
     ["TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "MapInPandas", "BatchEvalPython",
      "rangepartitioning("]),
    # winnowing: hashing + window-min selection run INSIDE the Arrow
    # kernel (one batch pass of the text, per-doc fingerprint arrays
    # back) — no corpus-sized Generate, no per-document Window shuffle;
    # stats query's final 20-row ORDER BY gets the anchored
    # ≤1-rangepartitioning check instead of the blanket forbid
    # the fingerprint table is PINNED per query (read 2-4x per slot),
    # so the registered plan reads the checkpoint (Scan ExistingRDD);
    # the kernel itself is audited via winnow()'s lineage in
    # tests/test_plans-adjacent checks and the streaming twin
    ("winnowing_fingerprint_stats",
     ["partial_count", "Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython", "Window"]),
    # containment pairs: rare-fingerprint postings join (candidate-
    # bound, the LSH-band discipline) and a TakeOrdered cut — no
    # global sort anywhere
    ("winnowing_containment_pairs",
     ["TakeOrderedAndProject", "partial_count", "Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython", "rangepartitioning(",
      "Window"]),
    # unigram LM (r9 row-local DP): the Viterbi recurrence folds
    # inside ONE codegen'd aggregate over a bounded score-map literal —
    # no Python hop of any kind, no checkpoint chain; the pinned word
    # table reads back as InMemoryTableScan; the M-step is one
    # partial+final sum; the one-row total is a broadcast NLJ; final
    # cut TakeOrdered — the corpus never sorts
    ("unigram_lm_segmentation",
     ["InMemoryTableScan", "TakeOrderedAndProject", "partial_sum",
      "BroadcastNestedLoopJoin"],
     ["CartesianProduct", "BatchEvalPython", "MapInPandas",
      "ArrowEvalPython", "rangepartitioning("]),
    # RM3: the data-dependent expanded term set joins corpus postings
    # via BROADCAST (no static IN list possible); feedback-model
    # estimation is bounded by FB_DOCS; final cut TakeOrdered
    ("rm3_expanded_search",
     ["TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"],
     ["CartesianProduct", "BatchEvalPython", "rangepartitioning(",
      "MapInPandas"]),
    # QL/Dirichlet: candidate×query-term grid via broadcast NLJ of the
    # ≤|Q|-row term table (candidate-bound, never corpus×terms);
    # collection stats one-row broadcast; TakeOrdered cut
    ("ql_dirichlet_search",
     ["TakeOrderedAndProject", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "partial_count"],
     ["CartesianProduct", "BatchEvalPython", "rangepartitioning(",
      "MapInPandas"]),
    # graph-ANN recall report: exact arm = broadcast-probe scan with
    # the map-side WindowGroupLimit cut; approx arm reads the memoized
    # checkpointed walk answer (LogicalRDD). The build/walk lineages
    # get their own un-pinned audit block below (see audit()).
    ("graph_ann_recall_report",
     ["WindowGroupLimit", "Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython", "SortMergeJoin",
      "MapInPandas"]),
    # graph-ANN delta insert: memoized pinned answer (ADVICE r10 — a
    # maintenance batch runs once per delta in deployment), so the
    # registered plan is a bare LogicalRDD; the full walk+shrink
    # lineage gets its own un-pinned audit block below (see audit(),
    # knn_graph_delta_insert[lineage]).
    ("knn_graph_delta_insert",
     ["Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython", "MapInPandas"]),
    # layered descent report: memoized pinned rows; the flat/layered
    # walk lineage is audited un-pinned below
    # (graph_ann_layered_recall[lineage]).
    ("graph_ann_layered_recall",
     ["Scan ExistingRDD"],
     ["CartesianProduct", "BatchEvalPython"]),
]

#: Queries whose fixture-scale plan LEGITIMATELY contains a Window
#: over a SinglePartition exchange — every site is a provably bounded
#: table (K_CLUSTERS centroids, ≤10k distinct 4dp scores, VOCAB_TOP
#: rows, 64-row shard offsets, hour grids, or the rank-stats small
#: path that a large corpus re-plans as bucket windows under
#: SPARK_GRAFT_RANK_SMALL_MAX). tools/plan_report.py checks EVERY
#: registered query against this list each round (r9 verdict task 4):
#: a NEW unpartitioned window fails the report instead of drowning in
#: the bench tail, which is why bench.py may silence the WindowExec
#: log noise. Keep sorted; additions need a bounded-table argument in
#: the owning operator's docstring. (The DISJOINT list below,
#: NO_SINGLE_TASK_WINDOW, asserts the opposite at the PINNED 100-TB
#: threshold — both can hold for one query: the small path windows
#: locally at fixture scale, the big path must not.)
BOUNDED_SINGLE_PARTITION_WINDOWS = frozenset({
    "balanced_shards",
    "conformal_interval_orders",
    "corpus_build_pipeline",
    "equi_depth_histogram",
    "equi_depth_histogram_approx",
    "km_survival_curve",
    "kruskal_wallis_priority",
    "mad_outlier_orders",
    "mannwhitney_priority_revenue",
    "median_ci_orders",
    "quality_auc_by_lang",
    "quantile_normalize_scores",
    "rfm_quintile_segments",
    "roc_auc_doc_model",
    "skyline_customers",
    "spearman_qty_price",
    "sprt_conversion_hourly",
    "stream_roc_auc",
    "stream_sprt_decision",
})

#: Queries whose plan must never run a Window over a SinglePartition
#: exchange (the single-task rank-walk anti-pattern) — checked by
#: audit() under SPARK_GRAFT_RANK_SMALL_MAX=0, the 100-TB plan shape:
#: the former `hashpartitioning(1,` forbids, re-expressed structurally
#: because Spark 4.1 optimizes a foldable window partition spec away
#: and the substring no longer exists in any real plan. These all
#: carry legitimate SinglePartition exchanges (one-row global
#: aggregates), so only the Window-over-SinglePartition COMPOSITION
#: is forbidden.
NO_SINGLE_TASK_WINDOW = [
    "equi_depth_histogram",
    "percentiles_distributed",
    "winsorized_stats",
    "robust_outlier_report",
    "roc_auc_doc_model",
    "isotonic_calibration_pav",
    "conformal_interval_orders",
    "skyline_customers",
    "retrieval_eval_report",
]


def audit(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, bool]]:
    import os

    import __spark_entry__ as e

    qs = e.queries()
    results: list[tuple[str, str, bool]] = []
    # The rank walk is adaptive (rank_stats.RANK_SMALL_MAX): at fixture
    # scale every distinct-value table is under the threshold and the
    # cumulative sums run as one local window. The audit's job is the
    # 100 TB shape, so pin the threshold to 0 — every bucketed-walk
    # fragment below is checked on the plan a large corpus would get.
    # The small path has its own checks after the loop.
    prev = os.environ.get("SPARK_GRAFT_RANK_SMALL_MAX")
    os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = "0"
    try:
        plans: dict[str, str] = {}

        def _plan(name: str) -> str:
            if name not in plans:
                plans[name] = plan_of(qs[name](spark, sf_dir))
            return plans[name]

        for name, required, forbidden in CHECKS:
            plan = _plan(name)
            for frag in required:
                results.append((name, f"requires `{frag}`", frag in plan))
            for frag in forbidden:
                results.append((name, f"forbids `{frag}`", frag not in plan))
        # Anchored range-partitioning coverage (ADVICE r7, completed
        # r9): queries whose final output legitimately sorts can't
        # carry the blanket `rangepartitioning(` forbid (the ~10
        # de-vacuized entries: semantic_search_reranked,
        # benford_first_digit, ols_cv_rmse, fs_linkage_scores and
        # peers) — but an INTERIOR range exchange (a global sort
        # feeding more work) is still a scale bug. Structural anchor:
        # a range exchange may appear ONLY under the plan's final
        # result sort (interior_range_partitioning), which is strictly
        # stronger than r8's ≤1-occurrence count (that tolerated one
        # interior global sort in a plan with no result sort).
        blanket = {
            name
            for name, _req, forb in CHECKS
            if any("rangepartitioning(" in f for f in forb)
        }
        for name in sorted({n for n, _r, _f in CHECKS} - blanket):
            results.append((
                name,
                "rangepartitioning only as the result sort (structural)",
                not interior_range_partitioning(_plan(name)),
            ))
        for name in NO_SINGLE_TASK_WINDOW:
            results.append((
                name,
                "forbids Window over SinglePartition exchange (structural)",
                not window_over_single_partition(_plan(name)),
            ))
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_RANK_SMALL_MAX", None)
        else:
            os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = prev
    # Small-path spot checks at the DEFAULT threshold: the local-window
    # branch must engage on fixture-sized count tables (no bucket
    # machinery — that was the ×1.3–×2.0 toy-scale constant) and must
    # never come from a lit(1) hash partitioning.
    for name in ("equi_depth_histogram", "winsorized_stats",
                 "mannwhitney_priority_revenue", "stratified_quality_sample"):
        plan = plan_of(qs[name](spark, sf_dir))
        results.append(
            (name, "small-path forbids `windowspecdefinition(bucket`",
             "windowspecdefinition(bucket" not in plan))
        # the small path's ONE local window runs over the size-gated
        # (≤RANK_SMALL_MAX) cached table — by construction, not over
        # data; the structural check still forbids the composition on
        # any table that ISN'T behind the materialized small gate
        results.append(
            (name, "small-path window input is the cached small table",
             "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan))
    # mmr_diversified_topk returns a driver-assembled SELECT_K-row
    # transcript (LocalTableScan — nothing to audit there); its
    # corpus-scale phase is the candidate cut, so audit THAT plan:
    # broadcast probe, a TakeOrderedAndProject (per-partition top-CAND
    # before its single-partition merge), no global sort of the scored
    # corpus, no Python hop.
    from spec_search_spark.operators.mmr import _candidates

    mmr_plan = plan_of(_candidates(spark, sf_dir))
    for frag in ("TakeOrderedAndProject", "BroadcastHashJoin"):
        results.append(
            ("mmr_diversified_topk[candidates]", f"requires `{frag}`",
             frag in mmr_plan))
    for frag in ("CartesianProduct", "rangepartitioning(", "BatchEvalPython",
                 "MapInPandas"):
        results.append(
            ("mmr_diversified_topk[candidates]", f"forbids `{frag}`",
             frag not in mmr_plan))
    # search_pipeline_e2e's corpus-scale phase is the hybrid pool
    # (both retrieval arms TakeOrdered at arm depth + the pooled-
    # embedding join); the greedy runs driver-side over its ≤ TOP_K
    # rows (LocalTableScan — nothing to audit there). Same pattern as
    # the MMR candidate audit above.
    from spec_search_spark.operators.search_pipeline import _pool

    sp_plan = plan_of(_pool(spark, sf_dir))
    for frag in ("TakeOrderedAndProject", "BroadcastHashJoin"):
        results.append(
            ("search_pipeline_e2e[pool]", f"requires `{frag}`",
             frag in sp_plan))
    for frag in ("CartesianProduct", "BatchEvalPython"):
        results.append(
            ("search_pipeline_e2e[pool]", f"forbids `{frag}`",
             frag not in sp_plan))
    results.append(
        ("search_pipeline_e2e[pool]",
         "rangepartitioning only as the result sort (structural)",
         not interior_range_partitioning(sp_plan)))
    # winnowing / DSIR (ADVICE r11): the registered plans read the
    # PINNED fingerprint/occurrence tables (Scan ExistingRDD), so the
    # kernel-shape checks must run on the un-pinned builders — a
    # regression back to the posexplode+Window form (or a row-at-a-time
    # BatchEvalPython hash) would be invisible in the registered plans.
    from spec_search_spark.operators.lm_quality import _dsir_occ_unpinned
    from spec_search_spark.operators.winnowing import _selected_unpinned

    wn_plan = plan_of(_selected_unpinned(spark, sf_dir))
    for frag in ("ArrowEvalPython", "Generate"):
        # Generate = the per-DOC fingerprint-array explode (bounded by
        # selected fingerprints, not k-gram positions)
        results.append(
            ("winnowing[_selected lineage]", f"requires `{frag}`",
             frag in wn_plan))
    for frag in ("Window", "BatchEvalPython", "posexplode",
                 "CartesianProduct"):
        results.append(
            ("winnowing[_selected lineage]", f"forbids `{frag}`",
             frag not in wn_plan))
    dsir_plan = plan_of(_dsir_occ_unpinned(spark, sf_dir))
    for frag in ("ArrowEvalPython", "Generate"):
        results.append(
            ("dsir_importance_report[occ lineage]", f"requires `{frag}`",
             frag in dsir_plan))
    for frag in ("Window", "BatchEvalPython", "CartesianProduct"):
        results.append(
            ("dsir_importance_report[occ lineage]", f"forbids `{frag}`",
             frag not in dsir_plan))
    # graph-ANN: the registered queries read the memoized checkpointed
    # index (bare LogicalRDD — nothing to audit there), so audit the
    # UN-pinned build and walk lineages directly. Build: cell seeds
    # broadcast (the only BNLJ), within-cell pairs as a cid equi-join,
    # per-node top-M windows keyed by src/vec_id, pure JVM, no global
    # sort. Walk: per-probe windows, bounded frontier joins, range
    # exchange only as the final result sort.
    from spec_search_spark.operators.graph_ann import _build_edges, _search_df

    ga_edges, ga_adj, _ga_memb, _ga_k = _build_edges(
        spark, sf_dir, pin=lambda df: df
    )
    ga_bplan = plan_of(ga_edges)
    for frag in ("windowspecdefinition(src", "hashpartitioning(cid",
                 "BroadcastNestedLoopJoin"):
        results.append(
            ("knn_graph_build[lineage]", f"requires `{frag}`",
             frag in ga_bplan))
    for frag in ("CartesianProduct", "BatchEvalPython", "MapInPandas",
                 "rangepartitioning("):
        results.append(
            ("knn_graph_build[lineage]", f"forbids `{frag}`",
             frag not in ga_bplan))
    results.append(
        ("knn_graph_build[lineage]",
         "forbids Window over SinglePartition exchange (structural)",
         not window_over_single_partition(ga_bplan)))
    ga_splan = plan_of(_search_df(spark, sf_dir, ga_adj))
    for frag in ("windowspecdefinition(probe_id",):
        results.append(
            ("graph_ann_search[lineage]", f"requires `{frag}`",
             frag in ga_splan))
    for frag in ("CartesianProduct", "BatchEvalPython", "MapInPandas"):
        results.append(
            ("graph_ann_search[lineage]", f"forbids `{frag}`",
             frag not in ga_splan))
    results.append(
        ("graph_ann_search[lineage]",
         "rangepartitioning only as the result sort (structural)",
         not interior_range_partitioning(ga_splan)))
    results.append(
        ("graph_ann_search[lineage]",
         "forbids Window over SinglePartition exchange (structural)",
         not window_over_single_partition(ga_splan)))
    # delta insert: hierarchical cell routing + beam walk + per-node
    # shrink (windowspecdefinition(src), never global), reading the
    # pinned graph artifacts; range exchange only as the result sort
    from spec_search_spark.operators.graph_ann import (
        _delta_df,
        _layered_df,
        _seed_graph_edges,
    )

    ga_dplan = plan_of(_delta_df(spark, sf_dir, pin=lambda df: df))
    for frag in ("windowspecdefinition(src", "windowspecdefinition(probe_id",
                 "BroadcastNestedLoopJoin"):
        results.append(
            ("knn_graph_delta_insert[lineage]", f"requires `{frag}`",
             frag in ga_dplan))
    for frag in ("CartesianProduct", "BatchEvalPython", "MapInPandas"):
        results.append(
            ("knn_graph_delta_insert[lineage]", f"forbids `{frag}`",
             frag not in ga_dplan))
    results.append(
        ("knn_graph_delta_insert[lineage]",
         "rangepartitioning only as the result sort (structural)",
         not interior_range_partitioning(ga_dplan)))
    results.append(
        ("knn_graph_delta_insert[lineage]",
         "forbids Window over SinglePartition exchange (structural)",
         not window_over_single_partition(ga_dplan)))
    # layer-1 seed graph: within-super-group pairs (gid equi-join),
    # per-seed top-M1 windows, broadcast super-seeds — same shape
    # contract as the base build
    ga_l1plan = plan_of(
        _seed_graph_edges(spark, sf_dir, pin=lambda df: df)[0]
    )
    for frag in ("windowspecdefinition(src", "hashpartitioning(gid",
                 "BroadcastNestedLoopJoin"):
        results.append(
            ("seed_graph[lineage]", f"requires `{frag}`",
             frag in ga_l1plan))
    for frag in ("CartesianProduct", "BatchEvalPython", "MapInPandas",
                 "rangepartitioning("):
        results.append(
            ("seed_graph[lineage]", f"forbids `{frag}`",
             frag not in ga_l1plan))
    results.append(
        ("seed_graph[lineage]",
         "forbids Window over SinglePartition exchange (structural)",
         not window_over_single_partition(ga_l1plan)))
    # layered recall: per-probe windows throughout, exact arm's
    # map-side WindowGroupLimit cut, no cartesian anywhere; range
    # exchange only as the result sort
    ga_lyplan = plan_of(_layered_df(spark, sf_dir))
    for frag in ("windowspecdefinition(probe_id", "WindowGroupLimit",
                 "BroadcastNestedLoopJoin"):
        results.append(
            ("graph_ann_layered_recall[lineage]", f"requires `{frag}`",
             frag in ga_lyplan))
    for frag in ("CartesianProduct", "BatchEvalPython", "MapInPandas"):
        results.append(
            ("graph_ann_layered_recall[lineage]", f"forbids `{frag}`",
             frag not in ga_lyplan))
    results.append(
        ("graph_ann_layered_recall[lineage]",
         "rangepartitioning only as the result sort (structural)",
         not interior_range_partitioning(ga_lyplan)))
    results.append(
        ("graph_ann_layered_recall[lineage]",
         "forbids Window over SinglePartition exchange (structural)",
         not window_over_single_partition(ga_lyplan)))
    return results


def main() -> int:
    sys.path.insert(0, "/root/repo")
    from spec_search_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    results = audit(spark, sf_dir)
    failed = 0
    for name, check, ok in results:
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {check}")
        failed += 0 if ok else 1
    print(f"\n{failed} plan-audit failures / {len(results)} checks")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
