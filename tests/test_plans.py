"""Physical-plan regression tests: the scale-design invariants
(pushdown, broadcast, partial agg, TakeOrdered) must survive future
edits — a correct-but-shuffle-happy plan is a failure here."""

from __future__ import annotations


def test_plan_audit_all_pass(spark, sf_dir):
    from spec_search_spark.plans.audit import audit

    results = audit(spark, sf_dir)
    failures = [(n, c) for n, c, ok in results if not ok]
    assert not failures, failures


def test_two_phase_topk_single_shuffle(spark, sf_dir):
    """The probe-search queries must run Spark's map-side top-k cut
    (a Partial WindowGroupLimit) BELOW their single shuffle exchange:
    the full scored table never exchanges onto the handful of probe_id
    reducer tasks — only the ≤ k×partitions×probes survivor set does."""
    import re

    from spec_search_spark.operators.graph_ann import _d2e4
    from spec_search_spark.operators.ivf import ivf_ann_search
    from spec_search_spark.operators.ivfpq import (
        CAND_K,
        IVFPQ_NPROBE,
        _adc_scored,
        _d2_6dp,
        _search_at,
    )
    from spec_search_spark.operators.similarity import (
        TOP_K,
        _emb,
        ann_lsh_bucketed,
        exact_knn,
        knn_multi_probe,
        topk_per_probe,
    )
    from spec_search_spark.plans.audit import plan_of

    searches = {
        "knn_multi_probe": knn_multi_probe,
        "ann_lsh_bucketed": ann_lsh_bucketed,
        "ivf_ann_search": ivf_ann_search,
        # ivfpq_search without its (probe_id, rn) result sort, whose
        # range exchange is presentation, not search
        "ivfpq_search": lambda s, d: _search_at(s, d, IVFPQ_NPROBE),
        # the shared exact arm on each oracle grid in use
        "exact_knn[4dp]": lambda s, d: exact_knn(_emb(s, d), TOP_K),
        "exact_knn[6dp]": lambda s, d: exact_knn(_emb(s, d), TOP_K, _d2_6dp),
        "exact_knn[d2e4]": lambda s, d: exact_knn(_emb(s, d), TOP_K, _d2e4),
        # the largest k in use still plans the map-side cut
        "ivfpq_cand_k": lambda s, d: topk_per_probe(
            _adc_scored(s, d, IVFPQ_NPROBE), CAND_K, "approx_d2"
        ),
    }
    for name, fn in searches.items():
        plan = plan_of(fn(spark, sf_dir))
        tree = plan.split("\n\n", 1)[0]
        # exactly one shuffle exchange ("- Exchange (n)"; BroadcastExchange
        # is a different token and InMemoryTableScan subtrees don't count)
        shuffles = re.findall(r"- Exchange \(\d+\)", tree)
        assert len(shuffles) == 1, (name, tree)
        # and the map-side cut sits BELOW it (later in top-down text; the
        # Final WindowGroupLimit above the exchange does not count)
        below = tree[tree.index("- Exchange ("):]
        assert "WindowGroupLimit (" in below, (name, tree)


def test_neardup_banding(spark, sf_dir):
    """embedding_near_dup's candidate generation must (a) prune — the
    banded candidate set is strictly smaller than the raw within-label
    pair count, (b) produce no false positives — every output pair
    passes the exact cosine check (is a subset of the exact all-pairs
    result), and (c) keep recall ≥ 0.8 even on random vectors at the
    loose test threshold (the LSH worst case; production thresholds
    near 1.0 give recall > 0.999)."""
    from pyspark.sql import functions as F

    from spec_search_spark.catalog import load_table
    from spec_search_spark.functions.vector import cosine_similarity
    from spec_search_spark.operators.similarity import (
        COSINE_NEARDUP_THRESHOLD,
        embedding_near_dup,
        neardup_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    block_pairs = sum(
        r["c"] * (r["c"] - 1) // 2
        for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    n_cand = neardup_candidates(spark, sf_dir).count()
    assert 0 < n_cand < block_pairs, (n_cand, block_pairs)

    a, b = emb.alias("a"), emb.alias("b")
    exact = {
        (r["vec1"], r["vec2"])
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.round(cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 4),
        )
        .filter(F.col("cos_sim") >= COSINE_NEARDUP_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec1"), F.col("b.vec_id").alias("vec2"))
        .collect()
    }
    got = {
        (r["vec1"], r["vec2"]) for r in embedding_near_dup(spark, sf_dir).collect()
    }
    assert got <= exact, got - exact          # exact re-check: no false positives
    assert len(got) >= 0.8 * len(exact), (len(got), len(exact))


def test_no_vacuous_forbid_fragments(spark, sf_dir):
    """Every FORBID fragment in the plan audit must be a string that
    CAN appear in real formatted-explain output (VERDICT r7: 103
    forbids like 'Exchange rangepartitioning' never matched because
    formatted mode prints the operator name and its Arguments on
    separate lines — a dead forbid silently passes forever). Each
    distinct fragment must appear in at least one positive-control
    plan built here from constructions known to produce it. REQUIRED
    fragments prove themselves: a require that can't match fails the
    audit outright."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import DataSource, DataSourceReader
    from pyspark.sql.functions import pandas_udf, udf, udtf
    from pyspark.sql.window import Window as W

    from spec_search_spark.catalog import load_table
    from spec_search_spark.plans.audit import CHECKS, plan_of

    frags = {f for _n, _r, forb in CHECKS for f in forb}
    # the small-path spot checks in audit() use this one directly
    frags.add("windowspecdefinition(bucket")

    a = spark.range(200).selectExpr("id % 7 as k", "id % 5 as bucket", "id")
    b = spark.range(50).selectExpr("id % 7 as k", "id as bid")

    @pandas_udf("long")
    def _arrow_inc(s):  # no hints: `from __future__ import annotations`
        return s + 1     # stringifies them and breaks eval-type inference

    _py_inc = udf(lambda x: x + 1, "long")

    def _mip(batches):
        yield from batches

    @udtf(returnType="x: bigint")
    class _Dup:
        def eval(self, v: int):
            yield (v,)
            yield (v + 1,)

    class _OneRow(DataSource):
        @classmethod
        def name(cls):
            return "audit_one_row"

        def schema(self):
            return "x bigint"

        def reader(self, schema):
            return _OneRowReader()

    class _OneRowReader(DataSourceReader):
        def read(self, partition):
            yield (1,)

    spark.dataSource.register(_OneRow)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey")

    controls = [
        a.select(_arrow_inc("id")),                    # ArrowEvalPython
        a.select(_py_inc("id")),                       # BatchEvalPython
        a.join(F.broadcast(b), "k"),                   # BroadcastHashJoin
        a.crossJoin(F.broadcast(b.limit(1))),          # BroadcastNestedLoopJoin
        a.hint("shuffle_replicate_nl").crossJoin(b),   # CartesianProduct
        a.groupBy("k").count(),                        # Exchange + hashpartitioning(
        a.groupBy().agg(F.sum("id")),                  # SinglePartition
        emb.repartition("vec_id"),                     # hashpartitioning(vec_id
        li.repartition("l_orderkey"),                  # hashpartitioning(l_orderkey
        od.repartition("o_orderkey"),                  # hashpartitioning(o_orderkey
        a.mapInPandas(_mip, "k long, bucket long, id long"),  # MapInPandas
        a.groupBy("k").agg(
            F.expr("percentile(id, 0.5)")
        ),                                             # ObjectHashAggregate + partial_percentile(
        _Dup(F.lit(1)),                                # (BatchEval)PythonUDTF
        spark.read.format("audit_one_row").load(),     # BatchScan (Python source)
        a.join(b.hint("merge"), "k"),                  # SortMergeJoin
        a.withColumn(
            "r", F.row_number().over(W.partitionBy("bucket").orderBy("id"))
        ),                                             # Window + windowspecdefinition(bucket
        a.orderBy("k"),                                # rangepartitioning(
        # hashpartitioning(rule — the PSL audit forbid: a shuffle keyed
        # on a column literally named `rule` (the rule table must stay
        # broadcast, never shuffled)
        a.selectExpr("k as rule").groupBy("rule").agg(F.collect_set("rule")),
    ]
    pool = "\n".join(plan_of(df) for df in controls)
    # SortAggregate control planned SEPARATELY: flipping the conf off
    # for the whole pool would also de-objectify the percentile control
    spark.conf.set("spark.sql.execution.useObjectHashAggregateExec", "false")
    try:
        pool += "\n" + plan_of(a.groupBy("k").agg(F.collect_list("id")))
    finally:
        spark.conf.set("spark.sql.execution.useObjectHashAggregateExec", "true")

    missing = sorted(f for f in frags if f not in pool)
    assert not missing, f"dead forbid fragments (no control plan can produce them): {missing}"

    # the STRUCTURAL single-task-window check needs its own positive
    # control: a window over an unpartitioned (SinglePartition) sort
    # must trip it, a bucket-partitioned one must not
    from spec_search_spark.plans.audit import window_over_single_partition

    bad = a.withColumn("r", F.row_number().over(W.orderBy("id")))
    good = a.withColumn(
        "r", F.row_number().over(W.partitionBy("bucket").orderBy("id"))
    )
    assert window_over_single_partition(plan_of(bad))
    assert not window_over_single_partition(plan_of(good))

    # the STRUCTURAL interior-range-exchange check likewise: a global
    # sort FEEDING MORE WORK (agg above it) must trip it, a final
    # result orderBy (with or without a presentation projection) must
    # not, and a plan with no range exchange at all must not
    from spec_search_spark.plans.audit import interior_range_partitioning

    # (a plain orderBy below an agg would be eliminated by Catalyst's
    # EliminateSorts — force the interior range exchange explicitly)
    interior = a.repartitionByRange("id").groupBy("k").count()
    result_sorted = a.groupBy("k").count().orderBy("k")
    projected = a.groupBy("k").count().orderBy("k").select("k")
    assert interior_range_partitioning(plan_of(interior))
    assert not interior_range_partitioning(plan_of(result_sorted))
    assert not interior_range_partitioning(plan_of(projected))
    assert not interior_range_partitioning(plan_of(a.groupBy("k").count()))

    # STARRED-plan fixture (ADVICE r9 item 1): executed/AQE-final
    # formatted plans mark whole-stage-codegen nodes with a '* ' prefix
    # ('+- * HashAggregate (5)'). The node regex must still parse those
    # lines, or the range exchange's real consumers drop off the
    # ancestor stack and an interior global sort passes silently.
    starred_interior = "\n".join(
        [
            "* HashAggregate (5)",
            "+- * HashAggregate (4)",
            "   +- Exchange (3)",
            "      +- * Sort (2)",
            "         +- Scan parquet (1)",
            "",
            "(3) Exchange",
            "Arguments: rangepartitioning(id ASC NULLS FIRST, 32)",
        ]
    )
    starred_result_sort = "\n".join(
        [
            "* Project (4)",
            "+- * Sort (3)",
            "   +- Exchange (2)",
            "      +- Scan parquet (1)",
            "",
            "(2) Exchange",
            "Arguments: rangepartitioning(id ASC NULLS FIRST, 32)",
        ]
    )
    assert interior_range_partitioning(starred_interior)
    assert not interior_range_partitioning(starred_result_sort)
