"""Approximate-sketch operators — the 100 TB versions of distinct
counts and quantiles (SURVEY.md §2.4 A4).

Sketch values are engine-specific by construction (DuckDB uses
different HLL/quantile sketches), so no cross-engine value oracle can
compare them directly. Instead each query is SELF-VERIFYING: Spark
computes the approximate value AND the exact answer AND the published
error-bound check, then outputs the exact values plus boolean
bound-holds flags — all of which a trivial DuckDB oracle can pin.
(The raw sketch outputs remain available via the underlying
functions; tests/test_sketches.py additionally bounds their error.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, spread, tune

HLL_RSD = 0.01        # relative standard deviation passed to HLL++
HLL_TOL = 5 * HLL_RSD  # 5σ acceptance band — pass probability ~1-1e-6
PCT_ACCURACY = 10000   # approx_percentile accuracy → rank error ≤ n/accuracy
QUANTILES = [0.5, 0.9, 0.99]


def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts per returnflag (rsd 1%) cross-checked
    against the exact distinct counts in the same aggregation.

    Scale: the exact version shuffles every distinct key; HLL shuffles
    fixed-size sketch buffers. Output = exact counts (oracle-checkable)
    + bound-holds flags for the sketch estimates.
    """
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # The sketch agg and the exact-distinct agg must be SEPARATE jobs
    # joined on the 3-row group key: combining them in one agg makes
    # Catalyst plan Expand with the distinct columns in the partial
    # grouping key, so the rsd-1% HLL++ buffers (2^14 registers each)
    # are allocated and merged once per (flag, partkey) group instead
    # of once per flag — measured 54 s vs 2+2 s at sf0.1.
    apx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=HLL_RSD).alias("apx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=HLL_RSD).alias("apx_orders"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ex_parts"),
        F.countDistinct("l_orderkey").alias("ex_orders"),
    )
    agg = exact.join(F.broadcast(apx), "l_returnflag")
    def ok(apx: str, ex: str) -> F.Column:
        return (
            F.abs(F.col(apx) - F.col(ex)).cast("double")
            <= F.col(ex).cast("double") * HLL_TOL
        )
    return agg.select(
        "l_returnflag",
        "ex_parts",
        "ex_orders",
        ok("apx_parts", "ex_parts").alias("parts_ok"),
        ok("apx_orders", "ex_orders").alias("orders_ok"),
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS ex_parts,
       count(DISTINCT l_orderkey) AS ex_orders,
       true AS parts_ok,
       true AS orders_ok
FROM lineitem
GROUP BY l_returnflag
"""


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (accuracy 10000) per returnflag — mergeable
    sketches, one pass, bounded memory regardless of group size.

    Self-verifying: the returned value's rank in the group must lie
    within the sketch's published ±n/accuracy rank-error band,
    recomputed from the raw data (count ≤/<) in the same job.
    """
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    apx = li.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, "
            f"array({', '.join(str(q) for q in QUANTILES)}), {PCT_ACCURACY})"
        ).alias("apx")
    )
    qlits = F.array(*[F.lit(float(q)) for q in QUANTILES])
    probes = apx.select(
        "l_returnflag", F.posexplode("apx").alias("i", "val")
    ).select(
        "l_returnflag", F.element_at(qlits, F.col("i") + 1).alias("q"), "val"
    )
    joined = li.join(F.broadcast(probes), "l_returnflag")
    stats = joined.groupBy("l_returnflag", "q", "val").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("val"), 1).otherwise(0)).alias("n_le"),
        F.sum(F.when(F.col("l_extendedprice") < F.col("val"), 1).otherwise(0)).alias("n_lt"),
    )
    eps = 1.0 / PCT_ACCURACY + 1e-9
    rank_ok = (
        F.col("n_le") >= F.floor((F.col("q") - eps) * F.col("n"))
    ) & (F.col("n_lt") <= F.ceil((F.col("q") + eps) * F.col("n")))
    return stats.select("l_returnflag", "q", rank_ok.alias("rank_ok"))


APPROX_QUANTILES_SQL = f"""
SELECT f.l_returnflag, t.q, true AS rank_ok
FROM (SELECT DISTINCT l_returnflag FROM lineitem) f,
     (VALUES {', '.join(f'({q}::DOUBLE)' for q in QUANTILES)}) t(q)
"""


def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered 100 TB twin of `percentiles_exact`
    (operators/scalar_sql.py): same p50/p90/p99 statistic, computed
    with `approx_percentile` (accuracy 10000) whose KLL-style sketch
    keeps BOUNDED per-group state and merges in a normal partial+final
    aggregate — no full-column buffering anywhere in the plan
    (plans/audit.py pins `partial_approx_percentile` and forbids the
    exact `partial_percentile` state).

    Runs on orders.o_totalprice per o_orderstatus (the exact twin
    covers lineitem) so the two quantile surfaces differ. Sketch
    values are engine-specific, so per module convention the output is
    the exact group count plus one bound-holds flag per quantile: the
    returned value's true rank (recomputed from the raw data with
    plain count aggregates) must sit within the published ±n/accuracy
    band. At test scale the exact rank recomputation IS the oracle for
    the sketch; at 100 TB you would drop the flags and keep the `apx`
    values.
    """
    tune(spark)
    od = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    apx = od.groupBy("o_orderstatus").agg(
        F.expr(
            f"approx_percentile(o_totalprice, "
            f"array({', '.join(str(q) for q in QUANTILES)}), {PCT_ACCURACY})"
        ).alias("apx")
    )
    qlits = F.array(*[F.lit(float(q)) for q in QUANTILES])
    probes = apx.select(
        "o_orderstatus", F.posexplode("apx").alias("i", "val")
    ).select(
        "o_orderstatus", F.element_at(qlits, F.col("i") + 1).alias("q"), "val"
    )
    joined = od.join(F.broadcast(probes), "o_orderstatus")
    stats = joined.groupBy("o_orderstatus", "q", "val").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_totalprice") <= F.col("val"), 1).otherwise(0)).alias("n_le"),
        F.sum(F.when(F.col("o_totalprice") < F.col("val"), 1).otherwise(0)).alias("n_lt"),
    )
    eps = 1.0 / PCT_ACCURACY + 1e-9
    rank_ok = (
        F.col("n_le") >= F.floor((F.col("q") - eps) * F.col("n"))
    ) & (F.col("n_lt") <= F.ceil((F.col("q") + eps) * F.col("n")))
    # pivot the three (q, rank_ok) rows to one wide row per group
    return (
        stats.groupBy("o_orderstatus")
        .agg(
            F.max("n").alias("n"),
            F.max(F.when(F.col("q") == 0.5, rank_ok)).alias("p50_ok"),
            F.max(F.when(F.col("q") == 0.9, rank_ok)).alias("p90_ok"),
            F.max(F.when(F.col("q") == 0.99, rank_ok)).alias("p99_ok"),
        )
    )


PERCENTILES_APPROX_SQL = """
SELECT o_orderstatus, count(*) AS n,
       true AS p50_ok, true AS p90_ok, true AS p99_ok
FROM orders
GROUP BY o_orderstatus
"""


N_HIST_BUCKETS = 10


def equi_depth_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered 100 TB twin of `equi_depth_histogram`
    (operators/scalar_sql.py): same integer-cents domain and the same
    classify-against-broadcast-cuts shape, but the 9 cuts come from
    `approx_percentile` (accuracy 10000) — bounded mergeable sketch
    state, partial+final aggregate, no full-column buffering (the
    exact twin's single-state `percentile` is precisely what this
    replaces at scale; plans/audit.py forbids `partial_percentile`
    here).

    Approx cuts shift bucket boundaries by at most the sketch's
    ±n/accuracy rank error, so raw bucket counts are not cross-engine
    pinnable. Self-verifying output (module convention), one row per
    bucket: the cut's true rank must sit in the published band
    (`rank_ok`, recomputed from raw data with count aggregates), and
    the realized bucket depth must lie within n/10 ± (2n/accuracy +
    tie mass at the bounding cuts) (`depth_ok` — the equi-depth
    guarantee an optimizer relies on). Both are mathematical
    consequences of the sketch bound, hence deterministically true.
    """
    tune(spark)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    li = load_table(spark, sf_dir, "lineitem").select(cents.alias("cents"))
    fracs = ", ".join(str(i / N_HIST_BUCKETS) for i in range(1, N_HIST_BUCKETS))
    cuts = li.agg(
        F.expr(f"approx_percentile(cents, array({fracs}), {PCT_ACCURACY})").alias("cuts"),
        F.count(F.lit(1)).alias("n_total"),
    )
    probes = cuts.select(
        F.posexplode("cuts").alias("i", "cut"), "n_total"
    ).select((F.col("i") + 1).alias("cut_idx"), "cut", "n_total")
    stats = (
        li.join(F.broadcast(probes))
        .groupBy("cut_idx", "cut", "n_total")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("cut"), 1).otherwise(0)).alias("n_le"),
            F.sum(F.when(F.col("cents") < F.col("cut"), 1).otherwise(0)).alias("n_lt"),
        )
    )
    eps = 1.0 / PCT_ACCURACY + 1e-9
    q = F.col("cut_idx") / F.lit(float(N_HIST_BUCKETS))
    rank_ok = (
        F.col("n_le") >= F.floor((q - eps) * F.col("n_total"))
    ) & (F.col("n_lt") <= F.ceil((q + eps) * F.col("n_total")))
    # depth of bucket b = n_le(cut_b) - n_le(cut_{b-1}); the 9-row cut
    # frame is tiny, so the unpartitioned window is a non-issue
    from pyspark.sql import Window

    w = Window.orderBy("cut_idx")
    mult = F.col("n_le") - F.col("n_lt")
    prev_le = F.lag("n_le", 1, 0).over(w)
    prev_mult = F.lag(mult, 1, 0).over(w)
    depth = F.col("n_le") - prev_le
    target = F.col("n_total") / F.lit(float(N_HIST_BUCKETS))
    slack = 2.0 * F.col("n_total") / F.lit(float(PCT_ACCURACY)) + mult + prev_mult + 1
    body = stats.select(
        F.col("cut_idx").cast("int").alias("bucket"),
        rank_ok.alias("rank_ok"),
        (F.abs(depth - target) <= slack).alias("depth_ok"),
        "n_le", "n_total", mult.alias("mult"),
    )
    # bucket 10 = everything above the last cut
    last = body.filter(F.col("bucket") == N_HIST_BUCKETS - 1).select(
        F.lit(N_HIST_BUCKETS).cast("int").alias("bucket"),
        F.lit(True).alias("rank_ok"),
        (
            F.abs((F.col("n_total") - F.col("n_le")) - F.col("n_total") / 10.0)
            <= 2.0 * F.col("n_total") / F.lit(float(PCT_ACCURACY)) + F.col("mult") + 1
        ).alias("depth_ok"),
    )
    return body.select("bucket", "rank_ok", "depth_ok").unionByName(last)


EQUI_DEPTH_APPROX_SQL = f"""
SELECT CAST(b AS INT) AS bucket, true AS rank_ok, true AS depth_ok
FROM range(1, {N_HIST_BUCKETS + 1}) t(b)
"""


def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch ROLLUP property, proven on Spark's Apache
    DataSketches HLL surface (hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate): per-returnflag part-distinct sketches merged
    with hll_union_agg must estimate what one direct sketch over the
    whole table estimates — sketch(A∪B) ≃ merge(sketch(A), sketch(B))
    is the property that lets a 100 TB warehouse keep tiny
    per-partition sketch partials and answer any-slice distinct
    queries without rescanning (the same partial-merge algebra as
    maintenance.incremental_agg_merge, for a non-algebraic statistic).

    Self-verifying: the merge identity is exact on the REGISTER level,
    but Spark's union gadget materializes at HLL_8 while the direct
    path defaults to HLL_4, so the two ESTIMATES may differ at the
    estimator-rounding level — the check pins them within 1% of each
    other, and the merged estimate within 5% of the true count.
    Output: (exact_distinct, merged_close_to_direct, rel_err_ok)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est_direct"),
        F.countDistinct("l_partkey").alias("exact_distinct"),
    )
    return direct.crossJoin(F.broadcast(merged)).select(
        "exact_distinct",
        (
            F.abs(F.col("est_merged") - F.col("est_direct"))
            <= 0.01 * F.col("est_direct")
        ).alias("merged_close_to_direct"),
        (
            F.abs(F.col("est_merged") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("rel_err_ok"),
    )


HLL_ROLLUP_SQL = """
SELECT count(DISTINCT l_partkey) AS exact_distinct,
       TRUE AS merged_close_to_direct,
       TRUE AS rel_err_ok
FROM lineitem
"""


# --------------------------------------------------------------------------
# CMS join-cardinality (self-join size / F2) estimation — CBO statistics
# --------------------------------------------------------------------------

SJS_D = 3          # independent sketch rows
SJS_W = 64         # buckets per row — small enough that collisions are real
SJS_ROWS = [(0, 1_000_003, 12_345), (1, 4_000_037, 6_789), (2, 7_000_003, 999)]
_SJS_P = 2147483647


def join_cardinality_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size of lineitem on l_partkey (F2 = Σ_k c_k², the join
    optimizer's cardinality statistic for `lineitem ⋈ lineitem ON
    partkey`) estimated WITHOUT building per-key counts: each row
    increments D×W bucket counters (partial-aggregated — the data never
    shuffles on the key), est = min_d Σ_w bucket². The CMS inner-product
    estimate is ONE-SIDED (est ≥ exact, collisions only add), pinned as
    `overcount >= 0`; the exact F2 (which at 100 TB is itself the
    expensive key-shuffle this sketch exists to avoid) is computed as
    verification and oracle ground truth.

    Bucket hashing is pure integer universal hashing ((k·a+b) mod P
    mod W) — identical arithmetic in both engines, no string hashing.
    Squares accumulate in DECIMAL(38,0): a 100 TB bucket count squared
    overflows BIGINT.
    """
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    buckets = None
    for d, a, b in SJS_ROWS:
        proj = li.select(
            F.lit(d).alias("d"),
            (((F.col("l_partkey") * a + b) % _SJS_P) % SJS_W).alias("bucket"),
        )
        buckets = proj if buckets is None else buckets.unionByName(proj)
    bc = buckets.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("bc"))
    est = (
        bc.groupBy("d")
        .agg(F.expr("sum(cast(bc as decimal(38,0)) * cast(bc as decimal(38,0)))").alias("f2_d"))
        .groupBy()
        .agg(F.min("f2_d").cast("bigint").alias("f2_est"))
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.expr("cast(sum(cast(c as decimal(38,0)) * cast(c as decimal(38,0))) as bigint)").alias(
                "f2_exact"
            ),
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_keys",
        "f2_exact",
        "f2_est",
        (F.col("f2_est") - F.col("f2_exact")).alias("overcount"),
        (F.col("f2_est") >= F.col("f2_exact")).alias("one_sided_ok"),
    )


_SJS_VALUES = ", ".join(f"({d}, {a}, {b})" for d, a, b in SJS_ROWS)
JOIN_CARD_SQL = f"""
WITH proj AS (
  SELECT r.d, ((l.l_partkey * r.a + r.b) % {_SJS_P}) % {SJS_W} AS bucket
  FROM lineitem l CROSS JOIN (VALUES {_SJS_VALUES}) r(d, a, b)
), bc AS (
  SELECT d, bucket, count(*) AS bc FROM proj GROUP BY d, bucket
), est AS (
  SELECT CAST(min(f2_d) AS BIGINT) AS f2_est FROM (
    SELECT d, sum(CAST(bc AS DECIMAL(38,0)) * CAST(bc AS DECIMAL(38,0))) AS f2_d
    FROM bc GROUP BY d) x
), exact AS (
  SELECT count(*) AS n_keys,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS BIGINT) AS f2_exact
  FROM (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey) k
)
SELECT e.n_keys, e.f2_exact, s.f2_est,
       s.f2_est - e.f2_exact AS overcount,
       s.f2_est >= e.f2_exact AS one_sided_ok
FROM exact e CROSS JOIN est s
"""


# --------------------------------------------------------------------------
# Distributed Poisson bootstrap — resampling without resamples
# --------------------------------------------------------------------------

BOOT_B = 32  # bootstrap replicates

# Poisson(1) CDF on the integer micro-grid: P(X <= k) * 1e6, k = 0..7
# (shared literals — both engines compare against the SAME integers, so
# no cross-engine exp()/ln() arithmetic is ever evaluated)
_POIS_CDF = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]


def _boot_weight_sql(u: str) -> str:
    """CASE chain mapping a uniform micro-draw to a Poisson(1) weight."""
    cases = " ".join(
        f"WHEN {u} < {thr} THEN {k}" for k, thr in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE {len(_POIS_CDF)} END"


def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean(l_extendedprice): every row contributes
    a Poisson(1)-distributed weight to each of B=32 replicates (the
    distributed bootstrap — resampling n rows WITH replacement needs
    global coordination; independent Poisson(1) weights per (row,
    replicate) need none and converge to the same distribution).

    Determinism: the uniform draw is integer universal hashing of
    (orderkey, linenumber, replicate); the Poisson inversion compares
    against shared precomputed CDF literals. Replicate sums accumulate
    in exact integer cents, so each `boot_mean` is one double division
    of exact integers.

    Plan shape: ONE scan, ZERO shuffles of fact rows — all B replicate
    accumulators (Σw·p, Σw) are COLUMNS of a single partial+final
    global aggregate, not groups of an exploded ×B row blowup. The
    previous explode form materialized n·B rows and hash-grouped them
    into B groups (partial agg still touched every exploded row —
    measured 3× the whole slot at sf0.1; guide §2.3 "aggregate before
    you shuffle", taken to its limit: aggregate INSTEAD of exploding).
    Identical arithmetic per (row, replicate) — the same u-draw and
    CASE inversion, summed in the same exact integer cents — so the
    replicate means are bit-identical to the exploded form and the
    DuckDB oracle keeps its explode shape as the independent engine.
    The bootstrap costs one scan regardless of n, which is why this is
    THE resampling scheme at 100 TB. Output: B replicate means + the
    point estimate; SE/CI are trivial downstream order statistics of
    32 rows.
    """
    tune(spark)
    # the B CASE inversions per row are the slot's entire cost; the
    # local single-row-group scan would run them on ONE core (spread is
    # a guarded no-op at scale, where the scan already has thousands of
    # splits — see session.spread)
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p100"),
        )
    )
    # the replicate index must enter MULTIPLICATIVELY: an additive
    # b-offset shifts the draw by a constant, leaving all B replicates
    # near-perfectly correlated (one effective resample, biased CI).
    # The row-key hash is projected ONCE (column hbase); each
    # replicate's uniform draw and Poisson weight are then expressions
    # over that column, evaluated once per (row, replicate) exactly as
    # the exploded form did.
    drawn = li.select(
        "p100",
        F.expr(
            f"pmod(l_orderkey * 2654435761 + l_linenumber * 40503 + 13, {_SJS_P})"
        ).alias("hbase"),
    ).select(
        "p100",
        *[
            F.expr(
                f"pmod(hbase * {b * 40503 + 1000003}, {_SJS_P}) % 1000000"
            ).alias(f"u{b}")
            for b in range(BOOT_B)
        ],
    ).select(
        "p100",
        *[
            F.expr(_boot_weight_sql(f"u{b}")).alias(f"w{b}")
            for b in range(BOOT_B)
        ],
    )
    aggd = drawn.groupBy().agg(
        F.expr("round(sum(cast(p100 as decimal(38,0))) / count(*) / 1e2, 6)").alias(
            "point_mean"
        ),
        *[
            F.expr(
                f"sum(cast(w{b} as bigint) * cast(p100 as decimal(38,0)))"
            ).alias(f"swp{b}")
            for b in range(BOOT_B)
        ],
        *[F.expr(f"sum(w{b})").alias(f"sw{b}") for b in range(BOOT_B)],
    )
    reps = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("b"),
                F.col(f"swp{b}").alias("swp"),
                F.col(f"sw{b}").alias("sw"),
            )
            for b in range(BOOT_B)
        ]
    )
    return (
        aggd.select("point_mean", F.explode(reps).alias("r"))
        .select(
            F.col("r.b").alias("replicate"),
            F.expr("round(cast(r.swp as double) / r.sw / 1e2, 6)").alias(
                "boot_mean"
            ),
            "point_mean",
        )
        .orderBy("replicate")
    )


BOOTSTRAP_SQL = f"""
WITH c AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
  FROM lineitem
), rep AS (
  SELECT c.p100, b.b,
         {_boot_weight_sql(f"(((((c.l_orderkey * 2654435761 + c.l_linenumber * 40503 + 13) % {_SJS_P}) * (b.b * 40503 + 1000003)) % {_SJS_P}) % 1000000)")} AS w
  FROM c CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
), point AS (
  SELECT round(sum(CAST(p100 AS DECIMAL(38,0))) / count(*) / 1e2, 6) AS point_mean
  FROM c
)
SELECT r.b AS replicate,
       round(CAST(sum(CAST(r.w AS BIGINT) * CAST(r.p100 AS DECIMAL(38,0))) AS DOUBLE)
             / sum(r.w) / 1e2, 6) AS boot_mean,
       p.point_mean
FROM rep r CROSS JOIN point p
GROUP BY r.b, p.point_mean
ORDER BY replicate
"""


MG_K = 64  # Misra-Gries summary size (per partition, then merged)


def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic heavy hitters via the Misra-Gries mergeable
    summary — the worst-case-guaranteed companion to the probabilistic
    `heavy_hitters_cms`: a size-{MG_K} summary per input partition
    (Arrow-batched, vectorized value_counts + the (k+1)-th-largest
    decrement merge of Agarwal et al.'s mergeable-summaries result)
    UNDERCOUNTS any token by at most n_p/(k+1), so every token with
    global count > N/{MG_K} is GUARANTEED to survive in at least one
    partition's summary (pigeonhole). Phase 2 broadcast-joins the
    bounded candidate set (≤ k · n_partitions rows) back for an exact
    recount and keeps exactly the tokens with n · {MG_K} > N — so the
    final output is EXACT and the oracle is the plain heavy-hitter
    SQL, while the corpus-sized pass only ever shuffles the candidate
    subset.

    Output: (tok, n) with n · {MG_K} > N, ordered by (n desc, tok)."""
    import pandas as pd

    from spec_search_spark.functions.text import tokens

    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))

    def mg_summaries(batches):
        # emits the partition's MG candidates (np=0) plus ONE tok=None
        # row carrying the partition's token count, so n_total rides
        # the same corpus pass instead of a third full scan
        from collections import Counter

        acc: Counter = Counter()
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            acc.update(Counter(pdf["tok"].value_counts().to_dict()))
            if len(acc) > MG_K:
                vals = sorted(acc.values(), reverse=True)
                sub = vals[MG_K]
                acc = Counter(
                    {t: c - sub for t, c in acc.items() if c > sub}
                )
        if acc or n_part:
            yield pd.DataFrame(
                {
                    "tok": list(acc.keys()) + [None],
                    "np": [0] * len(acc) + [n_part],
                }
            )

    # pinned: the candidate and total broadcasts both read summ — the
    # corpus-sized sketch pass must run exactly once
    summ, _ = pin(toks.mapInPandas(mg_summaries, "tok string, np bigint"))
    # summ is read only inside this call: checkpoint its two TINY
    # consumers (≤ k·n_partitions candidates, 1-row total), then release
    # the corpus-sized summary before return
    cand = (
        summ.filter(F.col("tok").isNotNull())
        .select("tok")
        .distinct()
        .localCheckpoint(eager=True)
    )
    total = (
        summ.groupBy().agg(F.sum("np").alias("n_total"))
        .localCheckpoint(eager=True)
    )
    summ.unpersist()
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * MG_K > F.col("n_total"))
        .select("tok", "n")
        .orderBy(F.desc("n"), "tok")
    )


MISRA_GRIES_SQL = f"""
WITH toks AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT tok, n FROM cnt, tot
WHERE n * {MG_K} > n_total
ORDER BY n DESC, tok
"""


QUERIES = {
    "approx_distinct_counts": approx_distinct_counts,
    "approx_quantiles": approx_quantiles,
    "percentiles_approx": percentiles_approx,
    "equi_depth_histogram_approx": equi_depth_histogram_approx,
    "hll_mergeable_rollup": hll_mergeable_rollup,
    "join_cardinality_cms": join_cardinality_cms,
    "bootstrap_ci_revenue": bootstrap_ci_revenue,
    "misra_gries_heavy_hitters": misra_gries_heavy_hitters,
}

ORACLES = {
    "approx_distinct_counts": APPROX_DISTINCT_SQL,
    "approx_quantiles": APPROX_QUANTILES_SQL,
    "percentiles_approx": PERCENTILES_APPROX_SQL,
    "equi_depth_histogram_approx": EQUI_DEPTH_APPROX_SQL,
    "hll_mergeable_rollup": HLL_ROLLUP_SQL,
    "join_cardinality_cms": JOIN_CARD_SQL,
    "bootstrap_ci_revenue": BOOTSTRAP_SQL,
    "misra_gries_heavy_hitters": MISRA_GRIES_SQL,
}
