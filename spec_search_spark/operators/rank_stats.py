"""Rank-based statistics — the nonparametric drift/association tests a
corpus-curation platform runs when distributions are heavy-tailed and a
mean-based test (Welch, `behavior.ab_test_welch`) is the wrong tool
(reference north star: the pipeline's quality monitors; the reference
itself ships no statistics — `/root/reference/README.md:12-17`).

* `mannwhitney_priority_revenue` — two-sample Mann–Whitney U (rank-sum)
  between URGENT and LOW `o_totalprice`, tie-aware with the standard
  tie-corrected normal approximation. The rank machinery is EXACT:
  with integer cents, tied groups share the integer "double average
  rank" 2·cum_before + c + 1, so 2·R1 is a pure integer sum.
* `spearman_qty_price` — Spearman rank correlation between
  `l_quantity` and `l_extendedprice` over lineitem: Pearson on
  tie-averaged ranks, with every rank and every moment an exact
  integer (double-ranks; DECIMAL(38,0) moment sums per the _LR_MOMS
  width rule) until one final fixed-arity double expression, snapped.
* `mad_outlier_orders` — robust outlier gate on `o_totalprice`:
  lower-median + MAD (both exact integer cents via the distributed
  rank walk), outliers at |x − med| > round(3·1.4826·MAD). Distinct
  from `scalar_sql.robust_outlier_report` (per-returnflag lineitem
  bands at ±3·raw-MAD with interpolated medians): this one is the
  GLOBAL gate with the 1.4826 normal-consistency constant (so the
  threshold is 3 estimated σ̂, comparable across columns), uses the
  strictly-integer lower-median (no .5 fractions anywhere), and is
  the training-time artifact the `stream_mad_outlier` twin ships.

Scale notes: all three collapse to distinct-value count tables first
(distinct cents ≈ row count), then compute cumulative counts with the
range-bucketed two-phase prefix sum from `drift.ks_test_priority_revenue`
— per-bucket windows in parallel plus a ≤64-row broadcast offset table;
no window ever serializes an O(n) table through one task. Rank-sum and
moment accumulators are DECIMAL(38,0) so the arithmetic survives
n ~ 1e10 rows without int64 overflow (ADVICE r4 on _LR_MOMS). The only
doubles are final fixed-arity expressions over exact integers,
evaluated from identical SQL text in both engines and snapped to the
1e-6 grid (FIXTURES rules 1/2/5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, tune

MW_A, MW_B = "1-URGENT", "5-LOW"
Z_CRIT = 1.959964  # two-sided alpha = 0.05
RANK_BUCKETS = 64  # range buckets for the distributed prefix sums
MAD_K = 3.0 * 1.4826  # 3 robust sigmas (normal-consistency constant)
#: Adaptive plan-shape-by-size policy (the `spread()` idea applied to
#: the rank walk): a distinct-value count table at or under this many
#: rows sorts in ONE local window task in well under a second — the
#: two-phase bucketed walk's extra stages (bounds, per-bucket aggs,
#: triangular offsets, re-join) cost ~2× at toy scale for nothing
#: (VERDICT r6 measured ×1.3–×2.0 on equi_depth_histogram /
#: stratified_quality_sample / winsorized_stats at sf0.1). Above the
#: threshold the bucketed walk engages: no window ever serializes an
#: unbounded table through one task. 2M (long,long) rows ≈ 32 MB —
#: comfortably one partition; same spirit as dedup.BROADCAST_VOCAB_MAX.
#: SPARK_GRAFT_RANK_SMALL_MAX overrides (the plan audit pins 0 to
#: force and check the at-scale shape regardless of fixture size).
RANK_SMALL_MAX = 2_000_000


def _rank_small_max() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_RANK_SMALL_MAX", str(RANK_SMALL_MAX)))


def _bucketed_cum(per_v: DataFrame, val: str, counts: list[str]) -> DataFrame:
    """Inclusive global cumulative sums of `counts` ordered by `val`,
    without a global single-task window: range-bucket the value domain
    from a one-row bounds aggregate, run the cumulative window PER
    BUCKET (parallel), and add each bucket's exclusive offset from a
    ≤RANK_BUCKETS-row broadcast table (triangular self-join, 64² max).

    Input: one row per distinct `val` with integer count columns.
    Output: input columns plus `cum_<c>` (inclusive) per count column.

    Adaptive: `per_v` is materialized (exactly-once upstream; its size
    decides the plan shape) and, at or under RANK_SMALL_MAX rows, the
    cumulative sums run as ONE unpartitioned local window over the
    cached narrow table — identical results, none of the two-phase
    machinery. Above the threshold, the bucketed walk below.
    """
    per_v, n = pin(per_v)
    if n <= _rank_small_max():
        w_all = W.orderBy(val).rowsBetween(W.unboundedPreceding, 0)
        out = per_v
        for c in counts:
            out = out.withColumn(f"cum_{c}", F.sum(c).over(w_all))
        return out
    bounds = per_v.groupBy().agg(
        F.min(val).alias("lo"), F.max(val).alias("hi")
    )
    bucketed = per_v.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.least(
            F.lit(RANK_BUCKETS - 1),
            (
                (F.col(val) - F.col("lo"))
                * F.lit(RANK_BUCKETS)
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("bigint"),
        ),
    ).drop("lo", "hi")
    per_bucket = bucketed.groupBy("bucket").agg(
        *[F.sum(c).alias(f"b_{c}") for c in counts]
    )
    lo_side = per_bucket.select(
        F.col("bucket").alias("lb"),
        *[F.col(f"b_{c}").alias(f"lb_{c}") for c in counts],
    )
    offsets = (
        per_bucket.join(F.broadcast(lo_side), F.col("lb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(
            *[
                F.coalesce(F.sum(f"lb_{c}"), F.lit(0)).alias(f"off_{c}")
                for c in counts
            ]
        )
    )
    w_loc = W.partitionBy("bucket").orderBy(val).rowsBetween(
        W.unboundedPreceding, 0
    )
    out = bucketed
    for c in counts:
        out = out.withColumn(f"l_{c}", F.sum(c).over(w_loc))
    out = out.join(F.broadcast(offsets), "bucket")
    for c in counts:
        out = out.withColumn(f"cum_{c}", F.col(f"off_{c}") + F.col(f"l_{c}"))
    return out.drop(
        "bucket", *[f"l_{c}" for c in counts], *[f"off_{c}" for c in counts]
    )


def _bucketed_cum_by(
    per_v: DataFrame, grp: str | list[str], val: str, counts: list[str]
) -> DataFrame:
    """Group-wise variant of :func:`_bucketed_cum`: inclusive cumulative
    sums of `counts` ordered by `val` WITHIN each `grp` (a column name
    or a list of them) — per-group range buckets from a per-group
    bounds aggregate (≤ #groups rows, broadcast), windows partitioned
    by (grp..., bucket), per-group offset tables from the same
    triangular self-join. No window ever spans more than one bucket of
    one group, so per-group exact order statistics parallelize even
    when one group holds most of the data.

    Adaptive like :func:`_bucketed_cum`: at or under RANK_SMALL_MAX
    TOTAL rows the windows run per group with no bucket phase (each
    group is at most the small bound); above it, per-(group, bucket).
    """
    grps = [grp] if isinstance(grp, str) else list(grp)
    per_v, n = pin(per_v)
    if n <= _rank_small_max():
        w_grp = W.partitionBy(*grps).orderBy(val).rowsBetween(
            W.unboundedPreceding, 0
        )
        out = per_v
        for c in counts:
            out = out.withColumn(f"cum_{c}", F.sum(c).over(w_grp))
        return out
    bounds = per_v.groupBy(*grps).agg(
        F.min(val).alias("lo"), F.max(val).alias("hi")
    )
    bucketed = per_v.join(F.broadcast(bounds), grps).withColumn(
        "bucket",
        F.least(
            F.lit(RANK_BUCKETS - 1),
            (
                (F.col(val) - F.col("lo"))
                * F.lit(RANK_BUCKETS)
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("bigint"),
        ),
    ).drop("lo", "hi")
    per_bucket = bucketed.groupBy(*grps, "bucket").agg(
        *[F.sum(c).alias(f"b_{c}") for c in counts]
    )
    lo_side = per_bucket.select(
        *[F.col(g).alias(f"lg_{i}") for i, g in enumerate(grps)],
        F.col("bucket").alias("lb"),
        *[F.col(f"b_{c}").alias(f"lb_{c}") for c in counts],
    )
    same_grp = F.lit(True)
    for i, g in enumerate(grps):
        same_grp = same_grp & (F.col(f"lg_{i}") == F.col(g))
    offsets = (
        per_bucket.join(
            F.broadcast(lo_side),
            same_grp & (F.col("lb") < F.col("bucket")),
            "left",
        )
        .groupBy(*grps, "bucket")
        .agg(
            *[
                F.coalesce(F.sum(f"lb_{c}"), F.lit(0)).alias(f"off_{c}")
                for c in counts
            ]
        )
    )
    w_loc = W.partitionBy(*grps, "bucket").orderBy(val).rowsBetween(
        W.unboundedPreceding, 0
    )
    out = bucketed
    for c in counts:
        out = out.withColumn(f"l_{c}", F.sum(c).over(w_loc))
    out = out.join(F.broadcast(offsets), [*grps, "bucket"])
    for c in counts:
        out = out.withColumn(f"cum_{c}", F.col(f"off_{c}") + F.col(f"l_{c}"))
    return out.drop(
        "bucket", *[f"l_{c}" for c in counts], *[f"off_{c}" for c in counts]
    )


def mannwhitney_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: n per sample, the exact DOUBLED U statistic for the
    URGENT side (2·U1 — integer even under tie-averaged half-ranks),
    the tie-corrected z (6dp snap), and the α=0.05 two-sided
    decision."""
    tune(spark)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(MW_A, MW_B)
    )
    per_v = (
        o.select(
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
            (F.col("o_orderpriority") == MW_A).alias("a"),
        )
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("a"), 0).otherwise(1)).alias("c2"),
        )
        .withColumn("c", F.col("c1") + F.col("c2"))
    )
    cum = _bucketed_cum(per_v, "cents", ["c"])
    # 2·avg-rank of a tied group = 2·(cum-before) + c + 1 — integer.
    # 2·R1 = Σ c1·(2·cum_before + c + 1); tie term Σ (c³ − c).
    acc = cum.groupBy().agg(
        F.sum(
            F.expr("cast(c1 as decimal(38,0)) * (2 * (cum_c - c) + c + 1)")
        ).alias("r1x2"),
        F.sum(
            F.expr("cast(c as decimal(38,0)) * c * c - c")
        ).alias("tie3"),
    )
    tot = per_v.groupBy().agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    z_expr = (
        "(cast(r1x2 as double) - n1 * (cast(n1 as double) + n2 + 1))"
        " / (2 * sqrt((cast(n1 as double) * n2 / 12)"
        " * ((n1 + n2 + 1)"
        "    - cast(tie3 as double) / ((cast(n1 as double) + n2) * (n1 + n2 - 1)))))"
    )
    return acc.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.expr(
            "cast(r1x2 - cast(n1 as decimal(38,0)) * (n1 + 1) as bigint)"
        ).alias("u1x2"),
        F.expr(f"cast(round(({z_expr}) * 1e6) as bigint) / 1e6").alias("z_6"),
        F.expr(f"abs({z_expr}) > {Z_CRIT}").alias("reject_05"),
    )


MW_SQL = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority = '{MW_A}' AS a
  FROM orders WHERE o_orderpriority IN ('{MW_A}', '{MW_B}')
), per_v AS (
  SELECT cents,
         sum(CASE WHEN a THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN a THEN 0 ELSE 1 END) AS c2,
         count(*) AS c
  FROM base GROUP BY cents
), cum AS (
  SELECT c1, c, coalesce(sum(c) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM per_v
), acc AS (
  SELECT sum(CAST(c1 AS DECIMAL(38,0)) * (2 * cumb + c + 1)) AS r1x2,
         sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS tie3
  FROM cum
), tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM per_v)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT) AS u1x2,
       CAST(round(((CAST(r1x2 AS DOUBLE) - n1 * (CAST(n1 AS DOUBLE) + n2 + 1))
         / (2 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
             * ((n1 + n2 + 1)
                - CAST(tie3 AS DOUBLE) / ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2 - 1))))))
         * 1e6) AS BIGINT) / 1e6 AS z_6,
       abs((CAST(r1x2 AS DOUBLE) - n1 * (CAST(n1 AS DOUBLE) + n2 + 1))
         / (2 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
             * ((n1 + n2 + 1)
                - CAST(tie3 AS DOUBLE) / ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2 - 1))))))
         > {Z_CRIT} AS reject_05
FROM acc CROSS JOIN tot
"""


def _double_ranks(per_v: DataFrame, val: str) -> DataFrame:
    """(val, dr) where dr = 2·tie-averaged-rank (exact integer):
    dr = 2·cum_before + c + 1 over the distinct-value count table."""
    cum = _bucketed_cum(per_v, val, ["c"])
    return cum.select(
        val, (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1).alias("dr")
    )


def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: n, Spearman rho (6dp snap) between l_quantity and
    l_extendedprice — Pearson over exact integer double-ranks."""
    tune(spark)
    # spread + pin: the integer-grid projection feeds BOTH rank-table
    # aggregations and the final moment join; lazily each consumer
    # re-scans on the single-row-group local scan's one core. Two int
    # columns, corpus-row-sized.
    from spec_search_spark.session import spread

    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice"
        )
    ).select(
        F.expr("cast(round(l_quantity) as bigint)").alias("q"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p"),
    ).localCheckpoint(eager=True)
    q_ranks = _double_ranks(
        li.groupBy(F.col("q").alias("v")).agg(F.count("*").alias("c")), "v"
    ).withColumnRenamed("dr", "rx")
    p_ranks = _double_ranks(
        li.groupBy(F.col("p").alias("v")).agg(F.count("*").alias("c")), "v"
    ).withColumnRenamed("dr", "ry")
    # l_quantity has ~50 distinct values → its rank table broadcasts;
    # the price rank table joins on its value key (shuffle ∝ distinct
    # prices, the same key the groupBy already shuffled on).
    ranked = (
        li.join(F.broadcast(q_ranks.withColumnRenamed("v", "q")), "q")
        .join(p_ranks.withColumnRenamed("v", "p"), "p")
        .select("rx", "ry")
    )
    moms = ranked.groupBy().agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast(rx as decimal(38,0))")).alias("sx"),
        F.sum(F.expr("cast(ry as decimal(38,0))")).alias("sy"),
        F.sum(F.expr("cast(rx as decimal(38,0)) * rx")).alias("sxx"),
        F.sum(F.expr("cast(ry as decimal(38,0)) * ry")).alias("syy"),
        F.sum(F.expr("cast(rx as decimal(38,0)) * ry")).alias("sxy"),
    )
    rho = (
        "(n * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
        " / sqrt((n * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
        "      * (n * cast(syy as double) - cast(sy as double) * cast(sy as double)))"
    )
    return moms.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(f"cast(round(({rho}) * 1e6) as bigint) / 1e6").alias("rho_6"),
    )


SPEARMAN_SQL = """
WITH li AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
), qr AS (
  SELECT q, 2 * coalesce(sum(c) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx
  FROM (SELECT q, count(*) AS c FROM li GROUP BY q)
), pr AS (
  SELECT p, 2 * coalesce(sum(c) OVER (ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ry
  FROM (SELECT p, count(*) AS c FROM li GROUP BY p)
), ranked AS (
  SELECT qr.rx, pr.ry FROM li JOIN qr USING (q) JOIN pr USING (p)
), moms AS (
  SELECT count(*) AS n,
         sum(CAST(rx AS DECIMAL(38,0))) AS sx,
         sum(CAST(ry AS DECIMAL(38,0))) AS sy,
         sum(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
         sum(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
         sum(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(round(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         * 1e6) AS BIGINT) / 1e6 AS rho_6
FROM moms
"""


def _lower_median(per_v: DataFrame, val: str) -> DataFrame:
    """One-row DataFrame (med BIGINT): smallest `val` whose inclusive
    cumulative count reaches ceil(n/2) — the type-1 (lower) median,
    integer-exact and identical in both engines (no interpolation)."""
    cum = _bucketed_cum(per_v, val, ["c"])
    tot = per_v.groupBy().agg(F.sum("c").alias("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.expr("cum_c >= (n + 1) div 2"))
        .groupBy()
        .agg(F.min(val).alias("med"))
    )


def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: n, median cents, MAD cents (both exact lower-medians),
    the integer outlier threshold round(3·1.4826·MAD), the outlier
    count, and the outlier share (6dp snap)."""
    tune(spark)
    cents = load_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v")
    )
    per_v = cents.groupBy("v").agg(F.count("*").alias("c"))
    med = _lower_median(per_v, "v")
    dev = cents.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("v") - F.col("med")).alias("d")
    )
    per_d = dev.groupBy(F.col("d").alias("v")).agg(F.count("*").alias("c"))
    mad = _lower_median(per_d, "v").withColumnRenamed("med", "mad")
    gate = (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "d",
            "mad",
            F.expr(f"cast(round({MAD_K} * mad) as bigint)").alias("thr"),
        )
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.max("mad").alias("mad_cents"),
            F.max("thr").alias("thr_cents"),
            F.sum(F.expr("case when d > thr then 1 else 0 end")).alias(
                "n_outliers"
            ),
        )
    )
    return gate.crossJoin(F.broadcast(med)).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("med").alias("med_cents"),
        "mad_cents",
        "thr_cents",
        F.col("n_outliers").cast("bigint").alias("n_outliers"),
        F.expr(
            "cast(round(n_outliers / cast(n as double) * 1e6) as bigint) / 1e6"
        ).alias("outlier_share_6"),
    )


MAD_SQL = f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), cum AS (
  SELECT v, sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM (SELECT v, count(*) AS c FROM cents GROUP BY v)
), tot AS (SELECT count(*) AS n FROM cents),
med AS (
  SELECT min(v) AS med FROM cum CROSS JOIN tot WHERE cc >= (n + 1) // 2
), dev AS (
  SELECT abs(v - med) AS d FROM cents CROSS JOIN med
), dcum AS (
  SELECT d, sum(c) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM (SELECT d, count(*) AS c FROM dev GROUP BY d)
), mad AS (
  SELECT min(d) AS mad FROM dcum CROSS JOIN tot WHERE cc >= (n + 1) // 2
), gate AS (
  SELECT count(*) AS n, max(mad) AS mad_cents,
         max(CAST(round({MAD_K} * mad) AS BIGINT)) AS thr_cents,
         sum(CASE WHEN d > CAST(round({MAD_K} * mad) AS BIGINT)
                  THEN 1 ELSE 0 END) AS n_outliers
  FROM dev CROSS JOIN mad
)
SELECT CAST(n AS BIGINT) AS n, med AS med_cents, mad_cents, thr_cents,
       CAST(n_outliers AS BIGINT) AS n_outliers,
       CAST(round(n_outliers / CAST(n AS DOUBLE) * 1e6) AS BIGINT) / 1e6
         AS outlier_share_6
FROM gate CROSS JOIN med
"""


KW_GROUPS = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)
CHI2_CRIT_DF4 = 9.487729  # alpha = 0.05, df = k - 1 = 4


def _kw_h_expr() -> str:
    """The tie-corrected Kruskal–Wallis H as ONE fixed-arity double
    expression over the pivoted integer columns (r1..r5 = doubled
    rank-sums, n1..n5, tie3, n) — k is pinned by KW_GROUPS, so the
    5-term sum is explicit SQL text, identical in both engines (no
    engine-ordered float accumulation; FIXTURES rule 1)."""
    terms = " + ".join(
        f"cast(r{j} as double) * r{j} / (4e0 * n{j})"
        for j in range(1, len(KW_GROUPS) + 1)
    )
    h_raw = (
        f"(12e0 / (cast(n as double) * (n + 1)) * ({terms})"
        " - 3e0 * (n + 1))"
    )
    return (
        f"({h_raw} / (1e0 - cast(tie3 as double)"
        " / (cast(n as double) * n * n - n)))"
    )


def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: tie-corrected Kruskal–Wallis H across the five order
    priorities on `o_totalprice`, with the α=0.05 χ²(df=4) decision —
    the k-group generalization of `mannwhitney_priority_revenue` for
    "does revenue differ by class at all" before any pairwise test.

    Exact shape: the shared rank machinery — distinct-cents count
    table, `_bucketed_cum` prefix sums (per-bucket parallel windows,
    never one global task), doubled tie-averaged ranks so every
    rank-sum is a pure DECIMAL(38,0) integer. k is fixed by the
    priority domain, so the per-group terms pivot into ONE row and H
    is one fixed-arity double expression from identical SQL text in
    both engines, snapped to 1e-6."""
    tune(spark)
    o = load_table(spark, sf_dir, "orders")
    per_v = (
        o.select(
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
            F.col("o_orderpriority").alias("g"),
        )
        .groupBy("cents")
        .agg(
            *[
                F.sum(F.when(F.col("g") == grp, 1).otherwise(0)).alias(
                    f"c{j}"
                )
                for j, grp in enumerate(KW_GROUPS, start=1)
            ],
            F.count(F.lit(1)).alias("c"),
        )
    )
    cum = _bucketed_cum(per_v, "cents", ["c"])
    acc = cum.groupBy().agg(
        *[
            F.sum(
                F.expr(
                    f"cast(c{j} as decimal(38,0))"
                    " * (2 * (cum_c - c) + c + 1)"
                )
            ).alias(f"r{j}")
            for j in range(1, len(KW_GROUPS) + 1)
        ],
        *[
            F.sum(f"c{j}").alias(f"n{j}")
            for j in range(1, len(KW_GROUPS) + 1)
        ],
        F.sum(F.expr("cast(c as decimal(38,0)) * c * c - c")).alias("tie3"),
        F.sum("c").alias("n"),
    )
    h = _kw_h_expr()
    return acc.select(
        F.col("n").cast("bigint").alias("n"),
        *[
            F.col(f"n{j}").cast("bigint").alias(f"n{j}")
            for j in range(1, len(KW_GROUPS) + 1)
        ],
        F.expr(f"cast(round(({h}) * 1e6) as bigint) / 1e6").alias("h_6"),
        F.expr(f"({h}) > {CHI2_CRIT_DF4}").alias("reject_05"),
    )


def _kw_sql() -> str:
    k = len(KW_GROUPS)
    cj = ",\n         ".join(
        f"sum(CASE WHEN g = '{grp}' THEN 1 ELSE 0 END) AS c{j}"
        for j, grp in enumerate(KW_GROUPS, start=1)
    )
    rj = ",\n         ".join(
        f"sum(CAST(c{j} AS DECIMAL(38,0)) * (2 * cumb + c + 1)) AS r{j}"
        for j in range(1, k + 1)
    )
    nj = ",\n         ".join(
        f"sum(c{j}) AS n{j}" for j in range(1, k + 1)
    )
    nj_out = ", ".join(f"CAST(n{j} AS BIGINT) AS n{j}" for j in range(1, k + 1))
    h = _kw_h_expr()
    return f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS g
  FROM orders
), per_v AS (
  SELECT cents,
         {cj},
         count(*) AS c
  FROM base GROUP BY cents
), cum AS (
  SELECT *, coalesce(sum(c) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM per_v
), acc AS (
  SELECT {rj},
         {nj},
         sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS tie3,
         sum(c) AS n
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n, {nj_out},
       CAST(round(({h}) * 1e6) AS BIGINT) / 1e6 AS h_6,
       ({h}) > {CHI2_CRIT_DF4} AS reject_05
FROM acc
"""


KW_SQL = _kw_sql()


def _ca_w_case() -> str:
    """Priority → integer trend score 1..k (the natural ordering the
    '1-URGENT'..'5-LOW' domain encodes)."""
    arms = " ".join(
        f"when o_orderpriority = '{g}' then {j}"
        for j, g in enumerate(KW_GROUPS, start=1)
    )
    return f"(case {arms} end)"


def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the Cochran–Armitage trend test — is the proportion of
    fulfilled orders (o_orderstatus = 'F') monotonically associated
    with the ORDERED priority classes? The categorical sibling of
    `mann_kendall_hourly`: Kruskal–Wallis/χ² ask "any difference",
    this asks "a directional trend along the class order", which is
    the question a triage policy audit actually has.

    Exact shape: ONE partial+final aggregation over orders into five
    integer moments (N, ΣwN, Σw²N, R, ΣwR — w the 1..k class score);
    z = T/√Var(T) is one fixed-arity double expression from identical
    SQL text, snapped at 6dp. No joins, no windows, no second scan."""
    tune(spark)
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(_ca_w_case()).alias("w"),
        F.expr("cast(o_orderstatus = 'F' as int)").alias("y"),
    )
    acc = o.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("rr"),
        F.sum("w").alias("swn"),
        F.sum(F.expr("w * y")).alias("swr"),
        F.sum(F.expr("w * w")).alias("sww"),
    )
    z = (
        "(swr - cast(rr as double) * swn / n)"
        " / sqrt((cast(rr as double) / n) * (1 - cast(rr as double) / n)"
        "        * (sww - cast(swn as double) * swn / n))"
    )
    return acc.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("rr").cast("bigint").alias("n_events"),
        F.expr(f"cast(round(({z}) * 1e6) as bigint) / 1e6").alias("z_6"),
        F.expr(f"abs({z}) > {Z_CRIT}").alias("reject_05"),
    )


COCHRAN_ARMITAGE_SQL = f"""
WITH base AS (
  SELECT {_ca_w_case()} AS w,
         CAST(o_orderstatus = 'F' AS INT) AS y
  FROM orders
), acc AS (
  SELECT count(*) AS n,
         CAST(sum(y) AS BIGINT) AS rr,
         CAST(sum(w) AS BIGINT) AS swn,
         CAST(sum(w * y) AS BIGINT) AS swr,
         CAST(sum(w * w) AS BIGINT) AS sww
  FROM base
)
SELECT CAST(n AS BIGINT) AS n, rr AS n_events,
       CAST(round(((swr - CAST(rr AS DOUBLE) * swn / n)
         / sqrt((CAST(rr AS DOUBLE) / n) * (1 - CAST(rr AS DOUBLE) / n)
                * (sww - CAST(swn AS DOUBLE) * swn / n))) * 1e6) AS BIGINT)
         / 1e6 AS z_6,
       abs((swr - CAST(rr AS DOUBLE) * swn / n)
         / sqrt((CAST(rr AS DOUBLE) / n) * (1 - CAST(rr AS DOUBLE) / n)
                * (sww - CAST(swn AS DOUBLE) * swn / n))) > {Z_CRIT}
         AS reject_05
FROM acc
"""


def _grouped_lower_median(
    per_v: DataFrame, grp: str, out: str
) -> DataFrame:
    """(grp, <out> BIGINT): per-group type-1 (lower) median over a
    (grp, v, c) distinct-value count table — the group-wise rank walk
    (`_bucketed_cum_by`), so per-group exact order statistics
    parallelize even when one group holds most of the rows."""
    cum = _bucketed_cum_by(per_v, grp, "v", ["c"])
    tot = per_v.groupBy(grp).agg(F.sum("c").alias("n"))
    return (
        cum.join(F.broadcast(tot), grp)
        .filter(F.expr("cum_c >= (n + 1) div 2"))
        .groupBy(grp)
        .agg(F.min("v").alias(out))
    )


def grouped_mad_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language robust document-length profile: exact lower-median
    and MAD of `n_chars` within each lang, the 3σ̂-equivalent outlier
    threshold (round({K}·MAD)), outlier count and share — the
    per-group form of `mad_outlier_orders`, i.e. the quality gate a
    multilingual corpus actually needs (a 2k-char doc is ordinary in
    one language's distribution and an outlier in another's).

    Exact shape: BOTH order statistics ride the group-wise rank walk
    (`_bucketed_cum_by` — per-(group, bucket) windows, per-group
    offset tables), so no group ever serializes through one task; the
    ≤|langs|-row median/MAD tables broadcast back onto the scan. All
    integers until the one snapped share ratio."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").alias("x")
    )
    per_v = docs.groupBy("lang", F.col("x").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    med = _grouped_lower_median(per_v, "lang", "med")
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang", "med", F.abs(F.col("x") - F.col("med")).alias("d")
    )
    per_d = dev.groupBy("lang", F.col("d").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    mad = _grouped_lower_median(per_d, "lang", "mad")
    return (
        dev.join(F.broadcast(mad), "lang")
        .withColumn("thr", F.expr(f"cast(round({MAD_K} * mad) as bigint)"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med").alias("med_chars"),
            F.max("mad").alias("mad_chars"),
            F.max("thr").alias("thr_chars"),
            F.sum(F.expr("case when d > thr then 1 else 0 end"))
            .cast("bigint")
            .alias("n_outliers"),
            F.expr(
                "cast(round(sum(case when d > thr then 1 else 0 end)"
                " / cast(count(*) as double) * 1e6) as bigint) / 1e6"
            ).alias("outlier_share_6"),
        )
    )


GROUPED_MAD_SQL = f"""
WITH docs AS (SELECT lang, n_chars AS x FROM documents),
cum AS (
  SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM (SELECT lang, x AS v, count(*) AS c FROM docs GROUP BY 1, 2)
), tot AS (SELECT lang, count(*) AS n FROM docs GROUP BY lang),
med AS (
  SELECT cum.lang, min(v) AS med FROM cum JOIN tot ON tot.lang = cum.lang
  WHERE cc >= (n + 1) // 2 GROUP BY cum.lang
), dev AS (
  SELECT docs.lang, med, abs(x - med) AS d
  FROM docs JOIN med ON med.lang = docs.lang
), dcum AS (
  SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM (SELECT lang, d AS v, count(*) AS c FROM dev GROUP BY 1, 2)
), mad AS (
  SELECT dcum.lang, min(v) AS mad FROM dcum JOIN tot ON tot.lang = dcum.lang
  WHERE cc >= (n + 1) // 2 GROUP BY dcum.lang
)
SELECT dev.lang, CAST(count(*) AS BIGINT) AS n_docs,
       max(med) AS med_chars, max(mad) AS mad_chars,
       max(CAST(round({MAD_K} * mad) AS BIGINT)) AS thr_chars,
       CAST(sum(CASE WHEN d > CAST(round({MAD_K} * mad) AS BIGINT)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(round(sum(CASE WHEN d > CAST(round({MAD_K} * mad) AS BIGINT)
                THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) / 1e6
         AS outlier_share_6
FROM dev JOIN mad ON mad.lang = dev.lang
GROUP BY dev.lang
"""


def median_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the exact lower-median of o_totalprice cents plus its
    distribution-free 95% confidence interval from ORDER STATISTICS
    (binomial/normal-approx bounds: the interval [v_(l), v_(u)] with
    l = max(1, floor((n − z·√n)/2)), u = min(n, ceil((n + z·√n)/2) + 1))
    — the uncertainty attachment `mad_outlier_orders`'s point estimate
    lacks, with no bootstrap and no distributional assumption.

    Exact shape: ONE bucketed cumulative walk serves all three order
    statistics (median and both CI endpoints select from the same cum
    table against a broadcast one-row index bound); indices are
    floor/ceil of the identical fixed-arity double in both engines."""
    tune(spark)
    cents = load_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v")
    )
    per_v = cents.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    cum = _bucketed_cum(per_v, "v", ["c"])
    idx = per_v.groupBy().agg(F.sum("c").alias("n")).select(
        "n",
        F.expr("(n + 1) div 2").alias("k_med"),
        F.expr(
            f"greatest(1, cast(floor((n - {Z_CRIT} * sqrt(n)) / 2) as bigint))"
        ).alias("k_lo"),
        F.expr(
            f"least(n, cast(ceil((n + {Z_CRIT} * sqrt(n)) / 2) as bigint) + 1)"
        ).alias("k_hi"),
    )
    return (
        cum.crossJoin(F.broadcast(idx))
        .groupBy()
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(F.expr("case when cum_c >= k_med then v end")).alias(
                "median_cents"
            ),
            F.min(F.expr("case when cum_c >= k_lo then v end")).alias(
                "ci_lo_cents"
            ),
            F.min(F.expr("case when cum_c >= k_hi then v end")).alias(
                "ci_hi_cents"
            ),
        )
    )


MEDIAN_CI_SQL = f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), per_v AS (SELECT v, count(*) AS c FROM cents GROUP BY v),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM per_v
), idx AS (
  SELECT n, (n + 1) // 2 AS k_med,
         greatest(1, CAST(floor((n - {Z_CRIT} * sqrt(n)) / 2) AS BIGINT))
           AS k_lo,
         least(n, CAST(ceil((n + {Z_CRIT} * sqrt(n)) / 2) AS BIGINT) + 1)
           AS k_hi
  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM cents)
)
SELECT max(n) AS n,
       min(CASE WHEN cum_c >= k_med THEN v END) AS median_cents,
       min(CASE WHEN cum_c >= k_lo THEN v END) AS ci_lo_cents,
       min(CASE WHEN cum_c >= k_hi THEN v END) AS ci_hi_cents
FROM cum CROSS JOIN idx
"""


# --- per-source quantile normalization ---------------------------------------


def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize the per-document quality score ACROSS
    sources: each doc's score is replaced by the POOLED distribution's
    value at the doc's within-source quantile position — the
    batch-effect correction (microarray quantile normalization /
    sklearn QuantileTransformer) that makes one threshold comparable
    across domains whose raw score scales differ.

    Exactness: within-source position is an integer row_number (score,
    doc_id total order), the pooled target index j = ⌈r·N/n_s⌉ is pure
    integer arithmetic, and the pooled j-th order statistic comes from
    an interval-exploded (j → value) mapping table — the explode emits
    exactly N rows total (each pooled cumulative interval once), so
    the lookup is a plain equi-join on j, never a range join. The
    pooled cumulative counts ride the distributed `_bucketed_cum`
    walk; the per-source window is the per_source_cap shape (a domain
    is a partition).

    Output: (doc_id, source, score, norm_score) on the 1e-4 grid."""
    from spec_search_spark.functions.text import quality_score

    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("q"),
    ).select(
        "doc_id",
        "source",
        F.expr("cast(round(q * 1e4) as bigint)").alias("s4"),
    )
    n_total = docs.groupBy().agg(F.count(F.lit(1)).alias("nn"))
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    r = F.row_number().over(
        W.partitionBy("source").orderBy("s4", "doc_id")
    )
    ranked = (
        docs.withColumn("r", r)
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(n_total))
        .withColumn("j", F.expr("(r * nn + ns - 1) div ns"))
    )
    per_v = docs.groupBy("s4").agg(F.count(F.lit(1)).alias("c"))
    cum = _bucketed_cum(per_v, "s4", ["c"])
    mapping = cum.select(
        F.col("s4").alias("pool_s4"),
        F.explode(
            F.sequence(F.col("cum_c") - F.col("c") + 1, F.col("cum_c"))
        ).alias("j"),
    )
    return ranked.join(mapping, "j").select(
        "doc_id",
        "source",
        F.expr("s4 / 1e4").alias("score"),
        F.expr("pool_s4 / 1e4").alias("norm_score"),
    )


def _qnorm_sql() -> str:
    from spec_search_spark.functions.text import quality_score_sql

    return f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(round(({quality_score_sql("text")}) * 1e4) AS BIGINT) AS s4
  FROM documents
), nt AS (SELECT count(*) AS nn FROM d),
ps AS (SELECT source, count(*) AS ns FROM d GROUP BY source),
ranked AS (
  SELECT d.doc_id, d.source, d.s4,
         row_number() OVER (PARTITION BY d.source ORDER BY d.s4, d.doc_id)
           AS r,
         ps.ns, nt.nn
  FROM d JOIN ps USING (source) CROSS JOIN nt
), withj AS (
  SELECT *, (r * nn + ns - 1) // ns AS j FROM ranked
), per_v AS (
  SELECT s4, count(*) AS c FROM d GROUP BY s4
), cum AS (
  SELECT s4, c, CAST(sum(c) OVER (ORDER BY s4
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_c
  FROM per_v
), mapping AS (
  SELECT s4 AS pool_s4, unnest(range(cum_c - c + 1, cum_c + 1)) AS j
  FROM cum
)
SELECT w.doc_id, w.source, w.s4 / 1e4 AS score,
       m.pool_s4 / 1e4 AS norm_score
FROM withj w JOIN mapping m USING (j)
"""


QUANTILE_NORM_SQL = _qnorm_sql()


# --- per-hour exact percentile bands -----------------------------------------


def hourly_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 bands of event value per hour-of-day — the
    latency-percentile-panel shape every monitoring stack renders (a
    mean-based hourly profile hides the tail; p90 IS the alert line).
    Both percentiles are type-1 (lower) order statistics selected from
    ONE group-wise rank walk per deviation table — per-(hour, bucket)
    windows, so a hot hour parallelizes like any other — with the
    selection indices pure integer arithmetic (⌈n/2⌉, ⌈9n/10⌉).

    Output: (hod, n, p50_cents, p90_cents), 24 bounded rows."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.hour("ts").alias("hod"),
        F.expr("cast(round(value * 100) as bigint)").alias("v"),
    )
    per_v = ev.groupBy("hod", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = _bucketed_cum_by(per_v, "hod", "v", ["c"])
    tot = ev.groupBy("hod").agg(F.count(F.lit(1)).alias("n"))
    joined = cum.join(F.broadcast(tot), "hod")
    p50 = (
        joined.filter(F.expr("cum_c >= (n + 1) div 2"))
        .groupBy("hod")
        .agg(F.min("v").alias("p50_cents"))
    )
    p90 = (
        joined.filter(F.expr("cum_c >= (9 * n + 9) div 10"))
        .groupBy("hod")
        .agg(F.min("v").alias("p90_cents"))
    )
    return (
        tot.join(p50, "hod")
        .join(p90, "hod")
        .select("hod", "n", "p50_cents", "p90_cents")
    )


HOURLY_PCT_SQL = """
WITH ev AS (
  SELECT CAST(extract(hour FROM ts) AS INT) AS hod,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
), cum AS (
  SELECT hod, v, sum(c) OVER (PARTITION BY hod ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM (SELECT hod, v, count(*) AS c FROM ev GROUP BY 1, 2)
), tot AS (SELECT hod, count(*) AS n FROM ev GROUP BY hod),
p50 AS (
  SELECT cum.hod, min(v) AS p50_cents
  FROM cum JOIN tot ON tot.hod = cum.hod
  WHERE cum_c >= (n + 1) // 2 GROUP BY cum.hod
), p90 AS (
  SELECT cum.hod, min(v) AS p90_cents
  FROM cum JOIN tot ON tot.hod = cum.hod
  WHERE cum_c >= (9 * n + 9) // 10 GROUP BY cum.hod
)
SELECT t.hod, t.n, p50.p50_cents, p90.p90_cents
FROM tot t JOIN p50 ON p50.hod = t.hod JOIN p90 ON p90.hod = t.hod
"""


QUERIES = {
    "mannwhitney_priority_revenue": mannwhitney_priority_revenue,
    "quantile_normalize_scores": quantile_normalize_scores,
    "hourly_value_percentiles": hourly_value_percentiles,
    "spearman_qty_price": spearman_qty_price,
    "mad_outlier_orders": mad_outlier_orders,
    "kruskal_wallis_priority": kruskal_wallis_priority,
    "cochran_armitage_trend": cochran_armitage_trend,
    "grouped_mad_doclen": grouped_mad_doclen,
    "median_ci_orders": median_ci_orders,
}

ORACLES = {
    "mannwhitney_priority_revenue": MW_SQL,
    "quantile_normalize_scores": QUANTILE_NORM_SQL,
    "hourly_value_percentiles": HOURLY_PCT_SQL,
    "spearman_qty_price": SPEARMAN_SQL,
    "mad_outlier_orders": MAD_SQL,
    "kruskal_wallis_priority": KW_SQL,
    "cochran_armitage_trend": COCHRAN_ARMITAGE_SQL,
    "grouped_mad_doclen": GROUPED_MAD_SQL,
    "median_ci_orders": MEDIAN_CI_SQL,
}
