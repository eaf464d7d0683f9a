"""In-plan classical ML over the driver tables — the "ML without an ML
runtime" pack. The reference delegates every learned component to hosted
models (Chroma's MiniLM embedder, `app.py:35-36`; the GPT agent,
`sheet_creator_tool.py:162-165`); a training-data engine at 100 TB needs
the classic closed-form/iterative algorithms expressible as pure
aggregation plans, because that is what actually runs next to the data:

* `pca_power_iteration` — top principal component of the `embeddings`
  table: exact-integer covariance via two aggregation passes (sum →
  rounded mean → centered second moment), then 8 power-iteration steps
  on the tiny d×d matrix. The d² outer-product explode stays NARROW
  (no shuffle) and collapses map-side into 4096 partial-agg groups —
  the canonical "Gram matrix distributed, eigensolve tiny" split that
  scales to any row count.
* `nb_lang_classifier` — multinomial Naive Bayes trained in-plan on a
  deterministic 80% hash split of `documents`, evaluated on the held-out
  20%: the fastText-style lang/quality classifier of a data pipeline,
  as one DataFrame lineage. Log-probs are rounded to integer micro-nats
  BEFORE summation, so per-document scores are order-independent exact
  integer sums (stronger than round-after-avg).
* `ols_price_model` — 3-parameter linear regression (normal equations,
  Cramer's rule) of l_extendedprice on l_quantity and l_discount: the
  moment sums are exact integer-cents aggregations (one partial+final
  pass), the solve is a fixed closed-form expression tree evaluated on
  those exact sums — in-database regression with zero iterations.

Determinism contract (FIXTURES float rule): every sum that crosses an
engine boundary is integer-exact (scaled BIGINT / DECIMAL(38,0));
doubles appear only in fixed-arity expression trees evaluated on
identical inputs, then rounded. The shared closed-form strings (_DET3,
_OLS exprs) are evaluated by BOTH engines from the same SQL text, so
the operation order is identical by construction.

Scale notes (100 TB): PCA pass 1/2 are partial+final aggs over narrow
projections (d and d² groups — constant); the eigensolve touches only
the 4096-row matrix. NB's token-class log-prob table grows with the
vocabulary and is therefore shuffle-joined on the token key (never
broadcast — `dedup.BROADCAST_VOCAB_MAX` policy); the 5-row class table
IS broadcast. OLS is a single one-row aggregate. None of these collect
anything to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import tokens
from spec_search_spark.operators.dedup import _POLY_SQL, _poly_hash
from spec_search_spark.session import local_df, session_memo, spread, tune

# --------------------------------------------------------------------------
# PCA via power iteration on an exact-integer covariance matrix
# --------------------------------------------------------------------------

PCA_DIM = 64  # embeddings.embedding is fixed 64-dim (TESTDATA.md)
PCA_XSCALE = 10_000  # component grid: round(x * 1e4) — ints ≤ ~1.2e4 centered
PCA_VSCALE = 100_000  # eigenvector grid per iteration
PCA_ITERS = 8

# The Gram pass is the only data-sized stage of PCA — a sufficient-
# statistic artifact exactly like ivf's trained centroids, reusable by
# every eigensolve (and by any future whitening/OPQ op) without
# re-scanning.
@session_memo
def _covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, g): the 64×64 integer covariance matrix of the embedding
    cloud, memoized per (session, corpus). Two narrow partial+final
    aggregation passes over the data; the d²-row result is
    localCheckpointed so every eigensolve iteration joins a pinned
    4096-row table instead of re-deriving the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    xi = emb.select(
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double) * {PCA_XSCALE}) as bigint))"
        ).alias("xi")
    )
    # pass 1: exact per-dim sums -> mean snapped to the same integer grid
    dim_sums = xi.select(
        F.posexplode("xi").alias("dim", "x")
    ).groupBy("dim").agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    means_row = dim_sums.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(named_struct("
            "'dim', dim, 'm', cast(round(s / n) as bigint)))), p -> p.m)"
        ).alias("marr"),
        F.max("n").alias("n"),
    )
    # pass 2: centered outer products, narrow explode -> 4096-group agg
    cent = xi.crossJoin(F.broadcast(means_row)).select(
        F.expr("zip_with(xi, marr, (x, m) -> x - m)").alias("c"), "n"
    )
    prods = cent.select(
        "n",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {PCA_DIM - 1}), i -> "
                f"transform(sequence(0, {PCA_DIM - 1}), j -> "
                "named_struct('i', i, 'j', j, 'p', c[i] * c[j]))))"
            )
        ).alias("e"),
    ).select("n", F.col("e.i").alias("i"), F.col("e.j").alias("j"), F.col("e.p").alias("p"))
    # materialize the 4096-row matrix ONCE: every iteration joins
    # against it, and each iteration references its matvec result twice
    # (norm + update) — unmaterialized, the lineage would double per
    # step and re-run the covariance pass 2^ITERS times
    g = prods.groupBy("i", "j").agg(
        F.expr("cast(round(sum(p) / max(n)) as bigint)").alias("g")
    )
    return g.localCheckpoint(eager=True)


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (loading per dimension + eigenvalue) of
    the embedding cloud.

    Exactness: components are snapped to the 1e-4 grid; the per-dim sum
    and the centered second-moment sum are exact BIGINT aggregations
    (order-independent). The covariance entry is scaled per-row
    (`round(S/n)`) so matrix magnitudes are independent of corpus size —
    the matvec then fits BIGINT for any n, and the norm² fits
    DECIMAL(38,0). Each iteration re-snaps the vector to the 1e-5 grid,
    so both engines walk the identical integer sequence.

    Plan: two narrow partial+final aggs over the data (d=64 and d²=4096
    groups), then 8 joins over 4096/64-row tables — nothing wide ever
    shuffles. Reference anchor: this is the engine-side analog of the
    embedding-space geometry the reference outsources to MiniLM/HNSW
    (`app.py:35-39`).
    """
    tune(spark)
    g = _covariance_matrix(spark, sf_dir)
    # power iteration on the tiny matrix, all executor-side
    v = spark.range(PCA_DIM).select(
        F.col("id").cast("int").alias("j"), F.lit(PCA_VSCALE).cast("bigint").alias("v")
    )
    for _ in range(PCA_ITERS):
        w = (
            g.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.expr("g * v")).alias("w"))
        )
        w = w.localCheckpoint(eager=True)  # 64 rows; pins the shared node
        norm = w.groupBy().agg(
            F.expr("sqrt(cast(sum(cast(w as decimal(38,0)) * cast(w as decimal(38,0))) as double))").alias(
                "nrm"
            )
        )
        v = w.crossJoin(F.broadcast(norm)).select(
            F.col("i").alias("j"),
            F.expr(f"cast(round(cast(w as double) / nrm * {PCA_VSCALE}) as bigint)").alias("v"),
        )
    # Rayleigh quotient on the final vector: eigenvalue in original units
    w_fin = g.join(v.select(F.col("j"), F.col("v")), "j").groupBy("i").agg(
        F.sum(F.expr("g * v")).alias("w")
    )
    quot = (
        w_fin.join(v.select(F.col("j").alias("i"), F.col("v").alias("vi")), "i")
        .groupBy()
        .agg(
            F.expr("sum(cast(vi as decimal(38,0)) * cast(w as decimal(38,0)))").alias("num"),
            F.expr("sum(cast(vi as decimal(38,0)) * cast(vi as decimal(38,0)))").alias("den"),
        )
    )
    lam = quot.select(
        F.expr(
            f"round(cast(num as double) / cast(den as double) / {PCA_XSCALE * PCA_XSCALE}, 9)"
        ).alias("eigenvalue")
    )
    return (
        v.crossJoin(F.broadcast(lam))
        .select(
            F.col("j").cast("bigint").alias("dim"),
            F.expr(f"round(cast(v as double) / {PCA_VSCALE}, 5)").alias("loading"),
            "eigenvalue",
        )
        .orderBy("dim")
    )


def _pca_sql() -> str:
    """DuckDB oracle: the identical integer walk, iterations unrolled."""
    head = f"""
WITH xi AS (
  SELECT list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * {PCA_XSCALE}) AS BIGINT)) AS xi
  FROM embeddings
), xir AS (
  SELECT row_number() OVER () AS rid, xi FROM xi
), dimx AS (
  -- (vector, dim, x) rows: the outer product below is a rid-keyed
  -- self-join (hash join, 64 rows/key) — NOT a per-row list-lambda
  -- cross join, which DuckDB executes ~1000x slower here
  SELECT rid, i - 1 AS dim, xi[i] AS x
  FROM xir, generate_series(1, {PCA_DIM}) AS gs(i)
), dim_sums AS (
  SELECT dim, sum(x) AS s, count(*) AS n FROM dimx GROUP BY dim
), means AS (
  SELECT dim, CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS m FROM dim_sums
), nn AS (
  SELECT max(n) AS n FROM dim_sums
), cent AS (
  SELECT d.rid, d.dim, d.x - m.m AS c FROM dimx d JOIN means m USING (dim)
), g AS MATERIALIZED (
  -- MATERIALIZED: g is read by every unrolled iteration and each
  -- iteration reads its w twice — inlined CTEs would re-run the
  -- covariance join 2^ITERS times (the same lineage blowup the Spark
  -- side pins with localCheckpoint)
  SELECT a.dim AS i, b.dim AS j,
         CAST(round(CAST(sum(a.c * b.c) AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT) AS g
  FROM cent a JOIN cent b USING (rid) GROUP BY a.dim, b.dim
), v0 AS (
  SELECT i AS j, CAST({PCA_VSCALE} AS BIGINT) AS v
  FROM generate_series(0, {PCA_DIM - 1}) AS t(i)
)"""
    cte = ""
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        cte += f""",
w{t} AS MATERIALIZED (
  SELECT g.i, sum(g.g * v.v) AS w FROM g JOIN {prev} v ON g.j = v.j GROUP BY g.i
), n{t} AS (
  SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS DOUBLE)) AS nrm FROM w{t}
), v{t} AS MATERIALIZED (
  SELECT w.i AS j,
         CAST(round(CAST(w.w AS DOUBLE) / n.nrm * {PCA_VSCALE}) AS BIGINT) AS v
  FROM w{t} w CROSS JOIN n{t} n
)"""
        prev = f"v{t}"
    tail = f""",
wf AS (
  SELECT g.i, sum(g.g * v.v) AS w FROM g JOIN {prev} v ON g.j = v.j GROUP BY g.i
), ray AS (
  SELECT round(CAST(sum(CAST(v.v AS DECIMAL(38,0)) * CAST(w.w AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(sum(CAST(v.v AS DECIMAL(38,0)) * CAST(v.v AS DECIMAL(38,0))) AS DOUBLE)
             / {PCA_XSCALE * PCA_XSCALE}, 9) AS eigenvalue
  FROM wf w JOIN {prev} v ON w.i = v.j
)
SELECT CAST(v.j AS BIGINT) AS dim,
       round(CAST(v.v AS DOUBLE) / {PCA_VSCALE}, 5) AS loading,
       r.eigenvalue
FROM {prev} v CROSS JOIN ray r
ORDER BY dim"""
    return head + cte + tail


PCA_SQL = _pca_sql()


# --------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier, trained and scored in-plan
# --------------------------------------------------------------------------

NB_SPLIT_MOD = 5  # hash bucket 0 of 5 -> held-out eval fold (~20%)
NB_SCALE = 1_000_000  # log-probs as integer micro-nats (round BEFORE sum)


def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (true lang × predicted lang, doc counts) of a
    multinomial NB classifier trained on the 80% hash fold and scored
    on the held-out 20%.

    Model: Laplace-smoothed token likelihoods P(t|l)=(c+1)/(n_l+V) and
    doc-count priors, all from the train fold only (leakage-free by the
    same salted-hash split discipline as `train_val_split`). Scores are
    exact integer sums of micro-nat log-probs — rounding happens per
    TERM, so the per-doc sum is order-independent and the argmax is
    bit-identical across engines (ties break on lang ascending).

    Plan: token-class table is vocab×5 rows, shuffle-joined on token
    (grows with corpus — never broadcast); the 5-row class table and
    the one-row vocab count ARE broadcast. One window argmax per doc.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    fold = F.pmod(
        _poly_hash(F.concat(F.lit("nb:"), F.col("doc_id").cast("string"))),
        F.lit(NB_SPLIT_MOD),
    )
    base = docs.select("doc_id", "lang", tokens(F.col("text")).alias("t"), fold.alias("fold"))
    train = base.filter(F.col("fold") != 0)
    test = base.filter(F.col("fold") == 0)

    tr_tok = train.select("lang", F.explode("t").alias("tok"))
    vocab = tr_tok.groupBy().agg(F.countDistinct("tok").alias("vsz"))
    cls = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d_l"))
        .crossJoin(F.broadcast(train.groupBy().agg(F.count(F.lit(1)).alias("d"))))
        .join(
            tr_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l")),
            "lang",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.expr(f"cast(round(ln(d_l / cast(d as double)) * {NB_SCALE}) as bigint)").alias(
                "prior"
            ),
            F.expr(f"cast(round(ln(1.0 / (n_l + vsz)) * {NB_SCALE}) as bigint)").alias("unk"),
            "n_l",
            "vsz",
        )
    )
    llp = (
        tr_tok.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(cls.select("lang", "n_l", "vsz"), "lang")
        .select(
            "lang",
            "tok",
            F.expr(f"cast(round(ln((c + 1) / cast(n_l + vsz as double)) * {NB_SCALE}) as bigint)").alias(
                "lp"
            ),
        )
    )
    te_tok = test.select("doc_id", F.explode("t").alias("tok")).groupBy(
        "doc_id", "tok"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        te_tok.crossJoin(F.broadcast(cls.select("lang", "prior", "unk")))
        .join(llp, ["tok", "lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            (F.max("prior") + F.sum(F.col("cnt") * F.coalesce(F.col("lp"), F.col("unk")))).alias(
                "score"
            )
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.join(test.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


_NB_H = _POLY_SQL.format(s="'nb:' || CAST(doc_id AS VARCHAR)")
NB_SQL = rf"""
WITH base AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t,
         (({_NB_H} % {NB_SPLIT_MOD}) + {NB_SPLIT_MOD}) % {NB_SPLIT_MOD} AS fold
  FROM documents WHERE trim(text) <> ''
), train AS (SELECT * FROM base WHERE fold <> 0),
test AS (SELECT * FROM base WHERE fold = 0),
tr_tok AS (SELECT lang, unnest(t) AS tok FROM train),
vocab AS (SELECT count(DISTINCT tok) AS vsz FROM tr_tok),
cls AS (
  SELECT d.lang,
         CAST(round(ln(d.d_l / t.d) * {NB_SCALE}) AS BIGINT) AS prior,
         CAST(round(ln(1.0 / (n.n_l + v.vsz)) * {NB_SCALE}) AS BIGINT) AS unk,
         n.n_l, v.vsz
  FROM (SELECT lang, count(*) AS d_l FROM train GROUP BY lang) d
  CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS d FROM train) t
  JOIN (SELECT lang, count(*) AS n_l FROM tr_tok GROUP BY lang) n USING (lang)
  CROSS JOIN vocab v
),
llp AS (
  SELECT c.lang, c.tok,
         CAST(round(ln((c.c + 1) / CAST(k.n_l + k.vsz AS DOUBLE)) * {NB_SCALE}) AS BIGINT) AS lp
  FROM (SELECT lang, tok, count(*) AS c FROM tr_tok GROUP BY lang, tok) c
  JOIN cls k USING (lang)
),
te_tok AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS tok FROM test) x GROUP BY doc_id, tok
),
scored AS (
  SELECT t.doc_id, k.lang,
         max(k.prior) + sum(t.cnt * coalesce(l.lp, k.unk)) AS score
  FROM te_tok t CROSS JOIN cls k
  LEFT JOIN llp l ON l.tok = t.tok AND l.lang = k.lang
  GROUP BY t.doc_id, k.lang
),
pred AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scored) r WHERE rn = 1
)
SELECT e.lang AS true_lang, p.lang AS pred_lang, count(*) AS n_docs
FROM pred p JOIN test e USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Closed-form OLS via normal equations (Cramer's rule on exact moments)
# --------------------------------------------------------------------------

# the entire solve as ONE shared SQL expression text so both engines
# evaluate the identical double expression tree on identical exact sums
# per-row products fit BIGINT (p100 <= ~1e7 -> p*p <= 1e14); the SUMS
# accumulate in DECIMAL(38,0) so they stay exact at any row count
# (Spark's BIGINT sum would overflow ~1e5 rows of p100*p100)
_OLS_MOMENTS = """
  CAST(count(*) AS DOUBLE) AS n,
  CAST(sum(CAST(q100 AS DECIMAL(38,0))) AS DOUBLE) / 1e2 AS sq,
  CAST(sum(CAST(d100 AS DECIMAL(38,0))) AS DOUBLE) / 1e2 AS sd,
  CAST(sum(CAST(p100 AS DECIMAL(38,0))) AS DOUBLE) / 1e2 AS sp,
  CAST(sum(CAST(q100 * q100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS sqq,
  CAST(sum(CAST(q100 * d100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS sqd,
  CAST(sum(CAST(d100 * d100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS sdd,
  CAST(sum(CAST(q100 * p100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS sqp,
  CAST(sum(CAST(d100 * p100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS sdp,
  CAST(sum(CAST(p100 * p100 AS DECIMAL(38,0))) AS DOUBLE) / 1e4 AS spp
"""

_OLS_DET = (
    "(n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)"
    " + sd * (sq * sqd - sqq * sd))"
)
_OLS_B0 = (
    "(sp * (sqq * sdd - sqd * sqd) - sq * (sqp * sdd - sqd * sdp)"
    " + sd * (sqp * sqd - sqq * sdp))"
)
_OLS_B1 = (
    "(n * (sqp * sdd - sqd * sdp) - sp * (sq * sdd - sqd * sd)"
    " + sd * (sq * sdp - sqp * sd))"
)
_OLS_B2 = (
    "(n * (sqq * sdp - sqp * sqd) - sq * (sq * sdp - sqp * sd)"
    " + sp * (sq * sqd - sqq * sd))"
)
_OLS_OUT = f"""
  CAST(n AS BIGINT) AS n_rows,
  round({_OLS_B0} / {_OLS_DET}, 6) AS b0,
  round({_OLS_B1} / {_OLS_DET}, 6) AS b1,
  round({_OLS_B2} / {_OLS_DET}, 6) AS b2,
  round(1.0 - (spp - ({_OLS_B0} / {_OLS_DET}) * sp - ({_OLS_B1} / {_OLS_DET}) * sqp
             - ({_OLS_B2} / {_OLS_DET}) * sdp)
           / (spp - sp * sp / n), 6) AS r2
"""


def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit l_extendedprice ~ b0 + b1·l_quantity + b2·l_discount by the
    normal equations, entirely as one aggregation + a closed-form
    expression row.

    The moment matrix is accumulated in exact integer cents (BIGINT —
    one partial+final agg, order-independent); the 3×3 Cramer solve and
    R² evaluate the SAME SQL expression text in both engines, so the
    double arithmetic is the identical IEEE tree. This is the pattern a
    100 TB feature pipeline uses for calibration fits: zero iterations,
    zero driver collect, one shuffle of 10 partial sums per partition.
    """
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("q100"),
        F.expr("cast(round(l_discount * 100) as bigint)").alias("d100"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p100"),
    )
    li.createOrReplaceTempView("_ols_cents")
    return spark.sql(
        f"WITH m AS (SELECT {_OLS_MOMENTS} FROM _ols_cents) SELECT {_OLS_OUT} FROM m"
    )


OLS_SQL = f"""
WITH c AS (
  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q100,
         CAST(round(l_discount * 100) AS BIGINT) AS d100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
  FROM lineitem
), m AS (SELECT {_OLS_MOMENTS} FROM c)
SELECT {_OLS_OUT} FROM m
"""


# --------------------------------------------------------------------------
# K-fold cross-validated OLS — train moments by SUBTRACTION
# --------------------------------------------------------------------------

OLS_CV_FOLDS = 5

#: shared CTE body: per-fold raw DECIMAL moment sums → each fold's
#: TRAINING moments by exact subtraction (total − fold; the K models
#: cost ONE aggregation pass, not K) → micro-snapped Cramer β per fold
#: → held-out residuals as exact integers (r8 = 1e-8-dollar units) →
#: per-fold RMSE. `{src}` provides (fold, q100, d100, p100).
_OLS_CV_BODY = f"""
WITH pf AS (
  SELECT fold, count(*) AS fn,
         sum(CAST(q100 AS DECIMAL(38,0))) AS fsq,
         sum(CAST(d100 AS DECIMAL(38,0))) AS fsd,
         sum(CAST(p100 AS DECIMAL(38,0))) AS fsp,
         sum(CAST(q100 * q100 AS DECIMAL(38,0))) AS fsqq,
         sum(CAST(q100 * d100 AS DECIMAL(38,0))) AS fsqd,
         sum(CAST(d100 * d100 AS DECIMAL(38,0))) AS fsdd,
         sum(CAST(q100 * p100 AS DECIMAL(38,0))) AS fsqp,
         sum(CAST(d100 * p100 AS DECIMAL(38,0))) AS fsdp,
         sum(CAST(p100 * p100 AS DECIMAL(38,0))) AS fspp
  FROM {{src}} GROUP BY fold
), tt AS (
  SELECT sum(fn) AS n_all, sum(fsq) AS tsq, sum(fsd) AS tsd,
         sum(fsp) AS tsp, sum(fsqq) AS tsqq, sum(fsqd) AS tsqd,
         sum(fsdd) AS tsdd, sum(fsqp) AS tsqp, sum(fsdp) AS tsdp,
         sum(fspp) AS tspp
  FROM pf
), tm AS (
  SELECT f.fold,
         CAST(t.n_all - f.fn AS DOUBLE) AS n,
         CAST(t.tsq - f.fsq AS DOUBLE) / 1e2 AS sq,
         CAST(t.tsd - f.fsd AS DOUBLE) / 1e2 AS sd,
         CAST(t.tsp - f.fsp AS DOUBLE) / 1e2 AS sp,
         CAST(t.tsqq - f.fsqq AS DOUBLE) / 1e4 AS sqq,
         CAST(t.tsqd - f.fsqd AS DOUBLE) / 1e4 AS sqd,
         CAST(t.tsdd - f.fsdd AS DOUBLE) / 1e4 AS sdd,
         CAST(t.tsqp - f.fsqp AS DOUBLE) / 1e4 AS sqp,
         CAST(t.tsdp - f.fsdp AS DOUBLE) / 1e4 AS sdp,
         CAST(t.tspp - f.fspp AS DOUBLE) / 1e4 AS spp
  FROM pf f CROSS JOIN tt t
), beta AS (
  SELECT fold,
         CAST(round({_OLS_B0} / {_OLS_DET} * 1e6) AS BIGINT) AS b0m,
         CAST(round({_OLS_B1} / {_OLS_DET} * 1e6) AS BIGINT) AS b1m,
         CAST(round({_OLS_B2} / {_OLS_DET} * 1e6) AS BIGINT) AS b2m
  FROM tm
), ev AS (
  -- BROADCAST(b): beta is K rows, {{src}} is the corpus. Without the
  -- hint Catalyst (blind to the checkpointed RDD's true size) builds
  -- the hash on the CORPUS side and probes with the K beta rows, so
  -- the whole residual pass runs in the probe's single partition —
  -- measured 2 x 0.95 s single-task stages, the slot's dominant cost.
  -- DuckDB reads the hint as a plain comment.
  SELECT s.fold, count(*) AS n_test,
         sum(CAST(r8 AS DECIMAL(38,0)) * r8) AS ss
  FROM (SELECT /*+ BROADCAST(b) */ c.fold,
               c.p100 * 1000000 - b.b0m * 100
               - b.b1m * c.q100 - b.b2m * c.d100 AS r8
        FROM {{src}} c JOIN beta b ON b.fold = c.fold) s
  GROUP BY s.fold
)
SELECT CAST(fold AS BIGINT) AS fold, CAST(n_test AS BIGINT) AS n_test,
       CAST(round(sqrt(CAST(ss AS DOUBLE) / n_test) / 1e8 * 1e6) AS BIGINT)
         / 1e6 AS rmse_6
FROM ev ORDER BY fold
"""


def ols_cv_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated OLS of l_extendedprice on quantity and
    discount: one row per fold with the held-out RMSE — the honest
    generalization number next to `ols_price_model`'s in-sample R².

    The trick that makes CV free at scale: each fold's TRAINING moment
    matrix is total − fold (exact DECIMAL subtraction), so all K models
    come from the SAME single partial+final moment pass the plain fit
    uses; β is micro-snapped so held-out residuals are exact integers
    (1e-8-dollar units) and the squared-error sums are
    order-independent. Folds are the salted poly-hash of the row key
    (leakage-free, engine-identical)."""
    tune(spark)
    # spread BEFORE the fold-hash projection: the salted poly hash (an
    # Arrow-batched kernel) runs once in the moment pass and once in
    # the residual pass, and the local single-row-group scan would run
    # both on ONE core (spread is a guarded no-op at scale — see
    # session.spread).
    raw = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_extendedprice",
        )
    )
    li = raw.select(
        F.pmod(
            _poly_hash(
                F.concat(
                    F.lit("cv:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            F.lit(OLS_CV_FOLDS),
        ).alias("fold"),
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("q100"),
        F.expr("cast(round(l_discount * 100) as bigint)").alias("d100"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p100"),
    )
    # pin the hashed cents table: the moment pass AND the residual pass
    # both read it, and lazily each would re-run the fold-hash kernel
    # over the corpus (2× the slot's dominant cost). 4 narrow int64
    # columns over lineitem — CORPUS-proportional (≈32 B/row), not
    # node-sized: acceptable as distributed checkpoint blocks (reaped
    # on driver GC), and the pin is an executor-memory/disk trade a
    # fault-tolerant deployment would make with persist() instead
    # (localCheckpoint forfeits lineage recompute on executor loss).
    li = li.localCheckpoint(eager=True)
    li.createOrReplaceTempView("_ols_cv_cents")
    return spark.sql(_OLS_CV_BODY.format(src="_ols_cv_cents"))


_CV_H = _POLY_SQL.format(
    s="'cv:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)

OLS_CV_SQL = (
    f"""
WITH _cv_src AS (
  SELECT (({_CV_H} % {OLS_CV_FOLDS}) + {OLS_CV_FOLDS}) % {OLS_CV_FOLDS} AS fold,
         CAST(round(l_quantity * 100) AS BIGINT) AS q100,
         CAST(round(l_discount * 100) AS BIGINT) AS d100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
  FROM lineitem
), """
    + _OLS_CV_BODY.format(src="_cv_src").replace("\nWITH ", "", 1)
)


# --------------------------------------------------------------------------
# Logistic regression via IRLS (iteratively reweighted least squares)
# --------------------------------------------------------------------------

LOGREG_ITERS = 4
LOGREG_RIDGE = 0.001  # diagonal ridge: bounds coefficients under separation
LOGREG_LABEL_CHARS = 200  # y = 1 iff n_chars >= this (a learnable target)

# Per-row scoring fragments, shared verbatim by both engines so the
# double expression trees are identical. beta lives as INTEGER
# micro-units (b?6); features on the 1e-4 grid (x?_4 bigint). The
# linear predictor's numerator is exact bigint arithmetic; only the
# sigmoid itself is double, and its output is immediately snapped to
# the 1e-6 grid (clamped off 0/1 so the IRLS weight never vanishes).
_LR_P6 = (
    "least(greatest(CAST(round("
    "1.0 / (1.0 + exp(-(CAST(b06 * 10000 + b16 * x1_4 + b26 * x2_4 AS DOUBLE) / 1e10)))"
    " * 1000000) AS BIGINT), 1), 999999)"
)
# IRLS weight p(1-p) on the 1e-8 grid: per-row term products then fit
# BIGINT (max x?_4 * x?_4 * w8 ~ 2.5e17); sums accumulate DECIMAL(38,0)
_LR_W8 = "CAST(floor((p6 * (1000000.0 - p6)) / 10000.0) AS BIGINT)"
_LR_R6 = "y * 1000000 - p6"

# per-row products run with a DECIMAL(38,0) leading operand so they never
# pass through int64: x1_4 = n_tok·100, so x1_4·x1_4·w8 overflows BIGINT
# for docs with n_tok ≳ 5,000 — Spark (non-ANSI) would wrap silently while
# DuckDB raises, i.e. silent wrong β vs a crash. DECIMAL(38,0)·BIGINT
# multiplies to DECIMAL(38,0) identically in both engines (tested).
_LR_MOMS = [
    ("s00", "sum(CAST(CAST(100000000 AS DECIMAL(38,0)) * w8 AS DECIMAL(38,0)))"),
    ("s01", "sum(CAST(CAST(10000 AS DECIMAL(38,0)) * x1_4 * w8 AS DECIMAL(38,0)))"),
    ("s02", "sum(CAST(CAST(10000 AS DECIMAL(38,0)) * x2_4 * w8 AS DECIMAL(38,0)))"),
    ("s11", "sum(CAST(CAST(x1_4 AS DECIMAL(38,0)) * x1_4 * w8 AS DECIMAL(38,0)))"),
    ("s12", "sum(CAST(CAST(x1_4 AS DECIMAL(38,0)) * x2_4 * w8 AS DECIMAL(38,0)))"),
    ("s22", "sum(CAST(CAST(x2_4 AS DECIMAL(38,0)) * x2_4 * w8 AS DECIMAL(38,0)))"),
    ("g0n", "sum(CAST(CAST(10000 AS DECIMAL(38,0)) * r6 AS DECIMAL(38,0)))"),
    ("g1n", "sum(CAST(CAST(x1_4 AS DECIMAL(38,0)) * r6 AS DECIMAL(38,0)))"),
    ("g2n", "sum(CAST(CAST(x2_4 AS DECIMAL(38,0)) * r6 AS DECIMAL(38,0)))"),
    ("b06", "max(b06)"),
    ("b16", "max(b16)"),
    ("b26", "max(b26)"),
]

# stage A: exact decimal sums -> real-unit normal-equation entries
# (XtWX is /1e16: two 1e-4 feature grids x the 1e-8 weight grid), ridge
# on the diagonal; stage B: 3x3 Cramer solve, step snapped to micro-units
_LR_STAGE_A = [
    ("a00", f"CAST(s00 AS DOUBLE) / 1e16 + {LOGREG_RIDGE}"),
    ("a01", "CAST(s01 AS DOUBLE) / 1e16"),
    ("a02", "CAST(s02 AS DOUBLE) / 1e16"),
    ("a11", f"CAST(s11 AS DOUBLE) / 1e16 + {LOGREG_RIDGE}"),
    ("a12", "CAST(s12 AS DOUBLE) / 1e16"),
    ("a22", f"CAST(s22 AS DOUBLE) / 1e16 + {LOGREG_RIDGE}"),
    ("g0", "CAST(g0n AS DOUBLE) / 1e10"),
    ("g1", "CAST(g1n AS DOUBLE) / 1e10"),
    ("g2", "CAST(g2n AS DOUBLE) / 1e10"),
    ("b06", "b06"),
    ("b16", "b16"),
    ("b26", "b26"),
]

_LR_DET = (
    "(a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02)"
    " + a02 * (a01 * a12 - a11 * a02))"
)
_LR_DET0 = (
    "(g0 * (a11 * a22 - a12 * a12) - a01 * (g1 * a22 - a12 * g2)"
    " + a02 * (g1 * a12 - a11 * g2))"
)
_LR_DET1 = (
    "(a00 * (g1 * a22 - a12 * g2) - g0 * (a01 * a22 - a12 * a02)"
    " + a02 * (a01 * g2 - g1 * a02))"
)
_LR_DET2 = (
    "(a00 * (a11 * g2 - g1 * a12) - a01 * (a01 * g2 - g1 * a02)"
    " + g0 * (a01 * a12 - a11 * a02))"
)
_LR_STAGE_B = [
    ("b06", f"b06 + CAST(round({_LR_DET0} / {_LR_DET} * 1000000) AS BIGINT)"),
    ("b16", f"b16 + CAST(round({_LR_DET1} / {_LR_DET} * 1000000) AS BIGINT)"),
    ("b26", f"b26 + CAST(round({_LR_DET2} / {_LR_DET} * 1000000) AS BIGINT)"),
]

_LR_OUT = """
  n AS n_docs,
  round(CAST(b06 AS DOUBLE) / 1e6, 6) AS b0,
  round(CAST(b16 AS DOUBLE) / 1e6, 6) AS b1,
  round(CAST(b26 AS DOUBLE) / 1e6, 6) AS b2,
  CAST(round(correct * 1000000.0 / n) AS BIGINT) AS accuracy_ppm
"""


def _logreg_feats(docs: DataFrame) -> DataFrame:
    """The (y, x1_4, x2_4) feature projection of the documents table —
    a pure stateless row expression, shared by `_trained_logreg` and
    the streaming scoring twin (`streaming.incremental.
    stream_roc_auc_query` scores a documents STREAM with the
    batch-trained β; the features must be the same expression text)."""
    base = docs.select(
        F.col("n_chars"), tokens(F.col("text")).alias("t")
    ).selectExpr(
        f"CASE WHEN n_chars >= {LOGREG_LABEL_CHARS} THEN 1 ELSE 0 END AS y",
        "size(t) AS n_tok",
        "size(array_distinct(t)) AS n_dist",
    )
    return base.selectExpr(
        "y",
        "CAST(n_tok * 100 AS BIGINT) AS x1_4",
        "CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(floor(n_dist * 10000.0 / n_tok) AS BIGINT) END AS x2_4",
    )


# The IRLS walk is a model-training artifact like the kmeans centroids /
# IVF quantizer — trained once per session, consumed live by every
# evaluation pass (accuracy report, calibration report).
@session_memo
def _trained_logreg(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(feature table, 1-row β table) after LOGREG_ITERS IRLS steps;
    both pinned (localCheckpoint)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    feats = _logreg_feats(docs).localCheckpoint(eager=True)

    beta = spark.sql(
        "SELECT CAST(0 AS BIGINT) AS b06, CAST(0 AS BIGINT) AS b16,"
        " CAST(0 AS BIGINT) AS b26"
    )
    for _ in range(LOGREG_ITERS):
        per = (
            feats.crossJoin(F.broadcast(beta))
            .selectExpr("*", f"{_LR_P6} AS p6")
            .selectExpr("*", f"{_LR_W8} AS w8", f"{_LR_R6} AS r6")
        )
        mom = per.groupBy().agg(
            *[F.expr(e).alias(n) for n, e in _LR_MOMS]
        )
        sa = mom.selectExpr(*[f"{e} AS {n}" for n, e in _LR_STAGE_A])
        beta = sa.selectExpr(
            *[f"{e} AS {n}" for n, e in _LR_STAGE_B]
        ).localCheckpoint(eager=True)
    return feats, beta


def logreg_irls_doc_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression trained in-plan by 4 IRLS steps: the
    long-document predictor y = [n_chars ≥ 200] ~ sigmoid(b0 + b1·
    tokens/100 + b2·distinct-token-ratio) — the classifier-shaped
    quality gate (fastText-style) a training pipeline fits next to the
    data instead of exporting features to an ML runtime.

    Determinism walk (FIXTURES float rule): features snap to the 1e-4
    grid in exact integer arithmetic; β lives as integer micro-units;
    each step's linear predictor is an exact BIGINT dot product; the
    sigmoid output snaps to the 1e-6 grid (clamped off 0/1) and the
    IRLS weight to 1e-8, so the XᵀWX / Xᵀ(y−p) moment sums are exact
    DECIMAL(38,0) aggregations — order-independent at any parallelism.
    The 3×3 ridge-regularized Cramer solve evaluates the SAME SQL
    expression text in both engines, and the step re-snaps β, so both
    engines walk an identical integer β sequence. The only cross-engine
    float hazard is exp() landing within one ulp of a 1e-6 snap
    boundary (~1e-10 per evaluation) — the accepted risk class of the
    lm_quality/drift log-domain operators.

    Plan: one feature pass (partial+final, then localCheckpoint of the
    few-KB-per-1000-docs feature projection), per step ONE partial+final
    9-sum aggregation over a broadcast 1-row β, per-iteration state is
    a pinned 1-row table — at 100 TB: 4 linear scans + 4 one-row
    shuffles, no collect, no vocabulary state. Reference anchor: the
    reference has no trained gate at all (its only scoring is Chroma
    distance, `search.py:24-33`); this is the missing quality-filter
    trainer of SURVEY §2's V6 pipeline family.
    """
    feats, beta = _trained_logreg(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(beta)).selectExpr("y", f"{_LR_P6} AS p6")
    agg = scored.groupBy().agg(
        F.expr("count(*)").alias("n"),
        F.expr(
            "sum(CASE WHEN (p6 >= 500000) = (y = 1) THEN 1 ELSE 0 END)"
        ).alias("correct"),
    )
    return agg.crossJoin(F.broadcast(beta)).selectExpr(*_LR_OUT.strip().split(",\n"))


def _logreg_sql() -> str:
    """DuckDB oracle: the identical integer IRLS walk, steps unrolled."""
    moms = ", ".join(f"{e} AS {n}" for n, e in _LR_MOMS)
    sa = ", ".join(f"{e} AS {n}" for n, e in _LR_STAGE_A)
    sb = ", ".join(f"{e} AS {n}" for n, e in _LR_STAGE_B)
    head = f"""
WITH tk AS (
  SELECT n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) END AS n_dist
  FROM documents
), feats AS MATERIALIZED (
  SELECT CASE WHEN n_chars >= {LOGREG_LABEL_CHARS} THEN 1 ELSE 0 END AS y,
         CAST(n_tok * 100 AS BIGINT) AS x1_4,
         CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(n_dist * 10000.0 / n_tok) AS BIGINT) END AS x2_4
  FROM tk
), it0 AS (
  SELECT CAST(0 AS BIGINT) AS b06, CAST(0 AS BIGINT) AS b16, CAST(0 AS BIGINT) AS b26
)"""
    cte = ""
    prev = "it0"
    for t in range(1, LOGREG_ITERS + 1):
        cte += f""",
pa{t} AS (
  SELECT f.y, f.x1_4, f.x2_4, b.b06, b.b16, b.b26, {_LR_P6} AS p6
  FROM feats f CROSS JOIN {prev} b
), pb{t} AS (
  SELECT *, {_LR_W8} AS w8, {_LR_R6} AS r6 FROM pa{t}
), mom{t} AS (
  SELECT {moms} FROM pb{t}
), sa{t} AS (
  SELECT {sa} FROM mom{t}
), it{t} AS MATERIALIZED (
  SELECT {sb} FROM sa{t}
)"""
        prev = f"it{t}"
    tail = f""",
score AS (
  SELECT f.y, {_LR_P6} AS p6 FROM feats f CROSS JOIN {prev} b
), agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN (p6 >= 500000) = (y = 1) THEN 1 ELSE 0 END) AS correct
  FROM score
)
SELECT {_LR_OUT} FROM agg CROSS JOIN {prev}"""
    return head + cte + tail


LOGREG_SQL = _logreg_sql()


# --- calibration (reliability) report over the trained model ----------------

_LR_BIN = "CAST(floor(p6 / 100000.0) AS INT)"
_LR_CAL_OUT = """
  bin,
  n AS n_docs,
  CAST(round(sum_p6 / CAST(n AS DOUBLE)) AS BIGINT) AS mean_pred_ppm,
  CAST(round(sum_y * 1000000.0 / n) AS BIGINT) AS obs_rate_ppm,
  CAST(round(sum_p6 / CAST(n AS DOUBLE)) AS BIGINT)
    - CAST(round(sum_y * 1000000.0 / n) AS BIGINT) AS gap_ppm
"""


def logreg_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained logistic model: docs bucketed
    by predicted-probability decile, mean predicted probability vs
    observed positive rate per bucket (both in exact ppm) and their
    gap — the calibration check that accompanies accuracy/AUC in a
    model-evaluation suite (a well-calibrated quality gate can be
    thresholded by expected precision; a miscalibrated one cannot).

    Consumes the session-trained β artifact (`_trained_logreg`, the
    kmeans/IVF train-once semantics); the report itself is one
    partial+final pass over the pinned feature table — grouped into at
    most 10 rows of bounded state. Oracle: the identical unrolled IRLS
    walk with the binning tail."""
    feats, beta = _trained_logreg(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(beta)).selectExpr(
        "y", f"{_LR_P6} AS p6"
    )
    per_bin = (
        scored.selectExpr("y", "p6", f"{_LR_BIN} AS bin")
        .groupBy("bin")
        .agg(
            F.expr("count(*)").alias("n"),
            F.expr("sum(y)").alias("sum_y"),
            F.expr("sum(p6)").alias("sum_p6"),
        )
    )
    return per_bin.selectExpr(*_LR_CAL_OUT.strip().split(",\n"))


def _logreg_calibration_sql() -> str:
    full = _logreg_sql()
    sep = ",\nscore AS ("
    if full.count(sep) != 1:  # fail LOUDLY at import if the tail drifts
        raise AssertionError(
            "_logreg_sql tail format changed; calibration oracle builder "
            "must be updated in step"
        )
    walk = full.rsplit(sep, 1)[0]
    prev = f"it{LOGREG_ITERS}"
    return f"""{walk},
score AS (
  SELECT f.y, {_LR_P6} AS p6 FROM feats f CROSS JOIN {prev} b
), per_bin AS (
  SELECT {_LR_BIN} AS bin, count(*) AS n, sum(y) AS sum_y, sum(p6) AS sum_p6
  FROM score GROUP BY 1
)
SELECT {_LR_CAL_OUT} FROM per_bin"""


LOGREG_CAL_SQL = _logreg_calibration_sql()


# ---------------------------------------------------------------------------
# Decision stump (depth-1 CART) — exhaustive in-plan split search
# ---------------------------------------------------------------------------

STUMP_BINS = 16
STUMP_LANG = "en"
STUMP_SCALE = 1_000_000_000  # Gini snapped to integer nano-units for argmin


def decision_stump_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 CART trained fully in-plan: the best (feature, threshold)
    split predicting `lang == 'en'` from three integer document
    features (n_chars, token count, stopword hits), chosen by minimum
    weighted Gini impurity over all {feature} × {bin-edge} candidates.

    The search space is BOUNDED BY CONSTRUCTION: each feature quantizes
    to STUMP_BINS equal-width bins from a 3-row broadcast bounds table,
    so candidate statistics are one partial+final aggregation into
    ≤ 3·16 groups + a triangular broadcast self-join (16² per feature)
    — the xgboost-histogram trick as a plain DataFrame plan; no sort,
    no per-row window, no driver collect. Split counts are exact
    integers; the Gini expression is one fixed-arity double tree from
    identical SQL text, snapped to nano-units before the argmin
    (rounded-then-argmax determinism, as triplet_mining); the final
    ORDER BY carries the unique (feature, bin) tiebreaker."""
    tune(spark)
    from spec_search_spark.functions.text import STOPWORDS, token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text", "n_chars"
    )
    stop_hits = " + ".join(
        f"size(regexp_extract_all(lower(text), '\\\\b{w}\\\\b', 0))"
        for w in STOPWORDS
    )
    feats = docs.select(
        (F.col("lang") == STUMP_LANG).cast("int").alias("y"),
        F.col("n_chars").alias("f_chars"),
        token_count(F.col("text")).alias("f_tok"),
        F.expr(f"cast({stop_hits} as bigint)").alias("f_stop"),
    )
    long = feats.select(
        "y",
        F.expr(
            "stack(3, 'n_chars', f_chars, 'n_tok', f_tok, 'n_stop', f_stop)"
            " as (feature, v)"
        ),
    )
    bounds = long.groupBy("feature").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = long.join(F.broadcast(bounds), "feature").select(
        "feature",
        "y",
        "lo",
        "hi",
        F.least(
            F.lit(STUMP_BINS - 1),
            F.expr(f"(v - lo) * {STUMP_BINS} div (hi - lo + 1)"),
        ).alias("bin"),
    )
    per_bin = binned.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("p"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
    tot = per_bin.groupBy("feature").agg(
        F.sum("n").alias("nn"), F.sum("p").alias("pp")
    )
    lo_side = per_bin.select(
        F.col("feature").alias("lf"),
        F.col("bin").alias("lb"),
        F.col("n").alias("ln"),
        F.col("p").alias("lp"),
    )
    cand = (
        per_bin.join(
            F.broadcast(lo_side),
            (F.col("lf") == F.col("feature")) & (F.col("lb") <= F.col("bin")),
        )
        .groupBy("feature", "bin")
        .agg(
            F.sum("ln").alias("nl"),
            F.sum("lp").alias("pl"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
        .join(F.broadcast(tot), "feature")
        .filter(F.expr("nl > 0 and nn - nl > 0"))
    )
    gini = (
        "(nl - (cast(pl as double) * pl + cast(nl - pl as double) * (nl - pl)) / nl"
        " + (nn - nl)"
        " - (cast(pp - pl as double) * (pp - pl)"
        "    + cast((nn - nl) - (pp - pl) as double) * ((nn - nl) - (pp - pl)))"
        "   / (nn - nl)) / nn"
    )
    return (
        cand.select(
            "feature",
            "bin",
            F.expr(
                f"lo + ((bin + 1) * (hi - lo + 1) + {STUMP_BINS - 1})"
                f" div {STUMP_BINS}"
            ).alias("thr_lt"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("pl").cast("bigint").alias("pos_left"),
            (F.col("nn") - F.col("nl")).cast("bigint").alias("n_right"),
            (F.col("pp") - F.col("pl")).cast("bigint").alias("pos_right"),
            F.expr(f"cast(round(({gini}) * {STUMP_SCALE}) as bigint)").alias(
                "g_n"
            ),
        )
        .select(
            "feature",
            "bin",
            "thr_lt",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.expr(f"cast(g_n div 1000 as bigint) / 1e6").alias("gini_6"),
            "g_n",
        )
        .orderBy("g_n", "feature", "bin")
        .limit(1)
        .drop("g_n")
    )


def _stump_sql() -> str:
    from spec_search_spark.functions.text import STOPWORDS

    stop_hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in STOPWORDS
    )
    ntok = (
        "CASE WHEN trim(text) = '' THEN 0"
        " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    gini = (
        "(nl - (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl"
        " + (nn - nl)"
        " - (CAST(pp - pl AS DOUBLE) * (pp - pl)"
        "    + CAST((nn - nl) - (pp - pl) AS DOUBLE) * ((nn - nl) - (pp - pl)))"
        "   / (nn - nl)) / nn"
    )
    return f"""
WITH feats AS (
  SELECT CAST(lang = '{STUMP_LANG}' AS INT) AS y,
         n_chars AS f_chars,
         CAST({ntok} AS BIGINT) AS f_tok,
         CAST({stop_hits} AS BIGINT) AS f_stop
  FROM documents
), long AS (
  SELECT y, 'n_chars' AS feature, f_chars AS v FROM feats
  UNION ALL SELECT y, 'n_tok', f_tok FROM feats
  UNION ALL SELECT y, 'n_stop', f_stop FROM feats
), bounds AS (
  SELECT feature, min(v) AS lo, max(v) AS hi FROM long GROUP BY feature
), binned AS (
  SELECT l.feature, l.y, b.lo, b.hi,
         least({STUMP_BINS - 1},
               (l.v - b.lo) * {STUMP_BINS} // (b.hi - b.lo + 1)) AS bin
  FROM long l JOIN bounds b ON b.feature = l.feature
), per_bin AS (
  SELECT feature, bin, count(*) AS n, sum(y) AS p,
         max(lo) AS lo, max(hi) AS hi
  FROM binned GROUP BY feature, bin
), tot AS (
  SELECT feature, sum(n) AS nn, sum(p) AS pp FROM per_bin GROUP BY feature
), cand AS (
  SELECT a.feature, a.bin, sum(b.n) AS nl, sum(b.p) AS pl,
         max(a.lo) AS lo, max(a.hi) AS hi
  FROM per_bin a JOIN per_bin b
    ON b.feature = a.feature AND b.bin <= a.bin
  GROUP BY a.feature, a.bin
), scored AS (
  SELECT c.feature, c.bin,
         lo + ((c.bin + 1) * (hi - lo + 1) + {STUMP_BINS - 1})
           // {STUMP_BINS} AS thr_lt,
         nl AS n_left, pl AS pos_left,
         nn - nl AS n_right, pp - pl AS pos_right,
         CAST(round(({gini}) * {STUMP_SCALE}) AS BIGINT) AS g_n
  FROM cand c JOIN tot t ON t.feature = c.feature
  WHERE nl > 0 AND nn - nl > 0
)
SELECT feature, CAST(bin AS BIGINT) AS bin, CAST(thr_lt AS BIGINT) AS thr_lt,
       CAST(n_left AS BIGINT) AS n_left, CAST(pos_left AS BIGINT) AS pos_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(pos_right AS BIGINT) AS pos_right,
       CAST(g_n // 1000 AS BIGINT) / 1e6 AS gini_6
FROM scored ORDER BY g_n, feature, bin LIMIT 1
"""


STUMP_SQL = _stump_sql()


# --------------------------------------------------------------------------
# Pearson correlation matrix — every pair from ONE moment pass
# --------------------------------------------------------------------------

#: (name, integer-cents expression) per feature column
_CORR_VARS = [
    ("quantity", "CAST(round(l_quantity * 100) AS BIGINT)"),
    ("discount", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 100) AS BIGINT)"),
    ("price", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
]


def _corr_matrix_body(src: str) -> str:
    """Shared CTE text: one partial+final aggregation accumulates every
    first and second moment of the 4 features in DECIMAL(38,0) (exact
    at any parallelism; headroom to ~1e10 rows since n·Σx² stays under
    1e35), then each pairwise Pearson r is a fixed-arity double
    expression over those exact integers — numerators/variances
    subtracted in DECIMAL, cast to double once, snapped to 1e-6. Both
    engines evaluate the IDENTICAL text, so the IEEE tree matches."""
    names = [n for n, _ in _CORR_VARS]
    sums = ", ".join(
        [f"count(*) AS n"]
        + [f"sum(CAST(v_{n} AS DECIMAL(38,0))) AS s_{n}" for n in names]
        + [
            f"sum(CAST(v_{a} * v_{b} AS DECIMAL(38,0))) AS s_{a}_{b}"
            for i, a in enumerate(names)
            for b in names[i:]
        ]
    )
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = f"CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
            va = f"CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
            vb = f"CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)"
            rows.append(
                f"SELECT '{a}' AS var_x, '{b}' AS var_y, "
                f"CAST(round(({num}) / sqrt(({va}) * ({vb})) * 1e6) AS BIGINT)"
                f" / 1e6 AS corr FROM m"
            )
        rows.append(
            f"SELECT '{a}' AS var_x, '{a}' AS var_y, CAST(1.0 AS DOUBLE)"
            f" AS corr FROM m"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"WITH m AS (SELECT {sums} FROM {src})\n{union}"


def feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pearson correlation matrix of the lineitem numeric features
    (quantity, discount, tax, extendedprice) from ONE aggregation pass
    — the redundant-feature screen a feature pipeline runs before
    training (Cramér's V is its categorical sibling; Spearman its rank
    sibling). The scan shuffles 15 partial sums per partition and
    nothing else; the matrix itself is a fixed 10-row expression over
    the one moment row, so the cost is a single corpus scan at any n.
    """
    tune(spark)
    cents = ", ".join(f"{expr} AS v_{n}" for n, expr in _CORR_VARS)
    load_table(spark, sf_dir, "lineitem").selectExpr(
        cents.split(", ")
    ).createOrReplaceTempView("_corr_cents")
    return spark.sql(_corr_matrix_body("_corr_cents"))


_CORR_CENTS_SQL = ", ".join(f"{expr} AS v_{n}" for n, expr in _CORR_VARS)
CORR_MATRIX_SQL = _corr_matrix_body(
    f"(SELECT {_CORR_CENTS_SQL} FROM lineitem)"
)


# --------------------------------------------------------------------------
# Mahalanobis outlier gate — multivariate, from the same one-pass moments
# --------------------------------------------------------------------------

MAHAL_CHI2_999 = 13.8155  # chi-square(2 df) 0.999 quantile

#: shared per-row quadratic form (identical text in both engines):
#: moments arrive as exactly-rounded doubles of exact DECIMAL sums,
#: u/v are the multiply-through-by-n centered coordinates.
_MAHAL_D2 = (
    "cast(round(((n * syy - sy * sy) * (n * x - sx) * (n * x - sx)"
    " - 2 * (n * sxy - sx * sy) * (n * x - sx) * (n * y - sy)"
    " + (n * sxx - sx * sx) * (n * y - sy) * (n * y - sy))"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)"
    " - (n * sxy - sx * sy) * (n * sxy - sx * sy)) * 1e6) as bigint) / 1e6"
)


def mahalanobis_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional Mahalanobis outlier gate over (l_quantity,
    l_extendedprice): d² = (Bu² − 2Cuv + Av²)/(AB − C²) with
    u = n·x − Sx, v = n·y − Sy, A = n·Sxx − Sx², B = n·Syy − Sy²,
    C = n·Sxy − SxSy — the multiply-through-by-n trick makes every
    centering an exact DECIMAL(38,0) integer, so Σ⁻¹ never exists as a
    float matrix and the only doubles are one fixed-arity expression
    per row from shared SQL text, snapped. The covariance-aware screen
    `mad_outlier_orders` (univariate) cannot do: a point can be 3σ
    inside BOTH margins yet far off the correlation ridge.

    Plan: one moment pass (partial+final, 6 sums) broadcast as one
    row; the per-row quadratic form is pure codegen; the report is a
    per-returnflag partial+final agg. Two scans total at any n.

    Output: (l_returnflag, n, n_out, max_d2) with the χ²₂(0.999) gate."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("x"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("y"),
    )
    m = li.selectExpr(
        "cast(count(*) as double) as n",
        "cast(sum(cast(x as decimal(38,0))) as double) as sx",
        "cast(sum(cast(y as decimal(38,0))) as double) as sy",
        "cast(sum(cast(x as decimal(38,0)) * x) as double) as sxx",
        "cast(sum(cast(y as decimal(38,0)) * y) as double) as syy",
        "cast(sum(cast(x as decimal(38,0)) * y) as double) as sxy",
    )
    scored = li.crossJoin(F.broadcast(m)).selectExpr(
        "l_returnflag", f"{_MAHAL_D2} AS d2"
    )
    return scored.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr(f"CASE WHEN d2 > {MAHAL_CHI2_999} THEN 1 ELSE 0 END")
        ).cast("bigint").alias("n_out"),
        F.max("d2").alias("max_d2"),
    )


MAHALANOBIS_SQL = f"""
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
  FROM c
), scored AS (
  SELECT l_returnflag, {_MAHAL_D2} AS d2
  FROM c CROSS JOIN m
)
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CASE WHEN d2 > {MAHAL_CHI2_999} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out,
       max(d2) AS max_d2
FROM scored GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Split-conformal prediction interval for the OLS price model
# --------------------------------------------------------------------------

CONF_SPLIT_MOD = 5  # hash bucket 0 of 5 -> calibration fold (~20%)
CONF_COV_NUM, CONF_COV_DEN = 9, 10  # target coverage 0.9

#: shared dialect-portable fragment: snapped micro-dollar β from the
#: train-fold moment matrix (the ols_cv_rmse snap, so calibration
#: residuals are exact integers in 1e-8-dollar units).
_CONF_BETA_BODY = f"""
WITH m AS (SELECT {_OLS_MOMENTS} FROM {{src}} WHERE fold <> 0)
SELECT CAST(round({_OLS_B0} / {_OLS_DET} * 1e6) AS BIGINT) AS b0m,
       CAST(round({_OLS_B1} / {_OLS_DET} * 1e6) AS BIGINT) AS b1m,
       CAST(round({_OLS_B2} / {_OLS_DET} * 1e6) AS BIGINT) AS b2m
FROM m
"""


def conformal_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the OLS price model —
    the distribution-free uncertainty wrapper (Vovk; Lei et al. 2018)
    a feature pipeline ships WITH a point model: fit on the ~80% hash
    fold, take q̂ = the ⌈(1−α)(n+1)⌉-th smallest absolute calibration
    residual, and ŷ ± q̂ covers ≥ 1−α of future rows with no
    distributional assumption. α = 0.1.

    Exactness: β is micro-snapped from exact DECIMAL train moments
    (the ols_cv_rmse machinery), so every calibration residual is an
    exact integer in 1e-8-dollar units; q̂ is an exact ORDER STATISTIC
    of those integers — computed with the range-bucketed distributed
    prefix sum (`rank_stats._bucketed_cum`, never a single-task
    window) in Spark and a row_number window in the oracle, both
    selecting the identical integer. The empirical calibration
    coverage (≥ 0.9 by construction) is the one rounded double.

    Output (one row): n_train, n_calib, b0m/b1m/b2m (micro-dollar
    BIGINTs), k, qhat_r8 (1e-8-dollar half-width), coverage_calib.
    """
    from spec_search_spark.operators.rank_stats import _bucketed_cum

    tune(spark)
    # spread + pin, the ols_cv_rmse recipe: the salted fold hash feeds
    # THREE consumers (train moments, calibration residuals, the
    # fold-count pass) and the local single-row-group scan would run
    # each on ONE core; the checkpoint makes the hash run once.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_extendedprice",
        )
    ).select(
        F.pmod(
            _poly_hash(
                F.concat(
                    F.lit("conf:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            F.lit(CONF_SPLIT_MOD),
        ).alias("fold"),
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("q100"),
        F.expr("cast(round(l_discount * 100) as bigint)").alias("d100"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p100"),
    ).localCheckpoint(eager=True)
    li.createOrReplaceTempView("_conf_cents")
    beta = spark.sql(_CONF_BETA_BODY.format(src="_conf_cents"))
    resid = (
        li.filter(F.col("fold") == 0)
        .crossJoin(F.broadcast(beta))
        .select(
            F.abs(
                F.col("p100") * F.lit(1000000)
                - F.col("b0m") * F.lit(100)
                - F.col("b1m") * F.col("q100")
                - F.col("b2m") * F.col("d100")
            ).alias("r8")
        )
    )
    vc = resid.groupBy("r8").agg(F.count(F.lit(1)).alias("_c"))
    counts = li.groupBy().agg(
        F.sum(F.when(F.col("fold") != 0, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("fold") == 0, 1).otherwise(0)).alias("n_calib"),
    )
    kdf = counts.select(
        "n_train",
        "n_calib",
        F.expr(
            f"({CONF_COV_NUM} * (n_calib + 1) + {CONF_COV_DEN - 1})"
            f" div {CONF_COV_DEN}"
        ).cast("bigint").alias("k"),
    )
    cum = _bucketed_cum(vc, "r8", ["_c"])
    qhat = (
        cum.crossJoin(F.broadcast(kdf.select("k")))
        .filter(F.col("cum__c") >= F.col("k"))
        .groupBy()
        .agg(F.min("r8").alias("qhat_r8"))
    )
    cov = (
        vc.crossJoin(F.broadcast(qhat))
        .groupBy()
        .agg(
            F.sum(F.when(F.col("r8") <= F.col("qhat_r8"), F.col("_c")).otherwise(0))
            .alias("n_cov")
        )
    )
    return (
        kdf.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_calib").cast("bigint").alias("n_calib"),
            "b0m",
            "b1m",
            "b2m",
            "k",
            "qhat_r8",
            F.round(F.col("n_cov").cast("double") / F.col("n_calib"), 4).alias(
                "coverage_calib"
            ),
        )
    )


_CONF_H = _POLY_SQL.format(
    s="'conf:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)

CONFORMAL_SQL = f"""
WITH src AS (
  SELECT (({_CONF_H} % {CONF_SPLIT_MOD}) + {CONF_SPLIT_MOD}) % {CONF_SPLIT_MOD} AS fold,
         CAST(round(l_quantity * 100) AS BIGINT) AS q100,
         CAST(round(l_discount * 100) AS BIGINT) AS d100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
  FROM lineitem
), beta AS ({_CONF_BETA_BODY.format(src="src")}),
calib AS (
  SELECT abs(p100 * 1000000 - b.b0m * 100 - b.b1m * q100 - b.b2m * d100) AS r8
  FROM src CROSS JOIN beta b WHERE fold = 0
),
nn AS (
  SELECT CAST(sum(CASE WHEN fold <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN fold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_calib
  FROM src
),
kk AS (
  SELECT n_train, n_calib,
         CAST(({CONF_COV_NUM} * (n_calib + 1) + {CONF_COV_DEN - 1}) // {CONF_COV_DEN}
              AS BIGINT) AS k
  FROM nn
),
ranked AS (SELECT r8, row_number() OVER (ORDER BY r8) AS rn FROM calib),
q AS (SELECT min(r8) AS qhat_r8 FROM ranked CROSS JOIN kk WHERE rn >= kk.k),
cov AS (
  SELECT CAST(sum(CASE WHEN r8 <= qhat_r8 THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
  FROM calib CROSS JOIN q
)
SELECT kk.n_train, kk.n_calib, b.b0m, b.b1m, b.b2m, kk.k,
       CAST(q.qhat_r8 AS BIGINT) AS qhat_r8,
       round(cov.n_cov::DOUBLE / kk.n_calib, 4) AS coverage_calib
FROM kk CROSS JOIN beta b CROSS JOIN q CROSS JOIN cov
"""


# --------------------------------------------------------------------------
# Walk-forward (expanding-window) time-series CV splits
# --------------------------------------------------------------------------

WF_TEST_YEARS = (1998, 1999, 2000, 2001)  # orders span 1995..2001


def walk_forward_cv_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window walk-forward CV over `orders` by order YEAR —
    the only split shape that is leakage-free for forecasting models
    (train always strictly precedes test; sklearn TimeSeriesSplit
    shape): fold i trains on every year < {WF_TEST_YEARS}[i] and
    tests on that single year. One row per fold: boundaries, exact
    row counts, and the train/test mean order value (2dp — money
    rounded to its own input grid, FIXTURES rule 4).

    Exact shape: ONE partial+final aggregation collapses orders to the
    per-year (n, cents) table (≤ #years rows, bounded by the calendar
    not data volume); every fold's counts and sums come from a
    broadcast triangular join over that bounded table — the raw table
    is scanned exactly once for all folds, never once per fold (the
    ols_cv_rmse total−fold discipline applied to time)."""
    tune(spark)
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
    )
    per_y = o.groupBy("y").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc")
    )
    folds = local_df(
        spark, [(i + 1, y) for i, y in enumerate(WF_TEST_YEARS)], "fold int, ty int"
    )
    j = folds.join(F.broadcast(per_y), F.col("y") <= F.col("ty"))
    agg = j.groupBy("fold", "ty").agg(
        F.sum(F.when(F.col("y") < F.col("ty"), F.col("n")).otherwise(0)).alias(
            "n_train"
        ),
        F.sum(F.when(F.col("y") < F.col("ty"), F.col("sc")).otherwise(0)).alias(
            "sc_train"
        ),
        F.sum(F.when(F.col("y") == F.col("ty"), F.col("n")).otherwise(0)).alias(
            "n_test"
        ),
        F.sum(F.when(F.col("y") == F.col("ty"), F.col("sc")).otherwise(0)).alias(
            "sc_test"
        ),
    )
    # CAST(n AS DOUBLE), never `* 1.0` (FIXTURES rule 6), and a
    # zero-row guard per side: a regenerated fixture missing one of
    # WF_TEST_YEARS would otherwise divide by zero with
    # engine-dependent NULL/Inf semantics (ADVICE r6).
    return agg.selectExpr(
        "fold",
        "ty AS test_year",
        "cast(n_train as bigint) AS n_train",
        "cast(n_test as bigint) AS n_test",
        "CASE WHEN n_train > 0 THEN"
        " cast(round(sc_train / cast(n_train as double)) as bigint) / 1e2"
        " END AS train_avg_price",
        "CASE WHEN n_test > 0 THEN"
        " cast(round(sc_test / cast(n_test as double)) as bigint) / 1e2"
        " END AS test_avg_price",
    ).orderBy("fold")


_WF_VALUES = ", ".join(
    f"({i + 1}, {y})" for i, y in enumerate(WF_TEST_YEARS)
)

WALK_FORWARD_SQL = f"""
WITH per_y AS (
  SELECT year(o_orderdate) AS y, count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc
  FROM orders GROUP BY 1
), folds(fold, ty) AS (VALUES {_WF_VALUES}),
agg AS (
  SELECT fold, ty,
         sum(CASE WHEN y < ty THEN n ELSE 0 END) AS n_train,
         sum(CASE WHEN y < ty THEN sc ELSE 0 END) AS sc_train,
         sum(CASE WHEN y = ty THEN n ELSE 0 END) AS n_test,
         sum(CASE WHEN y = ty THEN sc ELSE 0 END) AS sc_test
  FROM folds JOIN per_y ON y <= ty
  GROUP BY fold, ty
)
SELECT fold, ty AS test_year,
       CAST(n_train AS BIGINT) AS n_train,
       CAST(n_test AS BIGINT) AS n_test,
       CASE WHEN n_train > 0 THEN
         CAST(round(sc_train / CAST(n_train AS DOUBLE)) AS BIGINT) / 1e2
       END AS train_avg_price,
       CASE WHEN n_test > 0 THEN
         CAST(round(sc_test / CAST(n_test AS DOUBLE)) AS BIGINT) / 1e2
       END AS test_avg_price
FROM agg ORDER BY fold
"""


# --------------------------------------------------------------------------
# Model evaluation on the trained logreg: exact ROC-AUC, Brier
# decomposition, isotonic (PAV) recalibration
# --------------------------------------------------------------------------


def _lr_score_walk() -> str:
    """Oracle prefix: the unrolled IRLS walk + a `score(y, p6)` CTE —
    shared by every evaluation oracle (same split contract as
    `_logreg_calibration_sql`, which fails loudly if the tail drifts)."""
    full = _logreg_sql()
    sep = ",\nscore AS ("
    if full.count(sep) != 1:
        raise AssertionError(
            "_logreg_sql tail format changed; evaluation oracle builders "
            "must be updated in step"
        )
    walk = full.rsplit(sep, 1)[0]
    return f"""{walk},
score AS (
  SELECT f.y, {_LR_P6} AS p6 FROM feats f CROSS JOIN it{LOGREG_ITERS} b
)"""


def roc_auc_doc_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT tie-aware ROC-AUC of the trained logistic quality gate —
    the threshold-free ranking metric next to the calibration report.
    AUC is the Mann-Whitney statistic: with per-distinct-score counts
    (c⁺, c⁻), 2·AUC·n⁺·n⁻ = Σ_v c⁺_v·(2·cum⁻_{{<v}} + c⁻_v) — pure
    integer arithmetic (ties contribute the half by construction), one
    fixed-arity division at the end.

    Scale: scores collapse to the distinct-p6 table (≤1e6 rows by the
    ppm grid, data-independent); the cumulative negative count uses
    the range-bucketed distributed prefix sum (never a single-task
    window); products accumulate in DECIMAL(38,0) so n⁺·n⁻-sized
    numerators cannot overflow at any corpus size."""
    feats, beta = _trained_logreg(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(beta)).selectExpr(
        "y", f"{_LR_P6} AS p6"
    )
    per_v = scored.groupBy("p6").agg(
        F.sum("y").alias("c1"),
        F.sum(F.expr("1 - y")).alias("c0"),
    )
    return roc_auc_from_counts(per_v)


def roc_auc_from_counts(per_v: DataFrame) -> DataFrame:
    """The tie-aware AUC fold over a (p6, c1, c0) distinct-score count
    table — shared by the batch metric and the streaming twin (the
    count table IS the bounded stream state)."""
    from spec_search_spark.operators.rank_stats import _bucketed_cum

    cum = _bucketed_cum(per_v, "p6", ["c0"])
    agg = cum.groupBy().agg(
        F.sum("c1").alias("n1"),
        F.sum("c0").alias("n0"),
        F.sum(
            F.expr(
                "cast(c1 as decimal(38,0)) * (2 * (cum_c0 - c0) + c0)"
            )
        ).alias("num2"),
    )
    return agg.selectExpr(
        "cast(n1 as bigint) AS n_pos",
        "cast(n0 as bigint) AS n_neg",
        "cast(round(cast(num2 as double) / (2.0 * n1 * n0) * 1e6)"
        " as bigint) / 1e6 AS auc_6",
    )


def _roc_auc_sql() -> str:
    return f"""{_lr_score_walk()},
per_v AS (
  SELECT p6, sum(y) AS c1, sum(1 - y) AS c0 FROM score GROUP BY p6
),
cum AS (
  SELECT p6, c1, c0, sum(c0) OVER (ORDER BY p6) AS cum_c0 FROM per_v
),
agg AS (
  SELECT sum(c1) AS n1, sum(c0) AS n0,
         sum(CAST(c1 AS DECIMAL(38,0)) * (2 * (cum_c0 - c0) + c0)) AS num2
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
       CAST(round(CAST(num2 AS DOUBLE) / (2.0 * n1 * n0) * 1e6)
            AS BIGINT) / 1e6 AS auc_6
FROM agg
"""


BRIER_SCALE = 1_000_000_000  # per-bin decomposition terms in nano-units

#: shared per-bin term texts (doubles from exact integers, snapped to
#: nano before the ≤10-row integer sum — FIXTURES rule 5)
_BR_REL = (
    "cast(round(n * pow(sum_p6 / (n * 1e6) - sum_y / cast(n as double), 2)"
    f" / cast(nn as double) * {BRIER_SCALE}) as bigint)"
)
_BR_RES = (
    "cast(round(n * pow(sum_y / cast(n as double)"
    " - sum_y_tot / cast(nn as double), 2)"
    f" / cast(nn as double) * {BRIER_SCALE}) as bigint)"
)


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the logistic gate's Brier score over the
    decile reliability bins: BS = uncertainty − resolution +
    reliability, plus the RAW (unbinned) Brier score — the one-row
    scorecard that says whether forecast error comes from miscalibrated
    probabilities (reliability) or from the model simply not separating
    the classes (low resolution).

    Exact shape: the raw Brier sum is Σ c·(p6 − 1e6·y)² over the
    distinct-(p6,y) count table — pure DECIMAL(38,0) integers, one
    final division. The three decomposition terms live on the ≤10-row
    bin table: each bin's term is a fixed-arity double from exact
    integer sums, snapped to nano-units BEFORE the ≤10-element integer
    sum, with one-row totals broadcast back. Everything is
    order-independent at any parallelism."""
    feats, beta = _trained_logreg(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(beta)).selectExpr(
        "y", f"{_LR_P6} AS p6"
    )
    per_v = scored.groupBy("p6", "y").agg(F.count(F.lit(1)).alias("c"))
    raw = per_v.groupBy().agg(
        F.sum(
            F.expr(
                "cast(c as decimal(38,0)) * (p6 - 1000000 * y) * (p6 - 1000000 * y)"
            )
        ).alias("se2"),
        F.sum("c").alias("nn_raw"),
    )
    per_bin = (
        scored.selectExpr("y", "p6", f"{_LR_BIN} AS bin")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sum_y"),
            F.sum("p6").alias("sum_p6"),
        )
    )
    tot = per_bin.groupBy().agg(
        F.sum("n").alias("nn"), F.sum("sum_y").alias("sum_y_tot")
    )
    terms = per_bin.crossJoin(F.broadcast(tot)).selectExpr(
        f"{_BR_REL} AS rel_n", f"{_BR_RES} AS res_n"
    )
    decomp = terms.groupBy().agg(
        F.sum("rel_n").alias("rel_sum"), F.sum("res_n").alias("res_sum")
    )
    return (
        raw.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(decomp))
        .selectExpr(
            "cast(nn as bigint) AS n_docs",
            "cast(round(cast(se2 as double) / (nn * 1e12) * 1e6)"
            " as bigint) / 1e6 AS brier_6",
            f"cast(round(rel_sum / {BRIER_SCALE}.0 * 1e6) as bigint) / 1e6"
            " AS reliability_6",
            f"cast(round(res_sum / {BRIER_SCALE}.0 * 1e6) as bigint) / 1e6"
            " AS resolution_6",
            "cast(round((cast(sum_y_tot as double) / nn)"
            " * (1.0 - cast(sum_y_tot as double) / nn)"
            " * 1e6) as bigint) / 1e6 AS uncertainty_6",
        )
    )


def _brier_sql() -> str:
    return f"""{_lr_score_walk()},
per_v AS (
  SELECT p6, y, count(*) AS c FROM score GROUP BY p6, y
),
raw AS (
  SELECT sum(CAST(c AS DECIMAL(38,0)) * (p6 - 1000000 * y)
             * (p6 - 1000000 * y)) AS se2,
         sum(c) AS nn_raw
  FROM per_v
),
per_bin AS (
  SELECT {_LR_BIN} AS bin, count(*) AS n, sum(y) AS sum_y,
         sum(p6) AS sum_p6
  FROM score GROUP BY 1
),
tot AS (SELECT sum(n) AS nn, sum(sum_y) AS sum_y_tot FROM per_bin),
decomp AS (
  SELECT sum({_BR_REL}) AS rel_sum, sum({_BR_RES}) AS res_sum
  FROM per_bin CROSS JOIN tot
)
SELECT CAST(t.nn AS BIGINT) AS n_docs,
       CAST(round(CAST(r.se2 AS DOUBLE) / (t.nn * 1e12) * 1e6)
            AS BIGINT) / 1e6 AS brier_6,
       CAST(round(d.rel_sum / {BRIER_SCALE}.0 * 1e6) AS BIGINT) / 1e6
         AS reliability_6,
       CAST(round(d.res_sum / {BRIER_SCALE}.0 * 1e6) AS BIGINT) / 1e6
         AS resolution_6,
       CAST(round((CAST(t.sum_y_tot AS DOUBLE) / t.nn)
            * (1.0 - CAST(t.sum_y_tot AS DOUBLE) / t.nn) * 1e6) AS BIGINT) / 1e6
         AS uncertainty_6
FROM raw r CROSS JOIN tot t CROSS JOIN decomp d
"""


def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (pool-adjacent-violators) recalibration of the decile
    reliability bins — the monotone probability map a production gate
    ships when the reliability report shows systematic miscalibration
    (sklearn IsotonicRegression / Zadrozny-Elkan shape). One row per
    bin: observed rate and the isotonic fitted rate, non-decreasing by
    construction.

    Instead of the sequential PAV pooling loop, the fit uses the
    closed-form minimax identity iso(i) = max_{{j≤i}} min_{{k≥i}}
    mean(y over bins j..k) — every interval mean is an exact integer
    ratio from the ≤10-row bin table's triangular sums, so the whole
    fit is three bounded broadcast joins (10³ interval-member rows max)
    with deterministic double comparisons, identical in both engines.
    No loop, no driver-side state, bounded at any corpus size."""
    feats, beta = _trained_logreg(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(beta)).selectExpr(
        "y", f"{_LR_P6} AS p6"
    )
    pb = (
        scored.selectExpr("y", f"{_LR_BIN} AS bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sum_y"))
    )
    j = pb.select(F.col("bin").alias("j"))
    k = pb.select(F.col("bin").alias("k"))
    m = pb.select(
        F.col("bin").alias("mb"), F.col("n").alias("mn"), F.col("sum_y").alias("ms")
    )
    ivl = (
        j.crossJoin(k)
        .filter(F.col("j") <= F.col("k"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("j")) & (F.col("mb") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(F.sum("mn").alias("njk"), F.sum("ms").alias("sjk"))
        .selectExpr("j", "k", "sjk * 1e6 / cast(njk as double) AS avg_ppm")
    )
    i_rows = pb.select(F.col("bin").alias("i"))
    minv = (
        i_rows.join(
            F.broadcast(ivl),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_ppm").alias("minv"))
    )
    iso = minv.groupBy("i").agg(F.max("minv").alias("iso"))
    return (
        pb.join(F.broadcast(iso), pb["bin"] == iso["i"])
        .selectExpr(
            "bin",
            "cast(n as bigint) AS n_docs",
            "cast(round(sum_y * 1000000.0 / n) as bigint) AS obs_rate_ppm",
            "cast(round(iso) as bigint) AS iso_rate_ppm",
        )
        .orderBy("bin")
    )


def _isotonic_sql() -> str:
    return f"""{_lr_score_walk()},
pb AS (
  SELECT {_LR_BIN} AS bin, count(*) AS n, sum(y) AS sum_y
  FROM score GROUP BY 1
),
ivl AS (
  SELECT j.bin AS j, k.bin AS k,
         sum(m.sum_y) * 1e6 / CAST(sum(m.n) AS DOUBLE) AS avg_ppm
  FROM pb j JOIN pb k ON j.bin <= k.bin
  JOIN pb m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
),
minv AS (
  SELECT i.bin AS i, v.j, min(v.avg_ppm) AS minv
  FROM pb i JOIN ivl v ON v.j <= i.bin AND v.k >= i.bin
  GROUP BY i.bin, v.j
),
iso AS (SELECT i, max(minv) AS iso FROM minv GROUP BY i)
SELECT p.bin, CAST(p.n AS BIGINT) AS n_docs,
       CAST(round(p.sum_y * 1000000.0 / p.n) AS BIGINT) AS obs_rate_ppm,
       CAST(round(s.iso) AS BIGINT) AS iso_rate_ppm
FROM pb p JOIN iso s ON s.i = p.bin
ORDER BY p.bin
"""


QUERIES = {
    "pca_power_iteration": pca_power_iteration,
    "walk_forward_cv_splits": walk_forward_cv_splits,
    "roc_auc_doc_model": roc_auc_doc_model,
    "brier_decomposition": brier_decomposition,
    "isotonic_calibration_pav": isotonic_calibration_pav,
    "conformal_interval_orders": conformal_interval_orders,
    "feature_corr_matrix": feature_corr_matrix,
    "mahalanobis_outlier_report": mahalanobis_outlier_report,
    "nb_lang_classifier": nb_lang_classifier,
    "ols_price_model": ols_price_model,
    "logreg_irls_doc_model": logreg_irls_doc_model,
    "logreg_calibration_report": logreg_calibration_report,
    "decision_stump_lang": decision_stump_lang,
    "ols_cv_rmse": ols_cv_rmse,
}

ORACLES = {
    "pca_power_iteration": PCA_SQL,
    "walk_forward_cv_splits": WALK_FORWARD_SQL,
    "roc_auc_doc_model": _roc_auc_sql(),
    "brier_decomposition": _brier_sql(),
    "isotonic_calibration_pav": _isotonic_sql(),
    "conformal_interval_orders": CONFORMAL_SQL,
    "feature_corr_matrix": CORR_MATRIX_SQL,
    "mahalanobis_outlier_report": MAHALANOBIS_SQL,
    "nb_lang_classifier": NB_SQL,
    "ols_price_model": OLS_SQL,
    "logreg_irls_doc_model": LOGREG_SQL,
    "logreg_calibration_report": LOGREG_CAL_SQL,
    "decision_stump_lang": STUMP_SQL,
    "ols_cv_rmse": OLS_CV_SQL,
}
