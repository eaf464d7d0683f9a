"""In-plan classical ML pack invariants (value parity vs the DuckDB
oracles is covered by tools/selfcheck.py; these pin the mathematical
contracts the oracle comparison can't see)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from spec_search_spark.operators.dedup import (
    INC_FOLD_MOD,
    JACCARD_THRESHOLD,
    _poly_hash,
    incremental_minhash_delta,
    minhash_lsh_candidates,
)
from spec_search_spark.operators.ml import (
    NB_SPLIT_MOD,
    PCA_DIM,
    nb_lang_classifier,
    ols_price_model,
    pca_power_iteration,
)
from spec_search_spark.catalog import load_table


def test_pca_component_is_unit_norm_and_dominant(spark, sf_dir):
    rows = pca_power_iteration(spark, sf_dir).collect()
    assert len(rows) == PCA_DIM
    assert [r["dim"] for r in rows] == list(range(PCA_DIM))
    # loadings land on the 1e-5 grid and form a unit vector (up to grid
    # rounding: 64 dims * 0.5e-5 slack each)
    norm2 = sum(r["loading"] ** 2 for r in rows)
    assert abs(math.sqrt(norm2) - 1.0) < 1e-3
    # one shared positive eigenvalue on every row
    eigs = {r["eigenvalue"] for r in rows}
    assert len(eigs) == 1
    lam = eigs.pop()
    assert lam > 0


def test_pca_eigenvalue_dominates_mean_variance(spark, sf_dir):
    """λ₁ ≥ average per-dim variance (top eigenvalue ≥ trace/d always)."""
    rows = pca_power_iteration(spark, sf_dir).collect()
    lam = rows[0]["eigenvalue"]
    emb = load_table(spark, sf_dir, "embeddings")
    var_rows = (
        emb.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.var_pop("x").alias("v"))
        .collect()
    )
    mean_var = sum(r["v"] for r in var_rows) / len(var_rows)
    assert lam >= mean_var * 0.99  # grid rounding slack


def test_nb_confusion_covers_exactly_the_heldout_fold(spark, sf_dir):
    conf = nb_lang_classifier(spark, sf_dir)
    total = conf.agg(F.sum("n_docs")).first()[0]
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    heldout = docs.filter(
        F.pmod(
            _poly_hash(F.concat(F.lit("nb:"), F.col("doc_id").cast("string"))),
            F.lit(NB_SPLIT_MOD),
        )
        == 0
    ).count()
    assert total == heldout
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    for r in conf.collect():
        assert r["true_lang"] in langs
        assert r["pred_lang"] in langs
        assert r["n_docs"] > 0


def test_ols_matches_numpy_lstsq(spark, sf_dir):
    """The closed-form Cramer solve equals numpy's least-squares fit
    (the driver oracle can't catch a shared-formula sign error — this
    independent solver can). Note: this synthetic lineitem's
    extendedprice is NOT TPC-H's qty × unitprice, so no sign/R²
    assumptions — only agreement with the reference solver."""
    import numpy as np

    row = ols_price_model(spark, sf_dir).first()
    li = load_table(spark, sf_dir, "lineitem")
    assert row["n_rows"] == li.count()
    assert 0.0 <= row["r2"] <= 1.0
    pdf = li.select("l_quantity", "l_discount", "l_extendedprice").toPandas()
    x = np.column_stack(
        [np.ones(len(pdf)), pdf["l_quantity"].to_numpy(), pdf["l_discount"].to_numpy()]
    )
    y = pdf["l_extendedprice"].to_numpy()
    beta, *_ = np.linalg.lstsq(x, y, rcond=None)
    pred = x @ beta
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert abs(row["b0"] - beta[0]) < 1e-2 * max(1.0, abs(beta[0]))
    assert abs(row["b1"] - beta[1]) < 1e-2 * max(1.0, abs(beta[1]))
    assert abs(row["b2"] - beta[2]) < 1e-2 * max(1.0, abs(beta[2]))
    assert abs(row["r2"] - r2) < 1e-4


def test_ols_residual_orthogonality(spark, sf_dir):
    """Normal equations ⇒ residuals are orthogonal to each regressor
    (sum r, sum r·q, sum r·d all ~0). Recomputed from the fitted
    coefficients against the raw table."""
    row = ols_price_model(spark, sf_dir).first()
    li = load_table(spark, sf_dir, "lineitem")
    res = li.select(
        (
            F.col("l_extendedprice")
            - (
                F.lit(row["b0"])
                + F.lit(row["b1"]) * F.col("l_quantity")
                + F.lit(row["b2"]) * F.col("l_discount")
            )
        ).alias("r"),
        "l_quantity",
        "l_discount",
    )
    sums = res.agg(
        F.avg("r").alias("m0"),
        F.avg(F.col("r") * F.col("l_quantity")).alias("m1"),
        F.avg(F.col("r") * F.col("l_discount")).alias("m2"),
    ).first()
    scale = li.agg(F.avg("l_extendedprice")).first()[0]
    # b is rounded to 6dp, so orthogonality holds to ~1e-6 * regressor scale
    assert abs(sums["m0"]) < 1e-4 * scale
    assert abs(sums["m1"]) < 1e-2 * scale
    assert abs(sums["m2"]) < 1e-4 * scale


def test_incremental_delta_touches_only_delta_pairs(spark, sf_dir):
    pairs = incremental_minhash_delta(spark, sf_dir).collect()
    is_delta = {}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.pmod(
                _poly_hash(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))),
                F.lit(INC_FOLD_MOD),
            )
            == 0
        ).alias("d"),
    )
    for r in docs.collect():
        is_delta[r["doc_id"]] = r["d"]
    cand = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_candidates(spark, sf_dir).collect()
    }
    for r in pairs:
        d1, d2 = is_delta[r["doc1"]], is_delta[r["doc2"]]
        assert d1 or d2  # never a base×base pair
        assert r["is_cross"] == (d1 != d2)
        assert r["jaccard"] >= JACCARD_THRESHOLD
        assert r["doc1"] < r["doc2"]
        # the delta run is a restriction of the full LSH candidate set
        assert (r["doc1"], r["doc2"]) in cand


def test_join_cardinality_one_sided_and_reasonable(spark, sf_dir):
    from spec_search_spark.operators.sketches import join_cardinality_cms

    row = join_cardinality_cms(spark, sf_dir).first()
    assert row["one_sided_ok"]
    assert row["overcount"] >= 0
    assert row["f2_est"] >= row["f2_exact"] >= row["n_keys"]  # F2 >= n_keys always
    # D=3 independent rows keep the overestimate within ~(1 + n^2/W) of
    # exact in expectation; at test scale just pin a loose sanity bound
    assert row["f2_est"] <= row["f2_exact"] * 50


def test_bootstrap_replicates_straddle_the_point_estimate(spark, sf_dir):
    from spec_search_spark.operators.sketches import BOOT_B, bootstrap_ci_revenue

    rows = bootstrap_ci_revenue(spark, sf_dir).collect()
    assert len(rows) == BOOT_B
    assert [r["replicate"] for r in rows] == list(range(BOOT_B))
    point = rows[0]["point_mean"]
    means = [r["boot_mean"] for r in rows]
    # CLT sanity: the replicate cloud surrounds the point estimate and
    # its spread is small relative to the mean (se ~ sd/sqrt(n))
    assert min(means) <= point <= max(means)
    spread = max(means) - min(means)
    assert spread < 0.2 * abs(point)


def test_image_stats_match_direct_decode(spark, sf_dir):
    """Cross-check one image's channel sums against a direct in-process
    decode of the same generated BMP (independent of the SQL oracle)."""
    from spec_search_spark.operators.multimodal import make_bmp, multimodal_image_stats

    rows = {r["doc_id"]: r for r in multimodal_image_stats(spark, sf_dir).collect()}
    assert rows, "no even doc_ids in documents?"
    d = sorted(rows)[len(rows) // 2]
    r = rows[d]
    w, h = 1 + d % 31, 1 + d % 17
    assert (r["width"], r["height"]) == (w, h)
    payload = make_bmp(w, h, seed=d)
    stride = (w * 3 + 3) // 4 * 4
    px = payload[54:]
    sums = [0, 0, 0]
    for y in range(h):
        for x in range(w):
            for c in range(3):
                sums[c] += px[y * stride + x * 3 + c]
    assert (r["sum_b"], r["sum_g"], r["sum_r"]) == tuple(sums)


def test_covariance_memo_is_stable_and_symmetric(spark, sf_dir):
    # the memoized Gram artifact: repeat calls return the pinned table,
    # and the matrix is symmetric with nonnegative diagonal (variance)
    from spec_search_spark.operators.ml import _covariance_matrix
    from spec_search_spark.session import _MEMO

    g1 = _covariance_matrix(spark, sf_dir)
    g2 = _covariance_matrix(spark, sf_dir)
    assert g2 is g1, "second call must hit the memo, not rebuild"
    name = f"{_covariance_matrix.__module__}.{_covariance_matrix.__qualname__}"
    assert (spark.sparkContext.applicationId, name, sf_dir) in _MEMO
    rows = {(r["i"], r["j"]): r["g"] for r in g1.collect()}
    assert len(rows) == 64 * 64
    for (i, j), v in rows.items():
        assert rows[(j, i)] == v, f"asymmetry at ({i},{j})"
        if i == j:
            assert v >= 0


def test_logreg_learns_the_token_direction(spark, sf_dir):
    # y = [n_chars >= 200] is driven by token count: the trained model
    # must orient b1 (tokens/100) positive and beat the majority-class
    # baseline; and the integer beta walk must be run-to-run identical
    from spec_search_spark.operators.ml import logreg_irls_doc_model

    r1 = logreg_irls_doc_model(spark, sf_dir).collect()[0]
    assert r1["b1"] > 0, "more tokens must raise P(long doc)"
    from spec_search_spark.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_pos = docs.filter(F.col("n_chars") >= 200).count()
    majority_ppm = max(n_pos, n - n_pos) * 1_000_000 // n
    assert r1["accuracy_ppm"] > majority_ppm
    r2 = logreg_irls_doc_model(spark, sf_dir).collect()[0]
    assert (r1["b0"], r1["b1"], r1["b2"]) == (r2["b0"], r2["b1"], r2["b2"])


def test_ols_cv_matches_numpy_per_fold(spark, sf_dir):
    """Each fold's held-out RMSE must match a direct numpy refit on the
    complement (train = all rows minus the fold), with the same
    micro-snapped beta applied to the held-out rows."""
    import numpy as np

    from spec_search_spark.catalog import load_table
    from spec_search_spark.operators.ml import OLS_CV_FOLDS, ols_cv_rmse
    from spec_search_spark.functions.text import FP_BASE, FP_MOD
    from pyspark.sql import functions as F

    def poly_hash_py(s):
        acc = 0
        for ch in s:
            acc = (acc * FP_BASE + ord(ch)) % FP_MOD
        return acc

    rows = {r["fold"]: r for r in ols_cv_rmse(spark, sf_dir).collect()}
    assert set(rows) == set(range(OLS_CV_FOLDS))

    data = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("cast(round(l_quantity * 100) as bigint)").alias("q"),
            F.expr("cast(round(l_discount * 100) as bigint)").alias("d"),
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("p"),
        )
        .collect()
    )
    folds = [
        poly_hash_py(f"cv:{r['l_orderkey']}:{r['l_linenumber']}") % OLS_CV_FOLDS
        for r in data
    ]
    q = np.array([r["q"] for r in data], dtype=np.float64) / 100
    d = np.array([r["d"] for r in data], dtype=np.float64) / 100
    p = np.array([r["p"] for r in data], dtype=np.float64) / 100
    fold_arr = np.array(folds)
    for f in range(OLS_CV_FOLDS):
        tr = fold_arr != f
        te = fold_arr == f
        X = np.column_stack([np.ones(tr.sum()), q[tr], d[tr]])
        beta, *_ = np.linalg.lstsq(X, p[tr], rcond=None)
        bm = np.round(beta * 1e6)  # the operator's micro snap
        resid = p[te] - (bm[0] + bm[1] * q[te] + bm[2] * d[te]) / 1e6
        rmse = float(np.sqrt(np.mean(resid**2)))
        r = rows[f]
        assert r["n_test"] == int(te.sum())
        assert abs(r["rmse_6"] - rmse) < 1e-4  # lstsq vs Cramer tolerance


def test_feature_corr_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    from spec_search_spark.operators.ml import feature_corr_matrix

    got = {
        (r.var_x, r.var_y): r.corr
        for r in feature_corr_matrix(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "cast(round(l_quantity * 100) as bigint) as q",
            "cast(round(l_discount * 100) as bigint) as d",
            "cast(round(l_tax * 100) as bigint) as t",
            "cast(round(l_extendedprice * 100) as bigint) as p",
        )
        .toPandas()
    )
    ref = np.corrcoef(li[["q", "d", "t", "p"]].to_numpy().T)
    names = ["quantity", "discount", "tax", "price"]
    for i, a in enumerate(names):
        assert got[(a, a)] == 1.0
        for j in range(i + 1, 4):
            assert abs(got[(a, names[j])] - ref[i, j]) < 2e-6, (a, names[j])
