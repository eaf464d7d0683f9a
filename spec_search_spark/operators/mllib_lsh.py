"""MLlib LSH operators (SURVEY.md §7 step 4, §2.9 V2/V5): the
built-in approximate similarity machinery — BucketedRandomProjectionLSH
for L2 ANN and MinHashLSH for Jaccard near-dup joins.

These complement the hand-rolled variants (operators.similarity
hyperplane LSH, operators.dedup banded MinHash): the MLlib estimators
bring multi-table `approxSimilarityJoin` / `approxNearestNeighbors`
with hash-table amplification out of the box, at the cost of opaque
(seeded, version-dependent) hash families. WHICH pairs the seeded
families surface is not SQL-reproducible, so the registered queries
are SELF-VERIFYING: Spark recomputes each returned distance through an
independent exact path and checks the estimator's guarantees
(distances exact on candidates, threshold respected, per-probe results
rank-bounded by exact kNN), and the oracle pins those invariant
columns; recall property tests live in tests/test_mllib_lsh.py.

Scale: both estimators are narrow transforms (hash columns) + an
equi-join on hash buckets — the same shuffle-friendly layout as the
hand-rolled versions; `numHashTables` trades recall for join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.operators.similarity import N_PROBES, TOP_K, topk_per_probe
from spec_search_spark.session import pin, tune

SEED_BRP = 42
SEED_MINHASH = 7


def _emb_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )


def mllib_brp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approxSimilarityJoin of the embedding table against 5 probe
    vectors within an L2 radius, top-10 per probe."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    data = _emb_vectors(spark, sf_dir)
    probes = data.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("features").alias("p_features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=SEED_BRP
    )
    model = lsh.fit(data)
    joined = model.approxSimilarityJoin(
        data, probes.withColumnRenamed("p_features", "features"), 10.0, distCol="dist"
    )
    out = joined.select(
        F.col("datasetB.probe_id").alias("probe_id"),
        F.col("datasetA.vec_id").alias("vec_id"),
        F.round(F.col("dist"), 4).alias("dist"),
    ).filter(F.col("vec_id") != F.col("probe_id"))
    return topk_per_probe(out, TOP_K, "dist")


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens): distinct 3-token shingles per doc — the
    discriminative near-dup unit. Bag-of-UNIGRAMS over this corpus's
    ~50-word vocabulary makes every pair of documents look alike, so
    MinHash buckets collide corpus-wide and approxSimilarityJoin's
    candidate set degenerates toward all-pairs (measured: the
    unigram form of this query was the full sweep's 320 s outlier at
    sf0.1); shingling restores the sparse, high-cardinality sets
    near-dup MinHash is designed for — candidates collapse to the
    genuinely-similar pairs."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), r"\s+")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.concat_ws(
                "\x1f", tk[i], tk[i + 1], tk[i + 2]
            ),
        )
    )
    return (
        docs.filter(F.size(tk) >= 3)
        .select("doc_id", sh.alias("tokens"))
    )


def mllib_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH approxSimilarityJoin over binary 3-token-shingle
    vectors: doc pairs with TRUE Jaccard distance ≤ 0.2 among the
    LSH candidates."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    tune(spark)
    # toks feeds the CV fit, the transform, AND the self-check's two
    # distance re-joins — pin it once
    toks, _ = pin(_shingle_sets(spark, sf_dir))
    # vocabSize must hold EVERY shingle: a truncated vocabulary makes
    # the vector Jaccard diverge from the token-set Jaccard the check
    # recomputes (CountVectorizer keeps top-by-df with arbitrary tie
    # order — silent nondeterminism). Shingle vocab is corpus-bounded
    # like the BPE vocabulary.
    cv = CountVectorizer(
        inputCol="tokens",
        outputCol="features",
        binary=True,
        minDF=1.0,
        vocabSize=1 << 20,
    )
    model_cv = cv.fit(toks)
    # Enforce the "holds EVERY shingle" claim: if the distinct shingle
    # count ever exceeds the CountVectorizer cap at a larger scale
    # factor, fail loudly instead of letting top-by-df truncation
    # silently reintroduce nondeterministic Jaccard estimates.
    if len(model_cv.vocabulary) >= (1 << 20):
        # The fitted vocabulary can never EXCEED the cap, so hitting it
        # is ambiguous: 'exactly full, nothing dropped' vs 'truncated'.
        # Disambiguate with the true distinct-shingle count — only in
        # this (never-yet-hit) path, so the common case pays no extra
        # job (ADVICE r9 item 2).
        n_distinct = (
            toks.select(F.explode("tokens").alias("t")).distinct().count()
        )
        if n_distinct > (1 << 20):
            raise ValueError(
                "mllib_minhash_near_dup: shingle vocabulary truncated by "
                f"the CountVectorizer vocabSize cap (1<<20 < {n_distinct} "
                "distinct shingles); raise the cap or widen the shingle "
                "width before trusting vector Jaccard"
            )
    # Pin the vectorized table: approxSimilarityJoin references each
    # side's full lineage several times (hash transform per side, then
    # the candidate distance stage), so an unpersisted vecs re-runs
    # the shingle build + CV apply repeatedly — measured 41.6s vs ~6s
    # at sf0.1. The vectorized index is exactly the artifact a
    # production near-dup pipeline materializes (the V1-index shape).
    vecs, _ = pin(
        model_cv.transform(toks).select("doc_id", "features")
    )
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=SEED_MINHASH)
    model = mh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, 0.2, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc1"),
            F.col("datasetB.doc_id").alias("doc2"),
            F.round(F.col("jaccard_dist"), 4).alias("jaccard_dist"),
        )
        .filter(F.col("doc1") < F.col("doc2"))
    )


def mllib_brp_ann_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying BRP-LSH ANN: per probe, (a) every reported
    distance equals the exact L2 recomputed via the expression fold,
    (b) the result list is distance-monotone in rank, (c) ≤ 10 rows.
    All three pinned by a trivially-expressible 5-row oracle."""
    from pyspark.sql.window import Window as W

    from spec_search_spark.functions.vector import l2_distance

    res = mllib_brp_ann(spark, sf_dir)  # probe_id, vec_id, dist, rn
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("p_id"), F.col("embedding").alias("p_vec"))
    b = emb.select(F.col("vec_id").alias("v_id"), F.col("embedding").alias("v_vec"))
    wm = W.partitionBy("probe_id").orderBy("rn")
    checked = (
        res.withColumn("prev", F.lag("dist").over(wm))
        .join(F.broadcast(a), F.col("probe_id") == F.col("p_id"))
        .join(b, F.col("vec_id") == F.col("v_id"))
        .withColumn("ex_dist", l2_distance(F.col("v_vec"), F.col("p_vec")))
    )
    return checked.groupBy("probe_id").agg(
        (F.max(F.abs(F.col("dist") - F.round(F.col("ex_dist"), 4))) <= 1e-4).alias(
            "dist_exact_ok"
        ),
        F.min(F.col("prev").isNull() | (F.col("dist") >= F.col("prev"))).alias(
            "monotone_ok"
        ),
        (F.count(F.lit(1)) <= 10).alias("count_ok"),
    )


MLLIB_BRP_SQL = """
SELECT CAST(p AS INT) AS probe_id, true AS dist_exact_ok,
       true AS monotone_ok, true AS count_ok
FROM range(5) t(p)
"""


def mllib_minhash_near_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying MinHashLSH near-dup join: approxSimilarityJoin
    computes the TRUE Jaccard distance on every candidate pair and
    filters on it — so (a) each reported distance must equal the
    Jaccard distance recomputed from the raw token sets, and (b) no
    pair may exceed the 0.2 threshold. One aggregate row, pinned by a
    constant oracle."""
    pairs = mllib_minhash_near_dup(spark, sf_dir)  # doc1, doc2, jaccard_dist
    toks = _shingle_sets(spark, sf_dir)
    t1 = toks.select(F.col("doc_id").alias("doc1"), F.col("tokens").alias("toks1"))
    t2 = toks.select(F.col("doc_id").alias("doc2"), F.col("tokens").alias("toks2"))
    joined = (
        pairs.join(t1, "doc1")
        .join(t2, "doc2")
        .withColumn("n_common", F.size(F.array_intersect("toks1", "toks2")))
        .withColumn(
            "ex_dist",
            F.lit(1.0)
            - F.col("n_common")
            / (F.size("toks1") + F.size("toks2") - F.col("n_common")).cast("double"),
        )
    )
    return joined.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.round(F.col("ex_dist"), 4) - F.col("jaccard_dist")) > 1e-4, 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_bad_dist"),
        F.coalesce(
            F.sum(F.when(F.col("jaccard_dist") > 0.2 + 1e-12, 1).otherwise(0)), F.lit(0)
        ).alias("n_above_threshold"),
    )


MLLIB_MINHASH_SQL = """
SELECT 0::BIGINT AS n_bad_dist, 0::BIGINT AS n_above_threshold
"""


QUERIES = {
    "mllib_brp_ann": mllib_brp_ann_check,
    "mllib_minhash_near_dup": mllib_minhash_near_dup_check,
}

ORACLES = {
    "mllib_brp_ann": MLLIB_BRP_SQL,
    "mllib_minhash_near_dup": MLLIB_MINHASH_SQL,
}
