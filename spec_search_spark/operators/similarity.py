"""Vector similarity operator pack (SURVEY.md §2.9 — the reference's
core capability, re-expressed Spark-first):

- V1 index build: documents → filter → chunk → embed (pandas_udf) →
  composite id (`/root/reference/indexer.py:14-57` as ONE DataFrame
  lineage instead of per-chunk collection.add round trips).
- V2 semantic top-k: probe vector(s) broadcast against the embedding
  table; distance via codegen'd higher-order functions; per-probe
  top-k via window (`/root/reference/app.py:48-61`, k=10 default).
- ANN scale path: random-hyperplane LSH bucketing → equi-join on
  bucket → exact re-rank of the candidate set only.
- embedding-cosine near-dup with label blocking (north-star dedup op).

Scale design:
- probes are always the broadcast side; the 100 TB embedding table
  never shuffles for a search.
- the probe set (`probes_of`), the per-probe cut (`topk_per_probe`)
  and the exact ground truth (`exact_knn`) live here once; every ANN
  family (ivf, ivfpq, graph_ann, vector_quant, mllib_lsh, mmr) uses
  them.
- top-k per probe = `row_number()` over a probe_id window filtered to
  rn <= k — never a global sort. Spark cuts it map-side by itself:
  `InferWindowGroupLimit` plans a Partial `WindowGroupLimit` below the
  probe_id exchange, so only ≤ k rows per probe per input partition
  cross it, never the scored corpus. The rule fires for a
  row_number/rank filter whose k ≤
  `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000); the
  largest k in use is `ivfpq.CAND_K` = 100.
- LSH bucket join: bucket ids are small ints; candidate sets shrink
  the exact-distance work by ~2^planes; at 100 TB you'd add multi-probe
  (flip lowest-margin bits) for recall — parameters here.
- brute-force pairwise ops are blocked by `label` so the join is an
  equi-join (shuffle ∝ block sizes), not a cross-join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.vector import (
    DEFAULT_DIM,
    cosine_similarity,
    cosine_similarity_sql,
    dot,
    dot_sql,
    norm,
    emb_sig_sql_agg,
    embed_text_local,
    embedding_sql_ctes,
    l2_squared,
    l2_squared_sql,
    make_embed_sig_udf,
    make_embed_udf,
)
from spec_search_spark.operators.text_analysis import CHUNK_OVERLAP, CHUNK_SIZE
from spec_search_spark.functions.text import chunk_at, chunk_fixed_sql, chunk_indices
from spec_search_spark.functions.sheets import composite_id
from spec_search_spark.session import pin, session_memo, spread, tune

TOP_K = 10          # reference default n_results (app.py:50-52)
N_PROBES = 5
N_PLANES = 4
COSINE_NEARDUP_THRESHOLD = 0.3

# deterministic hyperplanes, shared with the SQL oracle as literals
PLANES = [
    [((p * DEFAULT_DIM + j) * 2654435761 % 1000) / 499.5 - 1.0 for j in range(DEFAULT_DIM)]
    for p in range(N_PLANES)
]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, "embeddings")


def probes_of(emb: DataFrame, *extra: Column) -> DataFrame:
    """(probe_id, probe_vec, *extra): the probe set, vec_id < N_PROBES
    of an embedding frame."""
    return emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec"), *extra
    )


def topk_per_probe(scored: DataFrame, k: int, *order) -> DataFrame:
    """`scored` + rn, kept while rn <= k: row_number over each probe_id
    ordered by (*order, vec_id) — the one per-probe cut, planned as a
    map-side WindowGroupLimit (module docstring)."""
    w = W.partitionBy("probe_id").orderBy(*order, "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _l2_4dp(a: Column, b: Column) -> Column:
    return F.round(l2_squared(a, b), 4)


def exact_knn(
    emb: DataFrame, k: int, dist=_l2_4dp, probes: DataFrame | None = None
) -> DataFrame:
    """(probe_id, vec_id, dist, rn): exact top-k neighbors of every
    probe (default `probes_of(emb)`), self excluded — the one exact arm
    every ANN family's recall is graded against. `dist(embedding,
    probe_vec)` is the caller's rounding grid, so each oracle's tie
    order holds: round(l2², 4) by default, 6 dp for ivfpq, `_d2e4` for
    graph_ann."""
    probes = probes_of(emb) if probes is None else probes
    scored = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        "vec_id",
        dist(F.col("embedding"), F.col("probe_vec")).alias("dist"),
    )
    return topk_per_probe(scored, k, "dist")


# --- exact kNN --------------------------------------------------------------

def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 L2 neighbors of probe vec_id=0 (self excluded).

    Scale: single broadcast probe; distance is a codegen'd fold over
    the vector column; TakeOrderedAndProject for the limit.
    """
    emb = _emb(spark, sf_dir)
    probe = probes_of(emb).filter(F.col("probe_id") == 0)
    return (
        emb.join(F.broadcast(probe), F.col("vec_id") != F.col("probe_id"))
        .withColumn("dist2", F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4))
        .orderBy(F.asc("dist2"), F.asc("vec_id"))
        .select("vec_id", "label", "dist2")
        .limit(TOP_K)
    )


KNN_EXACT_SQL = f"""
WITH probe AS (SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round({l2_squared_sql('embedding', 'probe_vec')}, 4) AS dist2
FROM embeddings, probe
WHERE vec_id <> 0
ORDER BY dist2 ASC, vec_id ASC
LIMIT {TOP_K}
"""


def knn_multi_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 L2 neighbors for each of 5 probes — the per-probe window
    cut map-side below its one exchange, the many-query batch shape of
    reference E1."""
    return exact_knn(_emb(spark, sf_dir), 5).select(
        "probe_id", "vec_id", F.col("dist").alias("dist2"), "rn"
    )


KNN_MULTI_SQL = f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec
                FROM embeddings WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, dist2, rn
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY dist2 ASC, vec_id ASC) AS rn
      FROM scored) t
WHERE rn <= 5
"""


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of probe vec_id=0."""
    emb = _emb(spark, sf_dir)
    probe = probes_of(emb).filter(F.col("probe_id") == 0)
    return (
        emb.join(F.broadcast(probe), F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "cos_sim", F.round(cosine_similarity(F.col("embedding"), F.col("probe_vec")), 4)
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .select("vec_id", "label", "cos_sim")
        .limit(TOP_K)
    )


COSINE_TOPK_SQL = f"""
WITH probe AS (SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round({cosine_similarity_sql('embedding', 'probe_vec')}, 4) AS cos_sim
FROM embeddings, probe
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# --- LSH-bucketed ANN -------------------------------------------------------

def _bucket_expr(vec_col: F.Column) -> F.Column:
    """Random-hyperplane signature: bit p = (vec · plane_p) >= 0.

    Computed by an Arrow-batched pandas_udf that folds the dot product
    LEFT-TO-RIGHT per element (same IEEE sequence as the SQL-oracle
    list_reduce and as a zip_with/aggregate expression) — an np.dot
    would sum pairwise and could flip the sign of a near-zero margin.
    The expression form (4 planes × 64 literals inlined into codegen)
    compiled for ~30 s in janino; this kernel is plan-size O(1).
    """
    return _BUCKET_UDF(vec_col)


def _make_bucket_udf():
    import numpy as np

    planes = np.array(PLANES, dtype=np.float64)  # (P × D)

    @F.pandas_udf(T.IntegerType())
    def bucket_of(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int32)
        if len(vecs):
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])  # (N × D)
            for p in range(planes.shape[0]):
                acc = np.zeros(len(vecs), dtype=np.float64)
                for j in range(planes.shape[1]):  # ordered fold, not np.dot
                    acc = acc + mat[:, j] * planes[p, j]
                out |= (acc >= 0).astype(np.int32) << p
        return pd.Series(out)

    return bucket_of


# module-level singletons so identical plans canonicalize equal and
# CacheManager can reuse intermediates across query invocations.
_BUCKET_UDF = _make_bucket_udf()
_EMBED_UDF = make_embed_udf(DEFAULT_DIM)
_EMBED_SIG_UDF = make_embed_sig_udf(DEFAULT_DIM)


def _bucket_sql(vec: str) -> str:
    terms = []
    for p, plane in enumerate(PLANES):
        lit = "[" + ", ".join(f"{c!r}" for c in plane) + "]"
        terms.append(
            f"CASE WHEN ({dot_sql(vec, lit)}) >= 0 THEN {1 << p} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS INT)"


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: candidates = same hyperplane-LSH bucket as the probe; exact
    L2 re-rank of candidates only, top-10 per probe.

    Scale: bucket assignment is a narrow map; the probe⋈candidate join
    is an equi-join on a small int key — the embedding table shuffles
    once on bucket (or is written bucketed by this key, making repeat
    queries shuffle-free).
    """
    emb = _emb(spark, sf_dir)
    probes = probes_of(emb).withColumn("p_bucket", _bucket_expr(F.col("probe_vec")))
    emb = emb.withColumn("bucket", _bucket_expr(F.col("embedding")))
    cand = emb.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        "vec_id",
        "bucket",
        F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4).alias("dist2"),
    )
    return topk_per_probe(cand, TOP_K, "dist2").select(
        "probe_id", "vec_id", "bucket", "dist2", "rn"
    )


ANN_LSH_SQL = f"""
WITH emb AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
             FROM embeddings),
probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS p_bucket
           FROM emb WHERE vec_id < {N_PROBES}),
cand AS (
  SELECT p.probe_id, e.vec_id, e.bucket,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p
    ON e.bucket = p.p_bucket AND e.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, bucket, dist2, rn
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY dist2 ASC, vec_id ASC) AS rn
      FROM cand) t
WHERE rn <= {TOP_K}
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: recall@k of the LSH-bucketed ANN against
    exact kNN under the SAME metric/rounding/tie order — the number
    that tells you whether a bucketing config is shippable before you
    point it at the full corpus.

    Both arms reuse the production operators (exact arm = `exact_knn`,
    the multi-probe scan at k=TOP_K; approx arm = `ann_lsh_bucketed`), so
    the report measures the deployed plans, not a reimplementation.
    Scale: both arms end at ≤ N_PROBES×TOP_K rows; the hit-join and
    per-probe rollup are driver-trivial regardless of corpus size."""
    exact = exact_knn(_emb(spark, sf_dir), TOP_K).select("probe_id", "vec_id")
    approx = ann_lsh_bucketed(spark, sf_dir).select(
        "probe_id", "vec_id", F.lit(1).alias("hit")
    )
    n_approx = approx.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_approx")
    )
    return (
        exact.join(F.broadcast(approx), ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).alias("n_hits"),
        )
        .join(F.broadcast(n_approx), "probe_id", "left")
        .select(
            "probe_id",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0).cast("bigint")).alias("n_approx"),
            "n_hits",
            F.round(F.col("n_hits") / float(TOP_K), 4).alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


ANN_RECALL_SQL = f"""
WITH emb AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
             FROM embeddings),
probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS p_bucket
           FROM emb WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p ON e.vec_id <> p.probe_id),
exact AS (SELECT probe_id, vec_id
          FROM (SELECT probe_id, vec_id,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY dist2 ASC, vec_id ASC) AS rn
                FROM scored) t
          WHERE rn <= {TOP_K}),
lshcand AS (
  SELECT p.probe_id, e.vec_id,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p
    ON e.bucket = p.p_bucket AND e.vec_id <> p.probe_id),
appx AS (SELECT probe_id, vec_id
         FROM (SELECT probe_id, vec_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY dist2 ASC, vec_id ASC) AS rn
               FROM lshcand) t
         WHERE rn <= {TOP_K}),
napp AS (SELECT probe_id, COUNT(*) AS n_approx FROM appx GROUP BY probe_id)
SELECT g.probe_id, g.n_exact,
       COALESCE(napp.n_approx, 0) AS n_approx, g.n_hits,
       round(g.n_hits / {float(TOP_K)}, 4) AS recall_at_k
FROM (SELECT e.probe_id, COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM exact e LEFT JOIN appx a
        ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
      GROUP BY e.probe_id) g
LEFT JOIN napp ON napp.probe_id = g.probe_id
ORDER BY g.probe_id
"""


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each probe searches its own bucket PLUS the
    N_PLANES buckets at Hamming distance 1 (one sign bit flipped) —
    the standard recall lever for hyperplane LSH at scale (a neighbor
    whose margin on one plane is tiny lands one bit away; probing
    adjacent buckets recovers it without touching the other 2^P - P - 1
    buckets). Probe side stays the broadcast side: the probed-bucket
    fan-out (P+1 rows per probe) happens on the tiny table, the corpus
    keeps its single bucket id. Exact L2 re-rank of candidates only,
    the per-probe window cut map-side below its exchange — same shape
    as ann_lsh_bucketed."""
    emb = _emb(spark, sf_dir)
    probes = (
        probes_of(emb)
        .withColumn("p_bucket", _bucket_expr(F.col("probe_vec")))
        .select(
            "probe_id",
            "probe_vec",
            F.explode(
                F.array(
                    F.col("p_bucket"),
                    *[
                        F.col("p_bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(N_PLANES)
                    ],
                )
            ).alias("probed_bucket"),
        )
    )
    emb = emb.withColumn("bucket", _bucket_expr(F.col("embedding")))
    # a vector matches at most ONE probed bucket per probe (the flipped
    # buckets are pairwise distinct), so no pair dedup is needed.
    cand = emb.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probed_bucket")) & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        "vec_id",
        "bucket",
        F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4).alias("dist2"),
    )
    return topk_per_probe(cand, TOP_K, "dist2").select(
        "probe_id", "vec_id", "bucket", "dist2", "rn"
    )


_PROBED_BUCKETS = ", ".join(
    ["p_bucket"] + [f"xor(p_bucket, {1 << p})" for p in range(N_PLANES)]
)

ANN_MULTIPROBE_SQL = f"""
WITH emb AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
             FROM embeddings),
probes0 AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS p_bucket
            FROM emb WHERE vec_id < {N_PROBES}),
probes AS (SELECT probe_id, probe_vec,
                  unnest([{_PROBED_BUCKETS}]) AS probed_bucket
           FROM probes0),
cand AS (
  SELECT p.probe_id, e.vec_id, e.bucket,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p
    ON e.bucket = p.probed_bucket AND e.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, bucket, dist2, rn
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY dist2 ASC, vec_id ASC) AS rn
      FROM cand) t
WHERE rn <= {TOP_K}
"""


# --- embedding-cosine near-dup ---------------------------------------------

# Banded hyperplane LSH inside each label block: NEARDUP_N_BANDS bands
# of NEARDUP_ROWS_PER_BAND hyperplane sign bits each. A pair is a
# CANDIDATE iff it agrees on at least one full band (within its label);
# candidates then pass the exact cosine ≥ threshold re-check. This
# bounds the pair join — the join key is (label, band_idx, band_sig),
# so per-task block size is |label block| / 2^ROWS per band, and NO
# code path is quadratic in a raw label block (at 100 TB a
# low-cardinality label column made the label-only join a cartesian
# product in disguise). Banding is probabilistic: a qualifying pair is
# missed iff it disagrees in every band; with p = (1 - θ/π)^ROWS the
# per-band agreement for angle θ, recall = 1-(1-p)^BANDS — at the
# threshold cos=0.3 (θ≈1.27), p≈0.36 and recall ≈ 97%. For true
# near-dup thresholds (cos≥0.9, the production setting) p≈0.73 and
# recall > 99.99%. Measured on the synthetic sf0.01 embeddings (random
# vectors, so every qualifying pair sits barely above the threshold —
# the worst case for LSH): 98 of the 111 exact pairs survive (88%);
# tests/test_plans.py pins recall ≥ 0.8 and candidates ≪ label-block
# pairs. The SQL oracle mirrors the banding EXACTLY (same
# plane literals, same sign folds), so both engines agree bit-for-bit
# on the candidate set — the same capped-semantics pattern as
# dedup.MAX_SHINGLE_DF.
NEARDUP_N_BANDS = 8
NEARDUP_ROWS_PER_BAND = 2
# plane index offset 100: disjoint from the ann_lsh_bucketed PLANES
NEARDUP_PLANES = [
    [((p * DEFAULT_DIM + j) * 2654435761 % 1000) / 499.5 - 1.0 for j in range(DEFAULT_DIM)]
    for p in range(100, 100 + NEARDUP_N_BANDS * NEARDUP_ROWS_PER_BAND)
]


def _make_band_sigs_udf():
    import numpy as np

    planes = np.array(NEARDUP_PLANES, dtype=np.float64)  # (B*R × D)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def band_sigs(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if not n:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])  # (N × D)
        bits = np.zeros((n, planes.shape[0]), dtype=np.int32)
        for p in range(planes.shape[0]):
            acc = np.zeros(n, dtype=np.float64)
            for j in range(planes.shape[1]):  # ordered fold, not np.dot
                acc = acc + mat[:, j] * planes[p, j]
            bits[:, p] = (acc >= 0).astype(np.int32)
        sigs = np.zeros((n, NEARDUP_N_BANDS), dtype=np.int32)
        for b in range(NEARDUP_N_BANDS):
            for r in range(NEARDUP_ROWS_PER_BAND):
                sigs[:, b] |= bits[:, b * NEARDUP_ROWS_PER_BAND + r] << r
        return pd.Series(list(sigs), index=vecs.index)

    return band_sigs


_BAND_SIGS_UDF = _make_band_sigs_udf()


def _band_sig_sql(vec: str, band: int) -> str:
    terms = []
    for r in range(NEARDUP_ROWS_PER_BAND):
        plane = NEARDUP_PLANES[band * NEARDUP_ROWS_PER_BAND + r]
        lit = "[" + ", ".join(f"{c!r}" for c in plane) + "]"
        terms.append(f"CASE WHEN ({dot_sql(vec, lit)}) >= 0 THEN {1 << r} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (label, vec1, vec2) candidate pairs from the banded
    equi-join — exposed separately so tests can assert the candidate
    set is bounded (structurally smaller than the raw label blocks)."""
    emb = _emb(spark, sf_dir)
    sigs = emb.select(
        "vec_id", "label", F.posexplode(_BAND_SIGS_UDF(F.col("embedding"))).alias("band_idx", "sig")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
        )
        .distinct()
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates within each label block,
    exact cosine ≥ threshold re-check on candidates only (see the
    banding notes above — no quadratic path in a label block).

    Each vector's norm is computed ONCE on the vector table and joined
    alongside the embedding, so the per-candidate re-check is a single
    dot fold instead of three (dot + both norms re-folded per pair —
    candidates outnumber vectors ~80:1 here). cos = dot/(n1·n2) sees
    bit-identical double operands either way, so the rounded values
    (and the oracle) are unchanged."""
    emb = _emb(spark, sf_dir)
    # Explicit-N repartition of the id-only candidate rows: AQE sizes
    # the distinct's output by BYTES (~5 MB → one 8m-advisory
    # partition), but the downstream per-pair dot fold is compute-heavy
    # — the whole re-check ran as ONE 1.4 s task. An explicit partition
    # count is exempt from AQE coalescing; the exchange moves 3 ints
    # per candidate, and at cluster scale the join on vec1 re-keys the
    # candidates anyway (shuffle.partitions tracks defaultParallelism
    # in tune(), so the layouts coincide).
    dp = spark.sparkContext.defaultParallelism
    cand = neardup_candidates(spark, sf_dir).repartition(dp, "vec1")
    e1 = emb.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("emb1"),
        norm(F.col("embedding")).alias("n1"),
    )
    e2 = emb.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("emb2"),
        norm(F.col("embedding")).alias("n2"),
    )
    return (
        cand.join(e1, "vec1")
        .join(e2, "vec2")
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("emb1"), F.col("emb2")) / (F.col("n1") * F.col("n2")),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= COSINE_NEARDUP_THRESHOLD)
        .select("label", "vec1", "vec2", "cos_sim")
    )


_NEARDUP_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, label, {b} AS band_idx, {_band_sig_sql('embedding', b)} AS sig "
    "FROM embeddings"
    for b in range(NEARDUP_N_BANDS)
)

EMBEDDING_NEAR_DUP_SQL = f"""
WITH bands AS ({_NEARDUP_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.label AS label, a.vec_id AS vec1, b.vec_id AS vec2
  FROM bands a JOIN bands b
    ON a.label = b.label AND a.band_idx = b.band_idx AND a.sig = b.sig
   AND a.vec_id < b.vec_id
)
SELECT c.label, c.vec1, c.vec2,
       round({cosine_similarity_sql('e1.embedding', 'e2.embedding')}, 4) AS cos_sim
FROM cand c
JOIN embeddings e1 ON e1.vec_id = c.vec1
JOIN embeddings e2 ON e2.vec_id = c.vec2
WHERE round({cosine_similarity_sql('e1.embedding', 'e2.embedding')}, 4)
      >= {COSINE_NEARDUP_THRESHOLD}
"""


# --- V1 index build + V2 semantic search (the reference pipeline) ----------

def chunked_docs_df(docs: DataFrame) -> DataFrame:
    """The shared pre-embed V1 intermediate: filter → chunk-explode →
    composite id, on any documents-shaped DataFrame.

    Fans out to full parallelism before the chunk-explode (and the
    embed pandas_udf downstream) — the local test table arrives as one
    parquet split and would otherwise run the whole stage on one core
    (gated on the scan's split count: at 100 TB the source has
    thousands of splits and NO text shuffle happens, while local
    single-split scans still fan out for embed-stage parallelism)."""
    return (
        spread(docs, "doc_id")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))  # P1
        .select(
            "doc_id",
            "source",
            F.explode(chunk_indices(F.col("text"), CHUNK_SIZE, CHUNK_OVERLAP)).alias(
                "chunk_idx"
            ),
            "text",
        )
        .select(
            composite_id(
                F.col("source"), F.col("doc_id"), F.lit(0), F.col("doc_id"), F.col("chunk_idx")
            ).alias("id"),
            "doc_id",
            "source",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            chunk_at(F.col("text"), F.col("chunk_idx"), CHUNK_SIZE, CHUNK_OVERLAP).alias(
                "chunk"
            ),
        )
    )


def build_index_df(docs: DataFrame, embed_udf=None) -> DataFrame:
    """V1 core on any documents-shaped DataFrame (used by both the
    batch entry point and the streaming foreachBatch upsert).

    The embed kernel runs BEFORE the id-dedup shuffle: ids are unique
    by construction (dedup exists for upsert-replay parity), so
    embedding first costs no extra kernel work, keeps the kernel at
    the chunk stage's full parallelism (after the tiny dedup exchange
    AQE coalesces to a handful of partitions — embedding there would
    serialize the Python work at test scale), and map-side combines
    the dedup like any partial agg.

    `embed_udf` is the F6 model-swap seam made explicit: pass a
    `make_model_embed_udf(...)` wrapper to run the SAME V1 lineage
    under a real encoder — the swap changes vector data only, never
    the plan (pinned by tests/test_model_swap.py's shape compare)."""
    return (
        chunked_docs_df(docs)
        .withColumn("embedding", (embed_udf or _EMBED_UDF)(F.col("chunk")))
        .dropDuplicates(["id"])
    )


@session_memo
def build_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: documents → empty-filter → chunk → embed → composite id.

    One DataFrame lineage replacing the reference's per-chunk
    `collection.add` loop (`indexer.py:46-57`) — the embedder runs as
    an Arrow-batched pandas_udf over whole partitions.

    Memoized per (session, corpus) — an INDEX is built once and
    searched many times (the reference persists it in Chroma,
    `app.py:32-39`); without the memo every search query re-chunked
    and re-embedded the corpus. localCheckpoint (not cache) so search
    plans don't re-analyze the chunk+embed lineage per call (the
    graph._edges_deg lesson); a cluster would persist to parquet —
    exactly what the S5/S7 index-write path does.
    """
    tune(spark)
    return build_index_df(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )


def vector_index_build_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The harness-facing V1 entry: the chunked intermediate with the
    embedding projected to emb_sig (scaled-int string — the driver's
    pandas canonicalizer crashes on raw ndarray cells, and the
    poly-hash embedder makes the full value oracle expressible in
    DuckDB). Computed by the direct votes→sig kernel
    (make_embed_sig_udf): bit-identical to emb_sig(embedding) but skips
    the float array column and the 64-wide transform+concat per row."""
    tune(spark)
    return (
        chunked_docs_df(load_table(spark, sf_dir, "documents"))
        .withColumn("emb_sig", _EMBED_SIG_UDF(F.col("chunk")))
        .dropDuplicates(["id"])
    )


# The oracle's chunk CTE mirrors build_index_df: empty-filter, fixed-
# stride chunking (size 120 / overlap 30), composite id
# source_{doc}_A{doc+2}_{i} (col_idx=0 → 'A'; row = doc_id + 2).
_CF = chunk_fixed_sql(CHUNK_SIZE, CHUNK_OVERLAP)
_INDEX_CHUNKS_CTE = f"""
__chunks AS (
  SELECT source || '_' || doc_id::VARCHAR || '_A' || (doc_id + 2)::VARCHAR
           || '_' || i::VARCHAR AS id,
         doc_id, source, CAST(i AS INT) AS chunk_idx, {_CF['chunk']} AS chunk
  FROM (SELECT doc_id, source, text, unnest(range(0, {_CF['n_chunks']})) AS i
        FROM documents WHERE text IS NOT NULL AND text <> '') t
)"""

VECTOR_INDEX_SQL = f"""
WITH {_INDEX_CHUNKS_CTE},
{embedding_sql_ctes('__chunks', 'id', 'chunk', DEFAULT_DIM).lstrip()},
__sigs AS ({emb_sig_sql_agg('__comp')})
SELECT c.id, c.doc_id, c.source, c.chunk_idx, c.chunk, s.emb_sig
FROM __chunks c JOIN __sigs s ON s.id = c.id
"""


def search_index(index: DataFrame, probe_vec: list[float], k: int = TOP_K) -> DataFrame:
    """V2 core over ANY V1-shaped index (id, …, embedding) and any
    probe vector — the other half of the model-swap seam: a real
    encoder's query vector drives the identical top-k plan."""
    probe = F.array(*[F.lit(float(x)) for x in probe_vec])
    return (
        index.withColumn("dist2", F.round(l2_squared(F.col("embedding"), probe), 6))
        .orderBy(F.asc("dist2"), F.asc("id"))
        .select("id", "doc_id", "source", "chunk_idx", "chunk", "dist2")
        .limit(k)
    )


def semantic_search(
    spark: SparkSession, sf_dir: str, query: str = "fast merge join order", k: int = TOP_K
) -> DataFrame:
    """V2 end-to-end: embed the query text driver-side, broadcast it,
    exact top-k over the V1 index (reference E1, `app.py:48-61`)."""
    return search_index(
        build_index(spark, sf_dir), embed_text_local(query, DEFAULT_DIM), k
    )


def semantic_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_search(spark, sf_dir)


def _semantic_search_sql(query: str = "fast merge join order", k: int = TOP_K) -> str:
    """Full V2 oracle: re-chunk + re-embed in DuckDB (bit-identical to
    the pandas_udf embedder), probe vector inlined as exact double
    literals (float32 components round-trip exactly through repr)."""
    probe_lit = "[" + ", ".join(repr(x) for x in embed_text_local(query, DEFAULT_DIM)) + "]"
    return f"""
WITH {_INDEX_CHUNKS_CTE},
{embedding_sql_ctes('__chunks', 'id', 'chunk', DEFAULT_DIM).lstrip()},
__embs AS (SELECT id, list(c ORDER BY d) AS emb FROM __comp GROUP BY id)
SELECT c.id, c.doc_id, c.source, c.chunk_idx, c.chunk,
       round({l2_squared_sql('e.emb', probe_lit)}, 6) AS dist2
FROM __chunks c JOIN __embs e ON e.id = c.id
ORDER BY dist2 ASC, c.id ASC
LIMIT {k}
"""


FILTER_LABEL = 3  # metadata predicate for the filtered search


def filtered_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the vector-DB `where` clause —
    Chroma exposes this as `collection.query(..., where=...)`; hosted
    capability surface of the reference's store): top-k L2 neighbors
    among vectors whose label matches the predicate.

    Scale: the filter is applied BEFORE any distance arithmetic and
    reaches the parquet scan as a pushed predicate (plan-audited), so
    a selective filter prunes row groups and the distance fold runs
    only over survivors — filter-then-search, never search-then-filter.
    """
    emb = _emb(spark, sf_dir)
    probe = probes_of(emb).filter(F.col("probe_id") == 0)
    return (
        emb.filter(F.col("label") == FILTER_LABEL)
        .join(F.broadcast(probe), F.col("vec_id") != F.col("probe_id"))
        .withColumn("dist2", F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4))
        .orderBy(F.asc("dist2"), F.asc("vec_id"))
        .select("vec_id", "label", "dist2")
        .limit(TOP_K)
    )


FILTERED_ANN_SQL = f"""
WITH probe AS (SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round({l2_squared_sql('embedding', 'probe_vec')}, 4) AS dist2
FROM embeddings, probe
WHERE vec_id <> 0 AND label = {FILTER_LABEL}
ORDER BY dist2 ASC, vec_id ASC
LIMIT {TOP_K}
"""


RRF_K = 60  # reciprocal-rank-fusion damping (the standard constant)
HYBRID_ARM_K = 20  # per-arm candidate depth
HYBRID_QUERY = "fast merge join order"
IDF_SCALE = 1000  # integer idf weight scale


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: keyword arm + vector arm fused with
    reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09) — the
    standard modern search stack (BM25-ish lexical + dense embedding)
    on one engine.

    - Vector arm: the V2 semantic index (chunk embeddings), collapsed
      to docs by best-chunk distance, top-HYBRID_ARM_K.
    - Keyword arm: integer idf-weighted token overlap with the query —
      per matched query token, weight (N·IDF_SCALE) div df(token),
      summed per doc; exact bigint arithmetic in both engines.
    - Fusion: score = Σ_arms 1/(RRF_K + rank). Ranks are small
      integers, each arm's term is one double division, the sum folds
      in a fixed (vector, keyword) order — bit-identical cross-engine,
      no tolerance needed.

    Scale shape: both arms end in TakeOrderedAndProject at depth
    HYBRID_ARM_K (never a global sort); the only windows run over the
    ≤ HYBRID_ARM_K survivor rows of each arm; the keyword postings are
    pre-filtered to the query's tokens AT THE SCAN (an IN filter that
    pushes to parquet), so the inverted-index work is
    query-term-bounded, not corpus-bounded. Doc count N enters via a
    one-row broadcast aggregate, not a driver collect.
    """
    tune(spark)
    q_tokens = [t for t in HYBRID_QUERY.lower().split() if t]

    # --- vector arm: best-chunk distance per doc, top-K docs ---
    index = build_index(spark, sf_dir)
    probe = F.array(*[F.lit(x) for x in embed_text_local(HYBRID_QUERY, DEFAULT_DIM)])
    doc_dist = (
        index.withColumn("dist2", F.round(l2_squared(F.col("embedding"), probe), 6))
        .groupBy("doc_id")
        .agg(F.min("dist2").alias("best_dist2"))
        .orderBy(F.asc("best_dist2"), F.asc("doc_id"))
        .limit(HYBRID_ARM_K)
    )
    w_vec = W.orderBy(F.asc("best_dist2"), F.asc("doc_id"))  # ≤ K rows
    vec_arm = doc_dist.withColumn("vec_rank", F.row_number().over(w_vec)).select(
        "doc_id", "vec_rank"
    )

    # --- keyword arm: integer idf overlap, top-K docs ---
    docs = load_table(spark, sf_dir, "documents")
    from spec_search_spark.functions.text import tokens as _tok

    postings = (
        docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(q_tokens))
        .distinct()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_t = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    kw_score = (
        postings.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w", F.expr(f"(n_docs * {IDF_SCALE}L) div df"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("kw_score"))
        .orderBy(F.desc("kw_score"), F.asc("doc_id"))
        .limit(HYBRID_ARM_K)
    )
    w_kw = W.orderBy(F.desc("kw_score"), F.asc("doc_id"))  # ≤ K rows
    kw_arm = kw_score.withColumn("kw_rank", F.row_number().over(w_kw)).select(
        "doc_id", "kw_rank"
    )

    # --- RRF fusion ---
    fused = (
        vec_arm.join(kw_arm, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0)),
                9,
            ),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(TOP_K)
    )
    return fused.select("doc_id", "vec_rank", "kw_rank", "rrf")


def _hybrid_search_sql() -> str:
    q_tokens = [t for t in HYBRID_QUERY.lower().split() if t]
    toks_lit = ", ".join(f"'{t}'" for t in q_tokens)
    probe_lit = (
        "[" + ", ".join(repr(x) for x in embed_text_local(HYBRID_QUERY, DEFAULT_DIM)) + "]"
    )
    return f"""
WITH {_INDEX_CHUNKS_CTE},
{embedding_sql_ctes('__chunks', 'id', 'chunk', DEFAULT_DIM).lstrip()},
__embs AS (SELECT id, list(c ORDER BY d) AS emb FROM __comp GROUP BY id),
doc_dist AS (
  SELECT c.doc_id, min(round({l2_squared_sql('e.emb', probe_lit)}, 6)) AS best_dist2
  FROM __chunks c JOIN __embs e ON e.id = c.id
  GROUP BY c.doc_id
  ORDER BY best_dist2 ASC, c.doc_id ASC
  LIMIT {HYBRID_ARM_K}
),
vec_arm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY best_dist2 ASC, doc_id ASC) AS vec_rank
  FROM doc_dist
),
postings AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                               ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
    FROM documents
  ) t WHERE tok IN ({toks_lit})
),
n AS (SELECT count(*) AS n_docs FROM documents),
df_t AS (SELECT tok, count(*) AS df FROM postings GROUP BY tok),
kw AS (
  SELECT p.doc_id, CAST(sum((n.n_docs * {IDF_SCALE}) // d.df) AS BIGINT) AS kw_score
  FROM postings p JOIN df_t d USING (tok) CROSS JOIN n
  GROUP BY p.doc_id
  ORDER BY kw_score DESC, p.doc_id ASC
  LIMIT {HYBRID_ARM_K}
),
kw_arm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY kw_score DESC, doc_id ASC) AS kw_rank
  FROM kw
)
SELECT COALESCE(v.doc_id, k.doc_id) AS doc_id,
       CAST(v.vec_rank AS INT) AS vec_rank,
       CAST(k.kw_rank AS INT) AS kw_rank,
       round(COALESCE(1.0::DOUBLE / ({RRF_K} + v.vec_rank), 0.0)
             + COALESCE(1.0::DOUBLE / ({RRF_K} + k.kw_rank), 0.0), 9) AS rrf
FROM vec_arm v FULL OUTER JOIN kw_arm k ON v.doc_id = k.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {TOP_K}
"""


RERANK_DEPTH = 20  # first-stage candidate depth for the reranker


def semantic_search_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve -> rerank (the production search stack:
    a cheap first-stage retriever over the whole index, an expensive
    scorer over its top candidates only). Stage 1 is the V2 L2
    retriever at RERANK_DEPTH; stage 2 re-scores ONLY those candidates
    with a cross-encoder-shaped scorer over (query, chunk) pairs and
    reorders to the final top-k.

    The scorer here is the deterministic poly-hash stand-in (same
    fold the embedder uses, so the whole two-stage pipeline has an
    exact DuckDB oracle); a real cross-encoder drops into the same
    seam the way make_model_embed_udf swaps for the hash embedder —
    batched model inference over RERANK_DEPTH rows per query, never
    over the corpus.

    Scale: stage-2 cost is O(k) per query regardless of corpus size —
    the expensive model never sees more than RERANK_DEPTH candidates.
    Stage 1 is a row_number window filtered to RERANK_DEPTH, NOT an
    intermediate orderBy+limit: composed under more operators, Spark
    plans orderBy(...).limit(k) as a full rangepartitioning shuffle of
    the scored corpus + Sort + limit (the interior-range-exchange audit
    caught exactly this in r9), while Spark cuts this unpartitioned
    window with a TakeOrderedAndProject under it: each partition keeps
    its RERANK_DEPTH best rows before the single-partition merge — the
    corpus never exchanges. The final TOP_K reorder is terminal and
    plans as TakeOrderedAndProject too.
    """
    from spec_search_spark.operators.dedup import _poly_hash

    index = build_index(spark, sf_dir)
    probe = F.array(*[F.lit(x) for x in embed_text_local(HYBRID_QUERY, DEFAULT_DIM)])
    scored = (
        index.withColumn("dist2", F.round(l2_squared(F.col("embedding"), probe), 6))
        .select("id", "doc_id", "chunk_idx", "chunk", "dist2")
    )
    w = W.orderBy(F.asc("dist2"), F.asc("id"))
    cands = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RERANK_DEPTH)
        .drop("rn")
    )
    score = (
        F.pmod(_poly_hash(F.concat(F.lit(HYBRID_QUERY + "||"), F.col("chunk"))), F.lit(100000))
        .cast("bigint")
    )
    return (
        cands.withColumn("rerank_score", score)
        .orderBy(F.desc("rerank_score"), F.asc("id"))
        .select("id", "doc_id", "chunk_idx", "dist2", "rerank_score")
        .limit(TOP_K)
    )


def _semantic_search_reranked_sql() -> str:
    from spec_search_spark.operators.dedup import _POLY_SQL

    probe_lit = (
        "[" + ", ".join(repr(x) for x in embed_text_local(HYBRID_QUERY, DEFAULT_DIM)) + "]"
    )
    score_sql = _POLY_SQL.format(s=f"'{HYBRID_QUERY}||' || chunk")
    return f"""
WITH {_INDEX_CHUNKS_CTE},
{embedding_sql_ctes('__chunks', 'id', 'chunk', DEFAULT_DIM).lstrip()},
__embs AS (SELECT id, list(c ORDER BY d) AS emb FROM __comp GROUP BY id),
stage1 AS (
  SELECT c.id, c.doc_id, c.chunk_idx, c.chunk,
         round({l2_squared_sql('e.emb', probe_lit)}, 6) AS dist2
  FROM __chunks c JOIN __embs e ON e.id = c.id
  ORDER BY dist2 ASC, c.id ASC
  LIMIT {RERANK_DEPTH}
)
SELECT id, doc_id, chunk_idx, dist2,
       CAST((({score_sql}) % 100000 + 100000) % 100000 AS BIGINT) AS rerank_score
FROM stage1
ORDER BY rerank_score DESC, id ASC
LIMIT {TOP_K}
"""


def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining for embedding training: per anchor,
    the hardest in-bucket negative (most-similar different-label
    vector) and the hardest in-bucket positive (least-similar
    same-label vector) — the pairs a metric-learning loss learns most
    from.

    Scale: mining runs INSIDE each hyperplane-LSH bucket (the same
    deterministic planes the ANN queries share), so the pair join is
    bucket-blocked, never corpus-quadratic; bucket occupancy is tuned
    by N_PLANES (more planes at larger corpora). Semantically that is
    "hardest among the anchor's own collision set" — exactly the
    candidates an ANN-backed production miner would score. Selection
    compares RAW similarities (vec_id tie-break) in both engines —
    cross-engine exact because the dimension folds are bit-identical —
    and rounding to 6dp happens only on the selected winners' display
    values. Anchors lacking a same-label and a different-label
    bucket-mate are dropped.

    Physical shape: ONE shuffle of the vectors by bucket into a
    per-bucket Arrow kernel (applyInPandas). Inside the kernel the
    full bucket's pairwise cosine matrix comes from an ORDERED
    dimension fold (acc += outer(col_j, col_j), j ascending — the
    exact per-element operation sequence of the zip_with+aggregate
    expression and of the DuckDB list fold, so the raw doubles are
    bit-identical across all three), and per-anchor argmin/argmax run
    vectorized in numpy. Selection compares RAW sims with a cand_id
    tie-break — cross-engine exact because the folds are — and
    rounding to 6 decimals happens only on the selected winners'
    display values. The earlier pure-expression form materialized
    ~n²/bucket pair rows through codegen (an array allocation per pair
    in zip_with) and cost 2.7× more; kernel pair work is the same n²
    but stays inside one fused numpy op per dimension. Bucket
    occupancy (the n² bound) is tuned by N_PLANES at larger corpora.
    """
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", "embedding", _bucket_expr(F.col("embedding")).alias("bucket")
    )
    out_schema = T.StructType(
        [
            T.StructField("anchor_id", T.LongType()),
            T.StructField("pos_id", T.LongType()),
            T.StructField("pos_sim", T.DoubleType()),
            T.StructField("neg_id", T.LongType()),
            T.StructField("neg_sim", T.DoubleType()),
        ]
    )

    empty = pd.DataFrame(
        {
            "anchor_id": pd.Series(dtype="int64"),
            "pos_id": pd.Series(dtype="int64"),
            "pos_sim": pd.Series(dtype="float64"),
            "neg_id": pd.Series(dtype="int64"),
            "neg_sim": pd.Series(dtype="float64"),
        }
    )

    def mine(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        labels = pdf["label"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        acc = np.zeros((n, n))
        for j in range(mat.shape[1]):  # ordered fold — NOT np.dot
            col = mat[:, j]
            acc += np.outer(col, col)
        nrm = np.sqrt(np.diagonal(acc))
        sims = acc / np.outer(nrm, nrm)
        rows = []
        for i in range(n):
            s = sims[i]
            same = (labels == labels[i])
            same[i] = False
            diff = ~same
            diff[i] = False
            if not same.any() or not diff.any():
                continue
            # pos: min sim among same-label, ties -> min cand_id
            ps = np.where(same, s, np.inf)
            pmin = ps.min()
            pos_i = ids[(ps == pmin)].min()
            # neg: max sim among diff-label, ties -> min cand_id
            ns = np.where(diff, s, -np.inf)
            nmax = ns.max()
            neg_i = ids[(ns == nmax)].min()
            rows.append(
                (
                    int(ids[i]),
                    int(pos_i),
                    float(s[np.argmax(ids == pos_i)]),
                    int(neg_i),
                    float(s[np.argmax(ids == neg_i)]),
                )
            )
        if not rows:
            return empty
        return pd.DataFrame(
            rows, columns=[f.name for f in out_schema.fields]
        )

    mined = emb.groupBy("bucket").applyInPandas(mine, out_schema)
    return mined.select(
        "anchor_id",
        "pos_id",
        F.round("pos_sim", 6).alias("pos_sim"),
        "neg_id",
        F.round("neg_sim", 6).alias("neg_sim"),
    )


TRIPLET_SQL = f"""
WITH emb AS (SELECT vec_id, embedding, label, {_bucket_sql('embedding')} AS bucket
             FROM embeddings),
pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         a.label = b.label AS same,
         {cosine_similarity_sql('a.embedding', 'b.embedding')} AS sim_raw
  FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
pos AS (SELECT anchor_id, cand_id AS pos_id, sim_raw AS pos_raw,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY sim_raw ASC, cand_id ASC) AS rn
        FROM pairs WHERE same),
neg AS (SELECT anchor_id, cand_id AS neg_id, sim_raw AS neg_raw,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY sim_raw DESC, cand_id ASC) AS rn
        FROM pairs WHERE NOT same)
SELECT p.anchor_id, p.pos_id, round(p.pos_raw, 6) AS pos_sim,
       n.neg_id, round(n.neg_raw, 6) AS neg_sim
FROM pos p JOIN neg n USING (anchor_id)
WHERE p.rn = 1 AND n.rn = 1
"""


def doc_embeddings_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level embeddings by mean-pooling the V1 index's chunk
    embeddings — the retrieval-stack step between chunk-level search
    and doc-level dedup/clustering (SemDeDup, kmeans.py, consume
    exactly this shape). One posexplode + per-(doc, dim) partial+final
    AVG (shuffle ∝ docs×dim), re-packed with the sort_array idiom;
    6dp rounding is the cross-engine float-order contract (kmeans.py).

    Output: (doc_id, n_chunks, pooled array<double>)."""
    index = build_index(spark, sf_dir)
    per_dim = (
        index.select("doc_id", "id", F.posexplode("embedding").alias("d", "c"))
        .groupBy("doc_id", "d")
        .agg(F.round(F.avg("c"), 6).alias("v"))
    )
    pooled = per_dim.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("pooled")
    )
    n_chunks = index.groupBy("doc_id").agg(F.countDistinct("id").alias("n_chunks"))
    return n_chunks.join(pooled, "doc_id").select("doc_id", "n_chunks", "pooled")


DOC_POOLED_SQL = f"""
WITH {_INDEX_CHUNKS_CTE},
{embedding_sql_ctes('__chunks', 'id', 'chunk', DEFAULT_DIM).lstrip()},
per_dim AS (
  SELECT c.doc_id, comp.d, round(avg(comp.c), 6) AS v
  FROM __comp comp JOIN __chunks c ON comp.id = c.id
  GROUP BY c.doc_id, comp.d
),
pooled AS (
  SELECT doc_id, list(v ORDER BY d) AS pooled FROM per_dim GROUP BY doc_id
),
nch AS (SELECT doc_id, count(DISTINCT id) AS n_chunks FROM __chunks GROUP BY doc_id)
SELECT nch.doc_id, nch.n_chunks, pooled.pooled
FROM nch JOIN pooled USING (doc_id)
"""


def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext mining (the LASER/CCMatrix alignment
    shape): mutual-nearest-neighbor pairs between the EN embeddings
    and every other language's — candidate translation / parallel-text
    pairs for multilingual training. A pair (a, b) survives only if b
    is a's top cross-lingual cosine neighbor AND a is b's; mutuality
    is the standard precision filter before any margin scoring.

    Plan: the non-EN side broadcasts (knn_exact precedent; the 100 TB
    path swaps the exact cross for the IVF/LSH bucketed candidate join
    in `ivf`/`ann_lsh_bucketed` — identical downstream mutuality
    logic). Cosines snap to integer micro-units BEFORE the per-side
    argmax, so top-1 is an exact (cu, id)-ordered integer comparison
    in both engines, computed as max(struct) — partial+final agg, no
    corpus-wide window. Output: one row per mutual pair."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = (
        _emb(spark, sf_dir)
        .join(docs, F.col("vec_id") == F.col("doc_id"))
        .select("vec_id", "lang", "embedding")
    )
    from spec_search_spark.functions.vector import dot, norm

    # norms are per-VECTOR, not per-pair: compute each side's norm once
    # before the cross (n + m sqrt-folds instead of 2·n·m), so the
    # per-pair work is the single dot fold. dot/(an·bn) is the same
    # IEEE tree as cosine_similarity's dot/(norm·norm) — values are
    # bit-identical to the per-pair form the oracle evaluates.
    a = e.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        norm(F.col("embedding")).alias("an"),
    )
    b = e.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("embedding").alias("bv"),
        norm(F.col("embedding")).alias("bn"),
    )
    # both argmax sides consume the same n×m score table — pin it once
    # or each groupBy re-evaluates every cosine fold
    scored, _ = pin(
        a.crossJoin(F.broadcast(b)).select(
            "a_id",
            "b_id",
            "b_lang",
            F.round(
                dot(F.col("av"), F.col("bv"))
                / (F.col("an") * F.col("bn"))
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("cu"),
        )
    )
    best_a = (
        scored.groupBy("a_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cu"), (-F.col("b_id")).alias("nb"), F.col("b_lang")
                )
            ).alias("m")
        )
        .select(
            "a_id",
            (-F.col("m.nb")).alias("b_id"),
            F.col("m.b_lang").alias("b_lang"),
            F.col("m.cu").alias("cu"),
        )
    )
    best_b = (
        scored.groupBy("b_id")
        .agg(
            F.max(F.struct(F.col("cu"), (-F.col("a_id")).alias("na"))).alias(
                "m"
            )
        )
        .select(F.col("b_id").alias("bb_id"), (-F.col("m.na")).alias("ba_id"))
    )
    return (
        best_a.join(
            F.broadcast(best_b),
            (F.col("bb_id") == F.col("b_id"))
            & (F.col("ba_id") == F.col("a_id")),
        )
        .select(
            "a_id",
            "b_id",
            "b_lang",
            (F.col("cu") / F.lit(1e6)).alias("cos_6"),
        )
    )


BITEXT_SQL = f"""
WITH e AS (
  SELECT vec_id, lang, embedding
  FROM embeddings JOIN documents ON doc_id = vec_id
), a AS (
  SELECT vec_id AS a_id, embedding AS av FROM e WHERE lang = 'en'
), b AS (
  SELECT vec_id AS b_id, lang AS b_lang, embedding AS bv
  FROM e WHERE lang <> 'en'
), scored AS (
  SELECT a_id, b_id, b_lang,
         CAST(round(({cosine_similarity_sql('av', 'bv')}) * 1e6) AS BIGINT)
           AS cu
  FROM a CROSS JOIN b
), best_a AS (
  SELECT a_id, b_id, b_lang, cu FROM (
    SELECT *, row_number() OVER (PARTITION BY a_id
             ORDER BY cu DESC, b_id ASC) AS rn
    FROM scored) WHERE rn = 1
), best_b AS (
  SELECT b_id, a_id AS ba_id FROM (
    SELECT a_id, b_id, row_number() OVER (PARTITION BY b_id
             ORDER BY cu DESC, a_id ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT best_a.a_id, best_a.b_id, b_lang, cu / 1e6 AS cos_6
FROM best_a JOIN best_b
  ON best_b.b_id = best_a.b_id AND best_b.ba_id = best_a.a_id
"""


RBO_P = 0.9  # rank-biased overlap persistence (top-weightedness)
RBO_SCALE = 1_000_000_000  # coefficient snap (nano-units)


def _rbo_coeffs() -> tuple[list[int], int]:
    """(c[1..K], ideal): c[m] = snap(Σ_{{d=m..K}} p^(d-1)/d) — the total
    weight a document matched at max-rank m contributes to the
    truncated RBO sum — and ideal = snap(Σ p^(d-1)), the identical-
    rankings numerator. Snapped to integer nano-units in PYTHON and
    embedded as literals in both engines, so no float divergence can
    exist by construction."""
    cs = []
    for m in range(1, TOP_K + 1):
        cs.append(
            round(
                RBO_SCALE
                * sum(RBO_P ** (d - 1) / d for d in range(m, TOP_K + 1))
            )
        )
    ideal = round(RBO_SCALE * sum(RBO_P ** (d - 1) for d in range(1, TOP_K + 1)))
    return cs, ideal


def rbo_ann_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010) between the EXACT
    top-{TOP_K} ranking and the LSH-bucketed ANN ranking, per probe —
    the top-weighted ranking-agreement metric that recall@k cannot
    express (recall treats rank 1 and rank 10 the same; RBO discounts
    by p^(d-1), so losing the top hit hurts more than losing the
    tail). The third leg of the ANN eval set next to
    `ann_recall_report` (set overlap) and `retrieval_eval_report`
    (label relevance). Normalization: truncated RBO@k, score =
    Σ p^(d-1)·(X_d/d) / Σ p^(d-1) with X_d the depth-d intersection —
    1.0 iff the rankings agree on all K prefixes.

    Exact shape: a doc matched at ranks (ra, rb) contributes to every
    depth ≥ max(ra, rb), so its total weight is a PURE FUNCTION of
    max(ra, rb) — precomputed in python, snapped to integer nano-units
    and embedded as literals in BOTH engines (zero cross-engine float
    surface). The exact ranking is `exact_knn`, the approx one
    `ann_lsh_bucketed`; matches are one equi-join of two ≤K·n_probes
    tables; the final score is one fixed-arity division."""
    cs, ideal = _rbo_coeffs()
    emb = _emb(spark, sf_dir)
    probes = probes_of(emb)
    exact = exact_knn(emb, TOP_K).select("probe_id", "vec_id", F.col("rn").alias("ra"))
    approx = ann_lsh_bucketed(spark, sf_dir).select(
        "probe_id", "vec_id", F.col("rn").alias("rb")
    )
    coeff = F.array(*[F.lit(c).cast("bigint") for c in cs])
    per = (
        exact.join(approx, ["probe_id", "vec_id"])
        .withColumn("m", F.greatest("ra", "rb"))
        .withColumn("c", F.element_at(coeff, F.col("m")))
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"), F.sum("c").alias("sc"))
    )
    return (
        probes.select("probe_id")
        .join(per, "probe_id", "left")
        .selectExpr(
            "probe_id",
            "cast(coalesce(n_overlap, 0) as bigint) AS n_overlap",
            f"cast(round(cast(coalesce(sc, 0) as double) / {ideal} * 1e6)"
            " as bigint) / 1e6 AS rbo_6",
        )
        .orderBy("probe_id")
    )


def _rbo_sql() -> str:
    cs, ideal = _rbo_coeffs()
    coeff_rows = ", ".join(f"({m + 1}, {c})" for m, c in enumerate(cs))
    return f"""
WITH emb AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
             FROM embeddings),
probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, bucket AS p_bucket
           FROM emb WHERE vec_id < {N_PROBES}),
ex_scored AS (
  SELECT p.probe_id, e.vec_id,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p ON e.vec_id <> p.probe_id
),
ex AS (
  SELECT probe_id, vec_id, ra FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY dist2, vec_id) AS ra
    FROM ex_scored) t WHERE ra <= {TOP_K}
),
ap_scored AS (
  SELECT p.probe_id, e.vec_id,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM emb e JOIN probes p
    ON e.bucket = p.p_bucket AND e.vec_id <> p.probe_id
),
ap AS (
  SELECT probe_id, vec_id, rb FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY dist2, vec_id) AS rb
    FROM ap_scored) t WHERE rb <= {TOP_K}
),
coeff(m, c) AS (VALUES {coeff_rows}),
per AS (
  SELECT ex.probe_id, count(*) AS n_overlap, sum(c.c) AS sc
  FROM ex JOIN ap ON ap.probe_id = ex.probe_id AND ap.vec_id = ex.vec_id
  JOIN coeff c ON c.m = greatest(ex.ra, ap.rb)
  GROUP BY ex.probe_id
)
SELECT p.probe_id,
       CAST(coalesce(per.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(round(CAST(coalesce(per.sc, 0) AS DOUBLE) / {ideal} * 1e6)
            AS BIGINT) / 1e6 AS rbo_6
FROM probes p LEFT JOIN per ON per.probe_id = p.probe_id
ORDER BY p.probe_id
"""


def retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard for the exact search surface:
    MRR, DCG/nDCG@{TOP_K} and recall@{TOP_K} per probe, with label
    match as the relevance judgment (the standard eval loop a search
    team runs before/after an index or embedder change; completes the
    recall-only evals `ann_recall_report`/`matryoshka_recall_report`
    with the rank-sensitive metrics). Reference anchor: the top-k
    search this grades is `/root/reference/app.py:48-61`.

    Exact shape: ranking is the knn_exact convention (4dp-rounded L2,
    vec_id tiebreak); the log2 discount is a transcendental of an
    INTEGER rank, snapped to integer micro-units per term BEFORE the
    per-probe sums (FIXTURES rule 5), and ideal DCG comes from the
    same snapped term over an exploded 1..min(K, n_rel) sequence, so
    every metric is a fixed-arity double over exact integers. Scale:
    probes broadcast; the per-probe window is cut map-side
    (WindowGroupLimit) below its exchange, so only survivors cross it;
    the label table is a partial+final count.

    Output: (probe_id, n_rel, hits_at_k, mrr_micro, dcg_micro,
    idcg_micro, ndcg_6, recall_6) ordered by probe_id."""
    emb = _emb(spark, sf_dir)
    probes = probes_of(emb, F.col("label").alias("probe_label"))
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "dist2", F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4)
        )
        .select("probe_id", "probe_label", "vec_id", "label", "dist2")
    )
    ranked = (
        topk_per_probe(scored, TOP_K, "dist2")
        .withColumnRenamed("rn", "rank")
        .withColumn(
            "rel", F.when(F.col("label") == F.col("probe_label"), 1).otherwise(0)
        )
    )
    per = ranked.groupBy("probe_id", "probe_label").agg(
        F.sum("rel").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("frr"),
        F.sum(
            F.expr(
                "CASE WHEN rel = 1 THEN"
                " cast(round(1e6 / log2(rank + 1)) as bigint)"
                " ELSE 0 END"
            )
        ).alias("dcg_micro"),
    )
    lab = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    per = per.join(F.broadcast(lab), per["probe_label"] == lab["label"]).select(
        "probe_id",
        "hits",
        "frr",
        "dcg_micro",
        (F.col("n_lab") - 1).alias("n_rel"),
    )
    idcg = (
        per.select(
            "probe_id",
            F.explode(
                F.when(
                    F.col("n_rel") >= 1,
                    F.sequence(
                        F.lit(1), F.least(F.lit(TOP_K), F.col("n_rel").cast("int"))
                    ),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        .groupBy("probe_id")
        .agg(
            F.sum(
                F.expr("cast(round(1e6 / log2(i + 1)) as bigint)")
            ).alias("idcg_micro")
        )
    )
    return (
        per.join(idcg, "probe_id", "left")
        .selectExpr(
            "probe_id",
            "cast(n_rel as bigint) AS n_rel",
            "cast(hits as bigint) AS hits_at_k",
            "coalesce(cast(round(1e6 / frr) as bigint), 0) AS mrr_micro",
            "cast(dcg_micro as bigint) AS dcg_micro",
            "coalesce(cast(idcg_micro as bigint), 0) AS idcg_micro",
            "cast(round(CASE WHEN coalesce(idcg_micro, 0) > 0"
            " THEN cast(dcg_micro as double) / idcg_micro ELSE 0 END * 1e6)"
            " as bigint) / 1e6 AS ndcg_6",
            f"cast(round(CASE WHEN n_rel > 0"
            f" THEN cast(hits as double) / least({TOP_K}, n_rel) ELSE 0 END"
            " * 1e6) as bigint) / 1e6 AS recall_6",
        )
        .orderBy("probe_id")
    )


RETRIEVAL_EVAL_SQL = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS probe_vec, label AS probe_label
  FROM embeddings WHERE vec_id < {N_PROBES}
),
scored AS (
  SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
         round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) AS dist2
  FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY dist2, vec_id) AS rank
  FROM scored
),
topk AS (
  SELECT *, CASE WHEN label = probe_label THEN 1 ELSE 0 END AS rel
  FROM ranked WHERE rank <= {TOP_K}
),
per0 AS (
  SELECT probe_id, probe_label,
         sum(rel) AS hits,
         min(CASE WHEN rel = 1 THEN rank END) AS frr,
         sum(CASE WHEN rel = 1 THEN
               CAST(round(1e6 / log2(rank + 1)) AS BIGINT) ELSE 0 END)
           AS dcg_micro
  FROM topk GROUP BY probe_id, probe_label
),
lab AS (SELECT label, count(*) AS n_lab FROM embeddings GROUP BY label),
per AS (
  SELECT probe_id, hits, frr, dcg_micro, l.n_lab - 1 AS n_rel
  FROM per0 JOIN lab l ON l.label = per0.probe_label
),
idcg AS (
  SELECT probe_id,
         sum(CAST(round(1e6 / log2(i + 1)) AS BIGINT)) AS idcg_micro
  FROM (
    SELECT probe_id, unnest(range(1, least({TOP_K}, n_rel) + 1)) AS i
    FROM per WHERE n_rel >= 1
  ) GROUP BY probe_id
)
SELECT per.probe_id,
       CAST(n_rel AS BIGINT) AS n_rel,
       CAST(hits AS BIGINT) AS hits_at_k,
       coalesce(CAST(round(1e6 / frr) AS BIGINT), 0) AS mrr_micro,
       CAST(dcg_micro AS BIGINT) AS dcg_micro,
       coalesce(CAST(i.idcg_micro AS BIGINT), 0) AS idcg_micro,
       CAST(round(CASE WHEN coalesce(i.idcg_micro, 0) > 0
            THEN CAST(dcg_micro AS DOUBLE) / i.idcg_micro ELSE 0 END * 1e6)
            AS BIGINT) / 1e6 AS ndcg_6,
       CAST(round(CASE WHEN n_rel > 0
            THEN CAST(hits AS DOUBLE) / least({TOP_K}, n_rel) ELSE 0 END
            * 1e6) AS BIGINT) / 1e6 AS recall_6
FROM per LEFT JOIN idcg i ON i.probe_id = per.probe_id
ORDER BY per.probe_id
"""


QUERIES = {
    "knn_exact": knn_exact,
    "knn_multi_probe": knn_multi_probe,
    "cosine_topk": cosine_topk,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_recall_report": ann_recall_report,
    "embedding_near_dup": embedding_near_dup,
    "vector_index_build": vector_index_build_query,
    "doc_embeddings_pooled": doc_embeddings_pooled,
    "semantic_search": semantic_search_query,
    "triplet_mining": triplet_mining,
    "hybrid_search_rrf": hybrid_search_rrf,
    "filtered_ann_search": filtered_ann_search,
    "semantic_search_reranked": semantic_search_reranked,
    "bitext_mining_pairs": bitext_mining_pairs,
    "retrieval_eval_report": retrieval_eval_report,
    "rbo_ann_vs_exact": rbo_ann_vs_exact,
}

ORACLES = {
    "knn_exact": KNN_EXACT_SQL,
    "knn_multi_probe": KNN_MULTI_SQL,
    "cosine_topk": COSINE_TOPK_SQL,
    "ann_lsh_bucketed": ANN_LSH_SQL,
    "ann_lsh_multiprobe": ANN_MULTIPROBE_SQL,
    "ann_recall_report": ANN_RECALL_SQL,
    "embedding_near_dup": EMBEDDING_NEAR_DUP_SQL,
    "vector_index_build": VECTOR_INDEX_SQL,
    "doc_embeddings_pooled": DOC_POOLED_SQL,
    "semantic_search": _semantic_search_sql(),
    "triplet_mining": TRIPLET_SQL,
    "hybrid_search_rrf": _hybrid_search_sql(),
    "filtered_ann_search": FILTERED_ANN_SQL,
    "semantic_search_reranked": _semantic_search_reranked_sql(),
    "bitext_mining_pairs": BITEXT_SQL,
    "retrieval_eval_report": RETRIEVAL_EVAL_SQL,
    "rbo_ann_vs_exact": _rbo_sql(),
}
