"""IVF-style ANN: k-means-bucketed partition pruning over the
embedding table (SURVEY.md §4 "index structure", option (c)).

The reference delegates ANN to hnswlib via Chroma
(`/root/reference/app.py:50`); HNSW is a pointer-chasing in-memory
graph — the wrong shape for a distributed engine. The Spark-native
equivalent is IVF: cluster the corpus, store each vector with its
cluster id (ideally parquet partitioned/bucketed by it), search only
the probe's nearest `n_probe` clusters.

Scale design:
- training is mini-batch-free Lloyd iterations as plain DataFrame
  aggregations: assignment = broadcast(centroids) ⋈ vectors (narrow,
  no shuffle of the big table), update = groupBy(cluster) mean
  (partial+final agg). K centroids ≪ memory.
- the search never scans the full table: cluster ids prune to
  n_probe/K of the data (with parquet partitioning this is partition
  pruning, not a filter).
- everything is deterministic: seeds are the first K vectors by id,
  ties in assignment break toward the lower cluster id.

Rows-only correctness (iterative float algorithm; no SQL oracle) —
tests/test_ivf.py checks determinism, assignment optimality, and
recall vs exact kNN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.vector import l2_squared
from spec_search_spark.operators.similarity import (
    N_PROBES,
    TOP_K,
    exact_knn,
    probes_of,
    topk_per_probe,
)
from spec_search_spark.session import local_df, pin, session_memo, spread, tune

K_CLUSTERS = 8
N_ITER = 2
N_PROBE_CLUSTERS = 2

def _assign_udf(centroids: list[list[float]]):
    """pandas_udf: vector → (nearest centroid id, distance²). Ordered
    fold per dim for cross-run determinism; ties → lower cluster id."""
    cents = np.array(centroids, dtype=np.float64)  # (K × D)

    @F.pandas_udf(T.StructType([
        T.StructField("cluster", T.IntegerType()),
        T.StructField("dist2", T.DoubleType()),
    ]))
    def assign(vecs: pd.Series) -> pd.DataFrame:
        n = len(vecs)
        out_c = np.zeros(n, dtype=np.int32)
        out_d = np.zeros(n, dtype=np.float64)
        if n:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])  # (N × D)
            # (N × K) squared distances; argmin breaks ties at lowest id
            d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out_c = d2.argmin(axis=1).astype(np.int32)
            out_d = d2[np.arange(n), out_c]
        return pd.DataFrame({"cluster": out_c, "dist2": out_d})

    return assign


MAX_TRAIN_SAMPLE = 100_000  # vectors collected for centroid training


def train_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Lloyd iterations on a bounded, deterministic sample collected to
    the driver (lowest vec_ids up to MAX_TRAIN_SAMPLE).

    Scale rationale: IVF practice (FAISS et al.) trains coarse
    centroids on an O(100k) sample, never the full corpus — K centroid
    estimates converge on a sample; only the ASSIGNMENT pass must see
    every vector, and that stays distributed (_assign_udf over the full
    table in ivf_index). The previous full-corpus Lloyd-as-DataFrame
    rounds spent 2 shuffles + 2 python-worker fan-outs per iteration to
    compute means a single numpy call gets from the sample; at 100 TB
    the sample collect is the only part that would NOT melt the driver.
    Deterministic: sample = lowest ids, seeds = first K, means in
    vec_id order, ties break toward the lower cluster id.
    """
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < MAX_TRAIN_SAMPLE)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cents = mat[:K_CLUSTERS].copy()  # seeds: first K vectors by id
    for _ in range(N_ITER):
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties → lower cluster id
        for k in range(K_CLUSTERS):
            members = mat[assign == k]
            if len(members):
                cents[k] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def ivf_index(
    spark: SparkSession, sf_dir: str, centroids: list[list[float]] | None = None
) -> DataFrame:
    """(vec_id, label, embedding, cluster) — the IVF-bucketed table a
    deployment would write parquet-partitioned by `cluster`."""
    if centroids is None:
        return trained_index(spark, sf_dir)[1]
    emb = load_table(spark, sf_dir, "embeddings")
    assign = _assign_udf(centroids)
    return emb.select(
        "vec_id", "label", "embedding", assign(F.col("embedding")).alias("a")
    ).select("vec_id", "label", "embedding", F.col("a.cluster").alias("cluster"))


# Deployment semantics: an IVF index is trained once and persisted, not
# re-trained per query — repeated searches in one session hit the
# trained index, exactly like readers of the partitionBy("cluster")
# parquet layout would. Also sidesteps the per-call pandas_udf objects
# that defeat Spark's canonicalized-plan cache reuse.
@session_memo
def trained_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], DataFrame]:
    """Train-once accessor: (centroids, cached assigned-index DF)."""
    centroids = train_centroids(spark, sf_dir)
    # pinned now: both probe-join sides reuse it
    return centroids, pin(ivf_index(spark, sf_dir, centroids))[0]


@session_memo
def _probe_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, probe_vec, cluster) — one row per (probe, probed
    cluster): each probe's N_PROBE_CLUSTERS nearest trained centroids.
    The probe set is tiny and bounded (the documented FAISS-style
    driver-side collect); memoized alongside the trained index so
    search and check don't re-collect it."""
    cents = np.array(trained_index(spark, sf_dir)[0], dtype=np.float64)
    probes = [
        (int(r["probe_id"]), list(r["probe_vec"]))
        for r in probes_of(load_table(spark, sf_dir, "embeddings")).collect()
    ]
    probe_rows = []
    for pid, vec in probes:
        d2 = (((np.asarray(vec, dtype=np.float64))[None, :] - cents) ** 2).sum(axis=1)
        nearest = np.argsort(d2, kind="stable")[:N_PROBE_CLUSTERS]
        for c in nearest:
            probe_rows.append((pid, [float(x) for x in vec], int(c)))
    return local_df(
        spark, probe_rows, "probe_id int, probe_vec array<double>, cluster int"
    )


def ivf_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 per probe, scanning only the probe's nearest 2 clusters
    (cluster-pruned exact re-rank)."""
    _, index = trained_index(spark, sf_dir)
    probe_df = _probe_assignments(spark, sf_dir)
    cand = index.join(
        F.broadcast(probe_df),
        (index.cluster == probe_df.cluster) & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        "vec_id",
        index.cluster.alias("cluster"),
        F.round(l2_squared(F.col("embedding"), F.col("probe_vec")), 4).alias("dist2"),
    )
    return topk_per_probe(cand, TOP_K, "dist2").select(
        "probe_id", "vec_id", "cluster", "dist2", "rn"
    )


def ivf_index_build_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness-facing, self-verifying V1-index entry: one row per
    vector with assignment invariants CROSS-VALIDATED by an independent
    path — the pandas_udf argmin assignment is re-checked against the
    expression-fold (zip_with+aggregate) distance to every centroid.

    `in_range`: cluster ∈ [0, K). `optimal`: d²(vec, assigned) ≤
    min_k d²(vec, centroid_k) + 1e-9 (ulp slack: numpy sums pairwise,
    the expression folds left-to-right). The trivially-expressible
    oracle pins per-vector coverage (every vec_id exactly once) and
    both flags. Raw (vec_id, embedding, cluster) stays available via
    :func:`ivf_index` — the driver's canonicalizer cannot hash raw
    array cells, so the registered query exposes no array column.
    """
    centroids, index = trained_index(spark, sf_dir)
    cent_df = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cvec array<double>",
    )
    dists = index.crossJoin(F.broadcast(cent_df)).withColumn(
        "cd2", l2_squared(F.col("embedding"), F.col("cvec"))
    )
    best = dists.groupBy("vec_id", "label", "cluster").agg(
        F.min("cd2").alias("min_d2"),
        F.min(F.when(F.col("cid") == F.col("cluster"), F.col("cd2"))).alias("own_d2"),
    )
    return best.select(
        "vec_id",
        "label",
        ((F.col("cluster") >= 0) & (F.col("cluster") < K_CLUSTERS)).alias("in_range"),
        (F.col("own_d2") <= F.col("min_d2") + F.lit(1e-9)).alias("optimal"),
    )


IVF_INDEX_SQL = """
SELECT vec_id, label, true AS in_range, true AS optimal
FROM embeddings
"""


@session_memo
def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, rn, ex_d2): the exact rank-rn distance per probe over
    the full table — N_PROBES × TOP_K rows, cached (both check runs
    reuse it)."""
    return pin(
        exact_knn(load_table(spark, sf_dir, "embeddings"), TOP_K).select(
            "probe_id", "rn", F.col("dist").alias("ex_d2")
        )
    )[0]


def ivf_ann_search_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying IVF search over a FIXED (probe × rank) grid: per
    (probe, rank 1..TOP_K) the result list is distance-monotone,
    bounded below by the EXACT rank-rn distance over the full table
    (candidates ⊆ corpus ⇒ the pruned search can never beat exact kNN
    at the same rank; independent expression-only path), and PRESENT
    exactly when the probed clusters hold ≥ rn candidates — so the
    output is always N_PROBES × TOP_K rows and the constant oracle
    stays valid on tiny/skewed corpora where a probe's clusters hold
    fewer than TOP_K non-probe vectors (rows there flip present_ok
    rather than vanishing and breaking the row-count compare).
    """
    _, index = trained_index(spark, sf_dir)
    res = ivf_ann_search(spark, sf_dir)
    probe_df = _probe_assignments(spark, sf_dir)
    n_cand = (
        index.join(
            F.broadcast(probe_df.select("probe_id", "cluster")),
            (index.cluster == probe_df.cluster) & (F.col("vec_id") != F.col("probe_id")),
        )
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    grid = (
        probe_df.select("probe_id")
        .distinct()
        .crossJoin(
            spark.range(1, TOP_K + 1).select(F.col("id").cast("int").alias("rn"))
        )
    )
    exact = _exact_topk(spark, sf_dir)
    wm = W.partitionBy("probe_id").orderBy("rn")
    mono = res.withColumn("prev_d2", F.lag("dist2").over(wm)).select(
        "probe_id",
        "rn",
        "dist2",
        (F.col("prev_d2").isNull() | (F.col("dist2") >= F.col("prev_d2"))).alias("mono"),
    )
    return (
        grid.join(F.broadcast(n_cand), "probe_id", "left")
        .join(mono, ["probe_id", "rn"], "left")
        .join(exact, ["probe_id", "rn"], "left")
        .select(
            "probe_id",
            "rn",
            (
                F.col("dist2").isNotNull()
                == (F.col("rn") <= F.least(F.lit(TOP_K), F.coalesce("n_cand", F.lit(0))))
            ).alias("present_ok"),
            F.coalesce("mono", F.lit(True)).alias("monotone_ok"),
            F.when(
                F.col("dist2").isNull() | F.col("ex_d2").isNull(), F.lit(True)
            ).otherwise(F.col("dist2") >= F.col("ex_d2") - F.lit(1e-6)).alias("bound_ok"),
        )
    )


IVF_SEARCH_SQL = f"""
SELECT CAST(p AS INT) AS probe_id, CAST(rn AS INT) AS rn,
       true AS present_ok, true AS monotone_ok, true AS bound_ok
FROM range({N_PROBES}) t(p), range(1, {TOP_K + 1}) r(rn)
"""


DELTA_MOD = 10  # synthetic nightly batch: clones of vec_id % 10 == 3
DELTA_RESIDUE = 3


def ivf_delta_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: upsert a delta batch of vectors
    into the DEPLOYED IVF index without retraining — the nightly-ingest
    path whose cost is proportional to the delta, never the corpus
    (the vector-side analog of `dedup.incremental_minhash_delta`; FAISS
    `add()` semantics: coarse centroids are a trained artifact, new
    vectors route through the frozen quantizer).

    The delta is derived deterministically (clones of vec_id %
    DELTA_MOD == DELTA_RESIDUE under negative ids, the corpus_diff
    disjoint-id convention) and assigned by the SAME memoized centroids
    as the base index — the assignment pandas_udf runs over the DELTA
    ONLY. Self-verifying output over the fixed cluster grid (the
    ivf_index_build oracle style, since cluster populations of an
    iterative float training are not SQL-expressible):

    * `clone_follows_base` — an identical vector must land in the same
      cluster as its base twin (the frozen quantizer is a pure
      function), so per-cluster delta counts equal the base counts of
      the cloned residue class;
    * `all_optimal` — every upserted row's assigned-centroid distance
      is minimal over all centroids (independent expression-fold path,
      same ulp slack as ivf_index_build).
    """
    centroids, index = trained_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    is_delta = F.pmod(F.col("vec_id"), F.lit(DELTA_MOD)) == DELTA_RESIDUE
    delta = emb.filter(is_delta).select(
        (-F.col("vec_id") - 1).alias("vec_id"), "label", "embedding"
    )
    assign = _assign_udf(centroids)
    delta_idx = delta.select(
        "vec_id", "label", "embedding", assign(F.col("embedding")).alias("a")
    ).select("vec_id", "label", "embedding", F.col("a.cluster").alias("cluster"))

    base_counts = (
        index.filter(is_delta).groupBy("cluster").agg(F.count(F.lit(1)).alias("n_base"))
    )
    delta_counts = delta_idx.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_delta"))

    cent_df = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cvec array<double>",
    )
    opt = (
        delta_idx.crossJoin(F.broadcast(cent_df))
        .withColumn("cd2", l2_squared(F.col("embedding"), F.col("cvec")))
        .groupBy("vec_id", "cluster")
        .agg(
            F.min("cd2").alias("min_d2"),
            F.min(F.when(F.col("cid") == F.col("cluster"), F.col("cd2"))).alias(
                "own_d2"
            ),
        )
        .groupBy("cluster")
        .agg(
            F.min(F.col("own_d2") <= F.col("min_d2") + F.lit(1e-9)).alias("opt")
        )
    )
    grid = spark.range(K_CLUSTERS).select(F.col("id").cast("int").alias("cluster"))
    return (
        grid.join(base_counts, "cluster", "left")
        .join(delta_counts, "cluster", "left")
        .join(opt, "cluster", "left")
        .select(
            "cluster",
            (
                F.coalesce("n_delta", F.lit(0)) == F.coalesce("n_base", F.lit(0))
            ).alias("clone_follows_base"),
            F.coalesce("opt", F.lit(True)).alias("all_optimal"),
        )
    )


IVF_DELTA_SQL = f"""
SELECT CAST(c AS INT) AS cluster, true AS clone_follows_base, true AS all_optimal
FROM range({K_CLUSTERS}) t(c)
"""


# --- nprobe sweep: the recall-vs-cost tuning curve ---------------------------

SWEEP_NPROBES = (1, 2, 4)  # probed-cluster counts to sweep

@session_memo
def _ranked_probe_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, probe_vec, cluster, rank) — each probe's
    max(SWEEP_NPROBES) nearest trained centroids WITH their nearness
    rank, so one table serves every sweep point (rank < p). Same
    bounded driver-side collect as `_probe_assignments`; memoized."""
    cents = np.array(trained_index(spark, sf_dir)[0], dtype=np.float64)
    probes = [
        (int(r["probe_id"]), list(r["probe_vec"]))
        for r in probes_of(load_table(spark, sf_dir, "embeddings")).collect()
    ]
    rows = []
    for pid, vec in probes:
        d2 = (((np.asarray(vec, dtype=np.float64))[None, :] - cents) ** 2).sum(axis=1)
        nearest = np.argsort(d2, kind="stable")[: max(SWEEP_NPROBES)]
        for rank, c in enumerate(nearest):
            rows.append((pid, [float(x) for x in vec], int(c), rank))
    return local_df(
        spark, rows, "probe_id int, probe_vec array<double>, cluster int, rank int"
    )


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@{k} at nprobe ∈ {SWEEP_NPROBES} —
    the measurement that picks the recall-vs-scan-cost operating point
    before deployment (nprobe is THE knob FAISS exposes; matryoshka's
    report sweeps dimensions, this sweeps probed clusters).

    Self-verifying output on the fixed (nprobe × probe) grid, same
    contract style as `ivf_ann_search_check` (the numpy-trained
    centroids are not SQL-reproducible, so the oracle pins invariants
    an incorrect sweep would break rather than re-deriving clusters):
    - hits_bounded: |exact ∩ approx@p| ≤ k;
    - monotone_ok: hit count never DROPS as nprobe grows;
    - nested_ok: every exact hit at nprobe p stays a hit at p' > p —
      true because a global top-k member admitted to a candidate set
      can only be outranked by closer vectors, which are themselves
      global top-k members.
    Real recall values are pinned against a numpy brute force in
    tests/test_ivf.py; the per-probe candidate-set economics (rank<p
    join, `topk_per_probe`) reuse the production search plan."""
    _, index = trained_index(spark, sf_dir)
    probes = _ranked_probe_assignments(spark, sf_dir)
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    exact = exact_knn(emb, TOP_K).select("probe_id", "vec_id")

    # Score candidates ONCE at the LARGEST sweep point, keeping each
    # candidate's cluster rank; arm p's candidate set is exactly the
    # rank < p subset (probe-cluster assignments are rank-nested), so
    # every arm filters the one pinned scored table instead of re-
    # scanning the index and re-folding distances per nprobe — same
    # rows, same d2, identical per-arm top-k.
    p_max = max(SWEEP_NPROBES)
    pr = probes.filter(F.col("rank") < p_max).select(
        "probe_id", "probe_vec", "cluster", "rank"
    )
    scored = index.join(
        F.broadcast(pr),
        (index.cluster == pr.cluster) & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        "vec_id",
        "rank",
        F.round(
            l2_squared(F.col("embedding"), F.col("probe_vec")), 4
        ).alias("d2"),
    ).localCheckpoint(eager=True)

    per_p = []
    for p in SWEEP_NPROBES:
        topk = topk_per_probe(scored.filter(F.col("rank") < p), TOP_K, "d2")
        per_p.append(topk.select(F.lit(p).alias("nprobe"), "probe_id", "vec_id"))
    approx = per_p[0]
    for df in per_p[1:]:
        approx = approx.unionByName(df)
    # hits feeds the per-probe counts AND both sides of the nestedness
    # anti-join — pin the tiny (nprobe × probe × ≤k) table
    hits = approx.join(exact, ["probe_id", "vec_id"]).select(
        "nprobe", "probe_id", "vec_id"
    ).localCheckpoint(eager=True)
    counts = hits.groupBy("nprobe", "probe_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    grid = (
        probes.select("probe_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                local_df(
                    spark, [(p,) for p in SWEEP_NPROBES], "nprobe int"
                )
            )
        )
    )
    counted = grid.join(counts, ["nprobe", "probe_id"], "left").select(
        "nprobe",
        "probe_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
    )
    wp = W.partitionBy("probe_id").orderBy("nprobe")
    mono = counted.withColumn("prev_hits", F.lag("n_hits").over(wp))
    # nested: a hit at the PREVIOUS sweep point missing at this one
    prev_map = {p: q for q, p in zip(SWEEP_NPROBES, SWEEP_NPROBES[1:])}
    pairs = local_df(
        spark, [(p, q) for p, q in prev_map.items()], "nprobe int, prev_nprobe int"
    )
    missing = (
        hits.withColumnRenamed("nprobe", "prev_nprobe")
        .join(F.broadcast(pairs), "prev_nprobe")
        .join(
            hits.select(
                F.col("nprobe").alias("np2"),
                F.col("probe_id").alias("pid2"),
                F.col("vec_id").alias("vid2"),
            ),
            (F.col("nprobe") == F.col("np2"))
            & (F.col("probe_id") == F.col("pid2"))
            & (F.col("vec_id") == F.col("vid2")),
            "left_anti",
        )
        .groupBy("nprobe", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_missing"))
    )
    return (
        mono.join(missing, ["nprobe", "probe_id"], "left")
        .select(
            "nprobe",
            "probe_id",
            (F.col("n_hits") <= TOP_K).alias("hits_bounded"),
            (
                F.col("prev_hits").isNull()
                | (F.col("n_hits") >= F.col("prev_hits"))
            ).alias("monotone_ok"),
            (F.coalesce("n_missing", F.lit(0)) == 0).alias("nested_ok"),
        )
    )


IVF_SWEEP_SQL = f"""
SELECT CAST(np AS INT) AS nprobe, CAST(p AS INT) AS probe_id,
       true AS hits_bounded, true AS monotone_ok, true AS nested_ok
FROM (VALUES {", ".join(f"({p})" for p in SWEEP_NPROBES)}) s(np),
     range({N_PROBES}) t(p)
"""


QUERIES = {
    "ivf_index_build": ivf_index_build_query,
    "ivf_nprobe_sweep": ivf_nprobe_sweep,
    "ivf_ann_search": ivf_ann_search_check,
    "ivf_delta_upsert": ivf_delta_upsert_query,
}

ORACLES = {
    "ivf_index_build": IVF_INDEX_SQL,
    "ivf_nprobe_sweep": IVF_SWEEP_SQL,
    "ivf_ann_search": IVF_SEARCH_SQL,
    "ivf_delta_upsert": IVF_DELTA_SQL,
}
