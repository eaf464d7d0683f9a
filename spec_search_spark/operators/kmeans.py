"""Distributed Lloyd's k-means over the embedding corpus — fully
DataFrame-native (no driver-side training collect), plus the
SemDeDup-style semantic dedup built on its clusters (Abbas et al. 2023:
cluster embeddings, then drop near-duplicates within each cluster).

The reference trains nothing; its vector store (Chroma,
`/root/reference/search.py:24`) is a black box. These operators are the
scale path the repo's own IVF trainer (`operators/ivf.py:104`) documents
but bounds with a 100k sample collect: here EVERY iteration step is a
Spark plan —

- **assignment**: embeddings × centroids via broadcast nested-loop
  (centroids are k×dim ≈ KB — always broadcastable), squared-L2 by the
  shared zip_with+aggregate fold, winner by `row_number` over
  (round(dist²,6), cid) so ties break identically in both engines;
- **update**: posexplode dims → per-(cluster, dim) partial+final AVG
  (map-side combine; shuffle ∝ k×dim, not corpus) → sort_array
  re-assembly. New centroids are **rounded to 6dp** — THE determinism
  contract: distributed float summation is order-sensitive, but both
  engines round the per-dim means, so iteration i+1 starts from
  bit-identical centroids and cross-engine assignment drift cannot
  compound;
- **init**: the k lowest vec_ids (deterministic; k-means|| would be the
  production choice but is RNG-dependent and oracle-hostile);
- empty clusters keep their previous centroid (left-join coalesce).

Centroids are localCheckpoint'd each iteration (8 rows): broadcasting a
deep-lineage DF re-runs its whole plan per reference; checkpointing
truncates it exactly like the graph-pack edge memo (graph.py).

At 100 TB: identical plan shape — assignment is map-side (broadcast),
update shuffles k×dim rounded doubles; iterations add linear cost.
The DuckDB oracle is the SAME algorithm with the loop unrolled into
CTEs (d_i → a_i → m_i → u_i → c_i per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, session_memo, spread
from spec_search_spark.functions.vector import (
    dot,
    dot_sql,
    l2_squared,
    l2_squared_sql,
    norm,
)

K_CLUSTERS = 16  # 8 → 16: at sf0.1 (5000 vecs) finer clusters halve the
                 # SemDeDup pair count; still broadcast-trivial
N_ITERS = 3
SEMDEDUP_TAU = 0.93  # within-cluster cosine above this = semantic duplicate


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )


def _init_centroids(emb: DataFrame) -> DataFrame:
    w = Window.orderBy("vec_id")
    return (
        emb.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .select((F.row_number().over(w) - 1).alias("cid"), F.col("e").alias("c"))
    )


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, e, dist2): nearest centroid per vector. Broadcast
    nested-loop over k rows — map-side, no shuffle of the corpus."""
    d = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        "e",
        F.round(l2_squared(F.col("e"), F.col("c")), 6).alias("dist2"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    return (
        d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


def _update(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """New centroids: per-dim mean of members, rounded to 6dp (the
    cross-engine determinism contract); empty clusters keep the old."""
    means = (
        assigned.select("cid", F.posexplode("e").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("val"), 6).alias("val"))
    )
    new = means.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
        ).alias("c_new")
    )
    return (
        prev.join(new, "cid", "left")
        .select("cid", F.coalesce("c_new", "c").alias("c"))
    )


@session_memo
def _trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED centroids, memoized per (session, corpus) like the
    V2 search index (similarity.py): the iterative training loop runs
    once and is consumed by kmeans_assign / kmeans_cluster_sizes /
    semantic_dedup alike. Only the model is memoized — the final
    assignment stays a live one-pass plan, so every consumer keeps the
    broadcast-join shape the plan audit pins."""
    emb = _emb(spark, sf_dir)
    cent = _init_centroids(emb).localCheckpoint(eager=True)
    for _ in range(N_ITERS):
        assigned = _assign(emb, cent)
        cent = _update(assigned, cent).localCheckpoint(eager=True)
    return cent


def _final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the vector table before the K-way distance projection:
    # the broadcast-centroid assignment is pure per-row compute, and
    # the local single-row-group scan would run all of it on ONE core
    # (guarded no-op at scale — see session.spread).
    return _assign(
        spread(_emb(spark, sf_dir), "vec_id"),
        _trained_centroids(spark, sf_dir),
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster assignment after N_ITERS Lloyd iterations.
    Output: (vec_id, cluster, dist2)."""
    return _final_assignment(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("cluster"), "dist2"
    )


def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster population and inertia (Σ dist²). dist2 is on the
    1e-6 grid, so the sum is carried as EXACT integer micro-units —
    a double sum of the rounded values is order-sensitive at ~1e-13,
    which flipped the final 4dp round at a .00005 boundary on the
    sf0.001 corpus; the integer sum is order-independent at any
    parallelism. The 4dp output snaps IN INTEGER SPACE
    (round(micro/100) is round-to-integer — half-away-from-zero in
    both engines per FIXTURES rule 1) — a round(x, 4) on the scaled
    double diverges between engines exactly when the micro-sum ends
    in 50 (the .00005 boundary)."""
    return (
        _final_assignment(spark, sf_dir)
        .groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "cast(round(cast(sum(cast(round(dist2 * 1e6) as bigint)) as double)"
                " / 100.0) as bigint) / 1e4"
            ).alias("inertia"),
        )
    )


SIL_SCALE = 1_000_000_000  # per-point silhouette snapped to nano-units


def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified (centroid) silhouette — the clustering
    quality score that tells a SemDeDup pipeline whether its clusters
    are real structure or noise: s = 1 − √(a²/b²) with a = distance to
    the OWN centroid, b = distance to the SECOND-nearest (so s ∈ [0,1];
    s ≈ 0 = boundary point, s ≈ 1 = deep inside its cluster).

    Exactness: a², b² are the rank-1/rank-2 rows of the same 6dp-grid
    distance table the assignment uses; each point's s snaps to
    nano-units before the per-cluster integer mean. Plan: ONE broadcast
    nested-loop over the k-row centroid table + one vec_id window —
    the corpus never shuffles on anything wider than its own id."""
    from spec_search_spark.session import tune as _tune

    _tune(spark)
    emb = _emb(spark, sf_dir)
    cent = _trained_centroids(spark, sf_dir)
    d = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.round(l2_squared(F.col("e"), F.col("c")), 6).alias("dist2"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    ranked = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    a = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cid", F.col("dist2").alias("a2")
    )
    b = ranked.filter(F.col("rn") == 2).select(
        "vec_id", F.col("dist2").alias("b2")
    )
    s = a.join(b, "vec_id").select(
        "cid",
        F.expr(
            "cast(round((case when b2 = 0 then 0.0"
            f" else 1.0 - sqrt(a2 / b2) end) * {SIL_SCALE}) as bigint)"
        ).alias("s_n"),
    )
    return (
        s.groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                f"cast(round(cast(sum(s_n) as double) / {SIL_SCALE} / count(*)"
                " * 1e6) as bigint) / 1e6"
            ).alias("mean_silhouette_6"),
        )
        .orderBy("cluster")
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each k-means cluster, a vector is a semantic
    duplicate if an EARLIER (lower vec_id) cluster member has cosine
    similarity ≥ SEMDEDUP_TAU with it. Clustering bounds the pair
    search: O(Σ cluster²) ≪ O(n²), and at 100 TB the within-cluster
    pair join is an equi-join on cluster id (shuffle co-locates each
    cluster), with per-cluster caps if a cluster grows pathological.

    Cosine is computed as a dot product of PRE-NORMALIZED vectors: the
    two norms are per-VECTOR work done once before the pair join, so
    each pair costs one fold instead of three (measured 6.2s → ~2.5s
    at sf0.1). Both engines normalize with the identical fold, so the
    cross-engine bit-equality contract is unchanged.

    Output: (vec_id, cluster, keep, dup_of) — dup_of is the smallest
    earlier member above the threshold (NULL when keep)."""
    emb = _emb(spark, sf_dir)
    assigned = (
        _final_assignment(spark, sf_dir)
        .select("vec_id", F.col("cid").alias("cluster"), "e")
        .withColumn("nrm", norm(F.col("e")))
        .withColumn("ne", F.transform("e", lambda x: x / F.col("nrm")))
        .drop("e", "nrm")
        .localCheckpoint(eager=True)  # feeds both sides of a self-join
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = (
        a.join(b, on="cluster")
        .filter(F.col("b.vec_id") < F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("earlier"),
            F.round(dot(F.col("a.ne"), F.col("b.ne")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(F.min("earlier").alias("dup_of"))
    )
    return (
        assigned.drop("e")
        .join(pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the identical algorithm, loop unrolled into CTEs.
# ---------------------------------------------------------------------------

def _kmeans_ctes() -> str:
    parts = [
        "emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e"
        " FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c"
        f" FROM emb ORDER BY vec_id LIMIT {K_CLUSTERS})",
    ]
    prev = "c0"
    for i in range(1, N_ITERS + 1):
        parts.append(
            f"d{i} AS (SELECT emb.vec_id, {prev}.cid, emb.e,"
            f" round({l2_squared_sql('emb.e', f'{prev}.c')}, 6) AS dist2"
            f" FROM emb CROSS JOIN {prev})"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, cid, e FROM d{i}"
            f" QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, i AS dim, round(avg(e[i]), 6) AS val"
            f" FROM a{i}, LATERAL unnest(range(1, len(e) + 1)) AS t(i)"
            f" GROUP BY cid, i)"
        )
        parts.append(
            f"u{i} AS (SELECT cid, list(val ORDER BY dim) AS c_new FROM m{i}"
            f" GROUP BY cid)"
        )
        parts.append(
            f"c{i} AS (SELECT p.cid, coalesce(u.c_new, p.c) AS c"
            f" FROM {prev} p LEFT JOIN u{i} u ON p.cid = u.cid)"
        )
        prev = f"c{i}"
    parts.append(
        f"df AS (SELECT emb.vec_id, {prev}.cid, emb.e,"
        f" round({l2_squared_sql('emb.e', f'{prev}.c')}, 6) AS dist2"
        f" FROM emb CROSS JOIN {prev})"
    )
    parts.append(
        "af AS (SELECT vec_id, cid, e, dist2 FROM df"
        " QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1)"
    )
    return "WITH " + ",\n".join(parts)


KMEANS_ASSIGN_SQL = f"""
{_kmeans_ctes()}
SELECT vec_id, cid AS cluster, dist2 FROM af
"""

KMEANS_SIZES_SQL = f"""
{_kmeans_ctes()}
SELECT cid AS cluster, count(*) AS n,
       CAST(round(CAST(sum(CAST(round(dist2 * 1e6) AS BIGINT)) AS DOUBLE) / 100.0)
            AS BIGINT) / 1e4 AS inertia
FROM af GROUP BY cid
"""

SEMANTIC_DEDUP_SQL = f"""
{_kmeans_ctes()},
nrm AS (
  SELECT vec_id, cid,
         list_transform(e, x -> x / sqrt({dot_sql('e', 'e')})) AS ne
  FROM af
),
pairs AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM nrm a JOIN nrm b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE round({dot_sql('a.ne', 'b.ne')}, 6) >= {SEMDEDUP_TAU}
  GROUP BY a.vec_id
)
SELECT af.vec_id, af.cid AS cluster,
       (p.dup_of IS NULL) AS keep, p.dup_of
FROM af LEFT JOIN pairs p ON af.vec_id = p.vec_id
"""


KMEANS_SIL_SQL = f"""
{_kmeans_ctes()},
ranked AS (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM df
), s AS (
  SELECT a.cid,
         CAST(round((CASE WHEN b.dist2 = 0 THEN 0.0
                ELSE 1.0 - sqrt(a.dist2 / b.dist2) END) * {SIL_SCALE})
              AS BIGINT) AS s_n
  FROM (SELECT vec_id, cid, dist2 FROM ranked WHERE rn = 1) a
  JOIN (SELECT vec_id, dist2 FROM ranked WHERE rn = 2) b USING (vec_id)
)
SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n,
       CAST(round(CAST(sum(s_n) AS DOUBLE) / {SIL_SCALE} / count(*) * 1e6)
            AS BIGINT) / 1e6 AS mean_silhouette_6
FROM s GROUP BY cid ORDER BY cluster
"""

# ---------------------------------------------------------------------------
# DBSCAN on the within-cluster candidate graph
# ---------------------------------------------------------------------------

DBSCAN_EPS = 0.30  # cosine ≥ eps = neighbor (near-orthogonal synthetic
# embeddings: full-graph mean degree ≈ 4 at 0.30 — core/border/noise all
# non-empty at test scale; a real-text corpus would sit near 0.8)
DBSCAN_MIN_PTS = 3  # core point: ≥ MIN_PTS neighbors (excluding itself)
DBSCAN_ITERS = 6  # synchronous min-label rounds (fixed ⇒ unrolled oracle)


def dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over the
    WITHIN-k-means-cluster candidate graph — the density sibling of
    `semantic_dedup`: core points (≥ {DBSCAN_MIN_PTS} cosine-≥-eps
    neighbors) grow components, border points attach to a core
    neighbor, everything else is noise. The shape a curation pipeline
    uses to separate dense template families (clusters) from genuinely
    novel content (noise) without fixing K.

    Candidate policy (the defined input, same convention as the LSH
    candidate graph the `graph_*` ops use): neighbor pairs come from
    the k-means co-cluster equi-join, so the pair search is
    O(Σ cluster²) ≪ O(n²) and shuffles on cluster id; at 100 TB the
    same gate rides IVF/LSH candidates. Component labels are
    {DBSCAN_ITERS} synchronous min-label rounds over the core-core
    edge set (node-sized state, materialized per round — the
    PageRank/label-propagation lineage-cut pattern); a FIXED round
    count keeps the oracle expressible as unrolled CTEs, and the
    output is defined as the post-round-{DBSCAN_ITERS} state whether
    or not propagation has converged. Border points take the MIN final
    label among their core neighbors; ties and ordering all break on
    vec_id. Output: (vec_id, role, label)."""
    assigned = (
        _final_assignment(spark, sf_dir)
        .select("vec_id", F.col("cid").alias("cluster"), "e")
        .withColumn("nrm", norm(F.col("e")))
        .withColumn("ne", F.transform("e", lambda x: x / F.col("nrm")))
        .drop("e", "nrm")
        .localCheckpoint(eager=True)
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    edges, _ = pin(
        a.join(b, on="cluster")
        .filter(F.col("b.vec_id") != F.col("a.vec_id"))
        .filter(
            F.round(dot(F.col("a.ne"), F.col("b.ne")), 6) >= DBSCAN_EPS
        )
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
    )
    deg = edges.groupBy(F.col("src").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    core, _ = pin(
        deg.filter(F.col("deg") >= DBSCAN_MIN_PTS).select("vec_id")
    )
    core_edges, _ = pin(
        edges.join(core.select(F.col("vec_id").alias("src")), "src", "semi")
        .join(core.select(F.col("vec_id").alias("dst")), "dst", "semi")
    )
    # localCheckpoint (not persist): a persisted loop state still
    # CARRIES its whole join lineage, and Catalyst re-analysis of the
    # exponentially nesting plan dominated after ~4 rounds (0.9s →
    # 29.5s/round measured); checkpointing truncates to the blocks —
    # the weighted-SSSP/PageRank lineage-cut pattern (graph.py)
    labels = core.select(
        "vec_id", F.col("vec_id").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(DBSCAN_ITERS):
        nbr_min = (
            core_edges.join(
                labels.select(
                    F.col("vec_id").alias("dst"), F.col("label").alias("dl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("vec_id"))
            .agg(F.min("dl").alias("nbr"))
        )
        labels = labels.join(nbr_min, "vec_id", "left").select(
            "vec_id",
            F.least(
                F.col("label"), F.coalesce("nbr", F.col("label"))
            ).alias("label"),
        ).localCheckpoint(eager=True)
    border = (
        edges.join(core.select(F.col("vec_id").alias("src")), "src", "anti")
        .join(
            labels.select(F.col("vec_id").alias("dst"), "label"), "dst"
        )
        .groupBy(F.col("src").alias("vec_id"))
        .agg(F.min("label").alias("label"))
    )
    all_pts = assigned.select("vec_id")
    core_lab = labels.select(
        "vec_id", F.lit("core").alias("role"), "label"
    )
    border_lab = border.select(
        "vec_id", F.lit("border").alias("role"), "label"
    )
    classified = core_lab.unionByName(border_lab)
    return (
        all_pts.join(classified, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            "label",
        )
        .orderBy("vec_id")
    )


def _dbscan_sql() -> str:
    ctes = [
        _kmeans_ctes().lstrip().removeprefix("WITH "),
        f"""nrm AS (
  SELECT vec_id, cid,
         list_transform(e, x -> x / sqrt({dot_sql('e', 'e')})) AS ne
  FROM af
)""",
        # MATERIALIZED: the unrolled label CTEs reference core_edges
        # each round — inlined, DuckDB would recompute the full kmeans
        # walk + cosine pair join per round (the PageRank oracle lesson)
        f"""edges AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM nrm a JOIN nrm b ON a.cid = b.cid AND a.vec_id <> b.vec_id
  WHERE round({dot_sql('a.ne', 'b.ne')}, 6) >= {DBSCAN_EPS}
)""",
        f"""core AS MATERIALIZED (
  SELECT src AS vec_id FROM edges GROUP BY src
  HAVING count(*) >= {DBSCAN_MIN_PTS}
)""",
        """core_edges AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e
  JOIN core x ON x.vec_id = e.src
  JOIN core y ON y.vec_id = e.dst
)""",
        "l0 AS (SELECT vec_id, vec_id AS label FROM core)",
    ]
    for i in range(DBSCAN_ITERS):
        prev, cur = f"l{i}", f"l{i + 1}"
        ctes.append(
            f"""{cur} AS (
  SELECT p.vec_id, least(p.label, coalesce(min(d.label), p.label)) AS label
  FROM {prev} p
  LEFT JOIN core_edges e ON e.src = p.vec_id
  LEFT JOIN {prev} d ON d.vec_id = e.dst
  GROUP BY p.vec_id, p.label
)"""
        )
    final = f"l{DBSCAN_ITERS}"
    ctes.append(
        f"""border AS (
  SELECT e.src AS vec_id, min(l.label) AS label
  FROM edges e
  JOIN {final} l ON l.vec_id = e.dst
  WHERE e.src NOT IN (SELECT vec_id FROM core)
  GROUP BY e.src
)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT af.vec_id,
       CASE WHEN c.vec_id IS NOT NULL THEN 'core'
            WHEN b.vec_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(c.label, b.label) AS label
FROM af
LEFT JOIN {final} c ON c.vec_id = af.vec_id
LEFT JOIN border b ON b.vec_id = af.vec_id
ORDER BY af.vec_id
"""


QUERIES = {
    "kmeans_assign": kmeans_assign,
    "kmeans_cluster_sizes": kmeans_cluster_sizes,
    "semantic_dedup": semantic_dedup,
    "dbscan_clusters": dbscan_clusters,
    "kmeans_silhouette": kmeans_silhouette,
}

ORACLES = {
    "kmeans_assign": KMEANS_ASSIGN_SQL,
    "kmeans_cluster_sizes": KMEANS_SIZES_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
    "dbscan_clusters": _dbscan_sql(),
    "kmeans_silhouette": KMEANS_SIL_SQL,
}
