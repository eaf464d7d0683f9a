"""Int8 scalar quantization for the vector column (north-star ANN at
100 TB): fp32 embeddings don't fit — SQ8 (per-vector max-abs scale +
round-to-int8 components) cuts vector memory and shuffle bytes 4× and
turns the inner loop into an integer dot product. The standard recipe
(FAISS IndexScalarQuantizer SQ8, public) is: approximate-score the
whole corpus on quantized vectors, keep a small candidate pool, exact
re-rank only the pool — which is exactly the two-phase shape the other
ANN operators here already use.

Reference parity: the reference's ANN is ChromaDB's HNSW over fp32
(`/root/reference/app.py:48-61`); quantization is the capability a
100 TB corpus forces that the reference never needed at its scale.

Determinism/oracle: quantization is pure arithmetic — exact casts,
one IEEE division per component, round-half-away — mirrored
operation-for-operation in DuckDB, so the quantized integers (and
everything derived from them, including the candidate sets) are
bit-identical across engines. No model, no RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_sql,
    l2_squared,
    l2_squared_sql,
)
from spec_search_spark.operators.similarity import (
    N_PROBES,
    TOP_K,
    exact_knn,
    probes_of,
    topk_per_probe,
)
from spec_search_spark.session import pin, session_memo, spread, tune

Q_MAX = 127  # int8 range
CAND = 50  # approx-scored candidate pool per probe, re-ranked exactly


def _with_scale(emb: DataFrame) -> DataFrame:
    """Project the per-vector quantization scale as a REAL column
    first: referencing the max-abs expression inside the later
    transform() lambda would re-evaluate it per element (the O(d²)
    HOF-re-eval trap)."""
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / float(Q_MAX)
    )
    return emb.select("vec_id", "embedding", scale.alias("scale"))


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, scale, qv: array<bigint>) — qv is the SQ8
    code vector; all-zero vectors (scale 0) quantize to zeros."""
    s = _with_scale(emb)
    qv = F.when(
        F.col("scale") == 0.0,
        F.transform("embedding", lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("bigint"),
        )
    )
    return s.select("vec_id", "embedding", "scale", qv.alias("qv"))


# DuckDB mirrors of the two projections above
_SCALE_SQL = (
    f"list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / {Q_MAX}.0"
)
_Q_CTES = f"""
s AS (SELECT vec_id, embedding, {_SCALE_SQL} AS scale FROM embeddings),
q AS (SELECT vec_id, embedding, scale,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0::BIGINT)
                  ELSE list_transform(embedding,
                         x -> CAST(round(x::DOUBLE / scale, 0) AS BIGINT)) END AS qv
      FROM s)
"""


def _int_dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


_INT_DOT_SQL = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(list_zip({a}, {b}), z -> z[1] * z[2])), (acc, x) -> acc + x)"
)


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 codebook build: per-vector scale plus integer invariants of
    the code vector (component sum and squared norm pin every qv
    bit-for-bit without emitting raw arrays). Narrow per-row map —
    no shuffle, embarrassingly parallel at any scale."""
    tune(spark)
    q = _quantized(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        (F.round(F.col("scale"), 8) + 0.0).alias("qscale"),
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("q_sum"),
        _int_dot(F.col("qv"), F.col("qv")).alias("q_norm2"),
    )


QUANTIZE_SQL = f"""
WITH {_Q_CTES}
SELECT vec_id, round(scale, 8) + 0.0 AS qscale,
       list_reduce(list_prepend(0::BIGINT, qv), (acc, x) -> acc + x) AS q_sum,
       {_INT_DOT_SQL.format(a='qv', b='qv')} AS q_norm2
FROM q
"""


@session_memo
def _quantized_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized corpus is an index-shaped intermediate (like
    dedup's hashed postings / ivf's trained centroids): build it once
    per (session, corpus) and cache — the SQ8 code build is a pure map,
    but its HOF projections carry a large codegen cost that shouldn't
    be re-paid by every reader."""
    return pin(
        _quantized(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "scale", "qv"  # narrow: never cache fp arrays
        )
    )[0]


def ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SQ8 ANN: score the corpus with the INTEGER dot product
    on quantized codes (approx ∝ scale_p·scale_d·(qp·qd)), keep the
    top-CAND pool per probe, then re-rank only the pool with exact fp
    cosine — exact math touches CAND×n_probes rows total.

    The scan phase is ONE Arrow-batched mapInPandas kernel: an int64
    matmul scores every probe against the batch (the vectorized form
    SQ8 exists to enable — 4× less memory traffic than fp, no
    per-element codegen'd lambda), and the same pass folds a running
    per-probe top-CAND under the (neg_approx, vec_id) total order, so
    only ≤ CAND×n_partitions×n_probes survivor rows reach the tiny
    per-probe exchange. The corpus itself never shuffles. Probe codes
    are collected driver-side (N_PROBES rows — the bounded FAISS-style
    probe collect the other ANN ops use) and ship in the closure;
    float ops replicate the oracle's (pscale·scale)·dot grouping
    bit-for-bit, so candidate selection is engine-identical."""
    tune(spark)
    import numpy as np

    q = _quantized_memo(spark, sf_dir)
    probe_rows = sorted(
        q.filter(F.col("vec_id") < N_PROBES).select("vec_id", "scale", "qv").collect(),
        key=lambda r: r.vec_id,
    )
    pids = np.array([r.vec_id for r in probe_rows], dtype=np.int64)
    pscale = np.array([r.scale for r in probe_rows], dtype=np.float64)
    pq = np.array([r.qv for r in probe_rows], dtype=np.int64)  # P×D
    n_probes = len(probe_rows)

    def score_fold(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            qm = np.array(list(pdf["qv"]), dtype=np.int64)  # N×D
            dots = qm @ pq.T  # N×P, exact in int64
            sc = pdf["scale"].to_numpy(dtype=np.float64)
            approx = (sc[:, None] * pscale[None, :]) * dots.astype(np.float64)
            cur = pd.DataFrame(
                {
                    "probe_id": np.tile(pids, n),
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(dtype=np.int64), n_probes
                    ),
                    "neg_approx": -approx.reshape(-1),
                }
            )
            cur = cur[cur.vec_id != cur.probe_id]
            both = pd.concat([acc, cur]) if acc is not None else cur
            acc = (
                both.sort_values(["neg_approx", "vec_id"], kind="mergesort")
                .groupby("probe_id", sort=False)
                .head(CAND)
            )
        if acc is not None and len(acc):
            yield acc

    scored = q.select("vec_id", "scale", "qv").mapInPandas(
        score_fold, "probe_id bigint, vec_id bigint, neg_approx double"
    )
    cand = topk_per_probe(scored, CAND, "neg_approx").select("probe_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    rer = (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(probes_of(emb)), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("probe_vec")), 4
            ).alias("cos_sim"),
        )
    )
    return topk_per_probe(rer, TOP_K, F.desc("cos_sim")).select(
        "probe_id", "rn", "vec_id", "cos_sim"
    )


ANN_INT8_SQL = f"""
WITH {_Q_CTES},
probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec,
                  scale AS pscale, qv AS pqv
           FROM q WHERE vec_id < {N_PROBES}),
scored AS (SELECT p.probe_id, e.vec_id,
                  (p.pscale * e.scale) * {_INT_DOT_SQL.format(a='e.qv', b='p.pqv')}
                    AS approx
           FROM q e JOIN probes p ON e.vec_id <> p.probe_id),
cand AS (SELECT probe_id, vec_id
         FROM (SELECT probe_id, vec_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY approx DESC, vec_id) AS rc
               FROM scored) t
         WHERE rc <= {CAND}),
rer AS (SELECT c.probe_id, c.vec_id,
               round({cosine_similarity_sql('e.embedding', 'p.probe_vec')}, 4)
                 AS cos_sim
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN probes p ON p.probe_id = c.probe_id)
SELECT probe_id, rn, vec_id, cos_sim
FROM (SELECT probe_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM rer) t
WHERE rn <= {TOP_K}
"""


MRL_DIMS = (16, 32, 64)  # prefix dims; 64 = full (self-check row)


def matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of PREFIX-truncated embeddings vs the full-dimension
    ground truth, per (prefix_dim, probe) — the evaluation behind
    Matryoshka-style dimension-adaptive retrieval: score with the
    first 16/32 dims (4×/2× fewer FLOPs and bytes moved at 100 TB) and
    measure exactly how much neighborhood structure survives. The
    full-dim row is recall 1.0 by construction (pinned self-check).

    Plan: one scored pass per prefix dim (probes broadcast; slice() is
    codegen'd, no Python in scoring); per-probe top-k via the same
    snapped (dist, id) window over the tiny probe-keyed table; recall
    is a count join of the truncated lists against the full-dim list.
    All selections use round(dist², 4) + vec_id tiebreaks, so both
    engines pick identical lists."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = probes_of(emb)
    per_dim = []
    for d in MRL_DIMS:
        scored = emb.join(
            F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
        ).select(
            F.lit(d).alias("dim"),
            "probe_id",
            "vec_id",
            F.round(
                l2_squared(
                    F.slice(F.col("embedding"), 1, d),
                    F.slice(F.col("probe_vec"), 1, d),
                ),
                4,
            ).alias("dist2"),
        )
        per_dim.append(
            topk_per_probe(scored, TOP_K, "dist2").select("dim", "probe_id", "vec_id")
        )
    ranked = per_dim[0]
    for more in per_dim[1:]:
        ranked = ranked.unionAll(more)
    truth = ranked.filter(F.col("dim") == MRL_DIMS[-1]).select(
        F.col("probe_id").alias("tp"), F.col("vec_id").alias("tv")
    )
    return (
        ranked.join(
            F.broadcast(truth),
            (F.col("probe_id") == F.col("tp"))
            & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("dim", "probe_id")
        .agg(
            F.sum(
                F.expr("case when tv is not null then 1 else 0 end")
            )
            .cast("bigint")
            .alias("n_hits")
        )
        .select(
            "dim",
            "probe_id",
            "n_hits",
            F.expr(
                f"cast(round(n_hits / {float(TOP_K)} * 1e6) as bigint) / 1e6"
            ).alias("recall_6"),
        )
    )


def _mrl_sql() -> str:
    per_dim = []
    for d in MRL_DIMS:
        per_dim.append(f"""
SELECT {d} AS dim, probe_id, vec_id FROM (
  SELECT p.probe_id, e.vec_id,
         row_number() OVER (PARTITION BY p.probe_id ORDER BY
           round({l2_squared_sql(f'e.embedding[1:{d}]', f'p.probe_vec[1:{d}]')}, 4) ASC,
           e.vec_id ASC) AS rn
  FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id) t
WHERE rn <= {TOP_K}""")
    union = "\nUNION ALL\n".join(per_dim)
    return f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec
                FROM embeddings WHERE vec_id < {N_PROBES}),
ranked AS ({union}),
truth AS (SELECT probe_id AS tp, vec_id AS tv FROM ranked
          WHERE dim = {MRL_DIMS[-1]})
SELECT dim, probe_id,
       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(round(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END)
         / {float(TOP_K)} * 1e6) AS BIGINT) / 1e6 AS recall_6
FROM ranked LEFT JOIN truth ON probe_id = tp AND vec_id = tv
GROUP BY dim, probe_id
"""


MRL_SQL = _mrl_sql()


# --- Johnson-Lindenstrauss random-projection recall -------------------------

JL_DIM = 16  # target dimension (64 -> 16: 4x fewer bytes/FLOPs scored)


def _jl_signs() -> list[list[int]]:
    """The FIXED ±1 projection matrix (JL_DIM × source dim), derived
    from md5 so it is deterministic across runs/engines with no RNG
    state — the Achlioptas (2001) database-friendly JL construction
    (±1 entries suffice; no Gaussians needed)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{k}:{j}".encode()).digest()[0] & 1 else -1
            for j in range(64)
        ]
        for k in range(JL_DIM)
    ]


JL_SIGNS = _jl_signs()


def _jl_component(arr: str, k: int, base: int) -> str:
    """Shared-text projected component k: a 0.0-seeded LEFT-ASSOCIATIVE
    signed sum over the source components, so Spark ({base}=0 indexing)
    and DuckDB (base=1) fold bit-identical doubles."""
    terms = "".join(
        f" {'+' if s > 0 else '-'} CAST({arr}[{j + base}] AS DOUBLE)"
        for j, s in enumerate(JL_SIGNS[k])
    )
    return "(0.0" + terms + ")"


def jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of Johnson-Lindenstrauss ±1 random projection
    (64 → {JL_DIM} dims) against the exact full-dimension neighbor
    lists, per probe — the cheapest dimension-reduction lever for
    100 TB ANN (4× fewer bytes shuffled and FLOPs scored; the
    prefix-slice sibling is `matryoshka_recall_report`, but JL needs
    no specially-trained embedding).

    The projection matrix is a FIXED md5-derived ±1 matrix (Achlioptas
    construction, no RNG state), applied as {JL_DIM} fully-codegen'd
    signed sums — a pure map, no shuffle, no Python. Both engines fold
    the identical left-associative expression text, so projected
    vectors (and every distance and top-k list derived from them) are
    bit-identical. Selection uses round(dist², 4) + vec_id ties; truth
    lists come from the same snapped exact scoring."""
    tune(spark)
    # spread: the JL signed sums + both scoring passes are pure per-row
    # compute on the local single-row-group scan's one core (no-op at
    # scale — see session.spread).
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    proj = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            "array("
            + ", ".join(_jl_component("embedding", k, 0) for k in range(JL_DIM))
            + ")"
        ).alias("pv"),
    )
    probes = probes_of(proj, F.col("pv").alias("probe_pv"))
    scored = proj.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "vec_id",
        F.round(l2_squared(F.col("pv"), F.col("probe_pv")), 4).alias("dist2"),
    )
    approx = topk_per_probe(scored, TOP_K, "dist2").select("probe_id", "vec_id")
    truth = exact_knn(emb, TOP_K).select(
        F.col("probe_id").alias("tp"), F.col("vec_id").alias("tv")
    )
    return (
        approx.join(
            F.broadcast(truth),
            (F.col("probe_id") == F.col("tp"))
            & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.sum(F.expr("case when tv is not null then 1 else 0 end"))
            .cast("bigint")
            .alias("n_hits")
        )
        .selectExpr(
            "probe_id",
            "n_hits",
            f"cast(round(n_hits / {float(TOP_K)} * 1e6) as bigint) / 1e6"
            " AS recall_6",
        )
    )


def _jl_sql() -> str:
    pv = (
        "list_value("
        + ", ".join(_jl_component("embedding", k, 1) for k in range(JL_DIM))
        + ")"
    )
    return f"""
WITH proj AS (
  SELECT vec_id, embedding, {pv} AS pv FROM embeddings
),
probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec, pv AS probe_pv
           FROM proj WHERE vec_id < {N_PROBES}),
approx AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             round({l2_squared_sql('e.pv', 'p.probe_pv')}, 4) ASC,
             e.vec_id ASC) AS rn
    FROM proj e JOIN probes p ON e.vec_id <> p.probe_id) t
  WHERE rn <= {TOP_K}
),
truth AS (
  SELECT probe_id AS tp, vec_id AS tv FROM (
    SELECT p.probe_id, e.vec_id,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             round({l2_squared_sql('e.embedding', 'p.probe_vec')}, 4) ASC,
             e.vec_id ASC) AS rn
    FROM proj e JOIN probes p ON e.vec_id <> p.probe_id) t
  WHERE rn <= {TOP_K}
)
SELECT probe_id,
       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(round(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END)
         / {float(TOP_K)} * 1e6) AS BIGINT) / 1e6 AS recall_6
FROM approx LEFT JOIN truth ON probe_id = tp AND vec_id = tv
GROUP BY probe_id
"""


QUERIES = {
    "quantize_int8": quantize_int8,
    "ann_int8_rerank": ann_int8_rerank,
    "matryoshka_recall_report": matryoshka_recall_report,
    "jl_projection_recall": jl_projection_recall,
}

ORACLES = {
    "quantize_int8": QUANTIZE_SQL,
    "ann_int8_rerank": ANN_INT8_SQL,
    "matryoshka_recall_report": MRL_SQL,
    "jl_projection_recall": _jl_sql(),
}
