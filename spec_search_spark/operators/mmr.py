"""Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
SIGIR 1998): diversify a retrieval result by greedily selecting the
document that maximizes λ·sim(query, d) − (1−λ)·max_{s∈S} sim(d, s)
over the already-selected set S — the standard RAG-retriever
diversity pass (LangChain's `search_type="mmr"`, which the
reference's ChromaDB stack exposes but `app.py:50-52` never turns
on; here it is engine surface).

Scale shape (the two-phase ANN discipline of similarity.py):
- the CORPUS-scale work — scoring every vector against the broadcast
  probe and cutting to the CAND-row candidate pool — is fully
  distributed (one TakeOrderedAndProject: each partition keeps its
  CAND best rows before the single-partition merge, so the corpus
  never shuffles or sorts);
- the greedy selection is an inherently sequential O(CAND²·K) loop
  over the FIXED-SIZE pool: the candidate pairwise similarities are
  computed by the engine (broadcast self-join of the CAND-row pool),
  and the ≤ CAND + CAND² rounded rows are collected — the bounded
  centroids-class collect, independent of corpus size.

Cross-engine determinism: every similarity is scaled engine-side to
an INTEGER (round(cos·10⁴) as BIGINT), so the greedy argmax compares
exact integers (mmr_e5 = 7·rel_e4 − 3·pen_e4 in 10⁻⁵ units — λ=0.7)
and the unrolled K-step DuckDB CTE replays the identical selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from spec_search_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_sql,
)
from spec_search_spark.operators.similarity import _emb, probes_of
from spec_search_spark.session import local_df, tune

CAND = 24  # candidate pool (the corpus-scale cut)
SELECT_K = 8  # diversified picks
LAM_NUM, PEN_NUM = 7, 3  # λ = 0.7 in tenths → integer arithmetic

MMR_SCHEMA = StructType(
    [
        StructField("rank", LongType()),
        StructField("vec_id", LongType()),
        StructField("rel_e4", LongType()),
        StructField("mmr_e5", LongType()),
    ]
)


def _sim_e4(a, b):
    return F.round(cosine_similarity(a, b) * 10000, 0).cast("bigint")


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rel_e4, embedding): top-CAND by cosine to probe 0 —
    the distributed phase."""
    emb = _emb(spark, sf_dir)
    probe = probes_of(emb).filter(F.col("probe_id") == 0)
    top = (
        emb.join(F.broadcast(probe), F.col("vec_id") != F.col("probe_id"))
        .select(
            "vec_id",
            _sim_e4(F.col("embedding"), F.col("probe_vec")).alias("rel_e4"),
        )
        .orderBy(F.desc("rel_e4"), F.asc("vec_id"))
        .limit(CAND)
    )
    return top.join(emb.select("vec_id", "embedding"), "vec_id")


def greedy_mmr(rel: dict, sim: dict, k: int):
    """The shared driver-side greedy over a BOUNDED candidate pool:
    at each rank pick argmax of LAM_NUM·rel[v] − PEN_NUM·max_{s∈S}
    sim[(v, s)], ties to the smallest id (key = (−score, v)) — the
    exact selection the unrolled MATERIALIZED-CTE oracles replay.
    Used by mmr_diversified_topk and search_pipeline_e2e; the scoring
    and tie-break contract must stay byte-identical to BOTH oracles,
    which is why there is exactly one copy. Yields (rank, id, score)."""
    # Fail loudly on a shrunken pool: callers build a CAND-row pool by
    # construction, so a pool smaller than k means an upstream
    # regression (e.g. a pooled inner join dropping docs) — and the
    # unrolled oracle would replay the same truncation, hiding it
    # (ADVICE r9 item 3).
    if len(rel) < k:
        raise ValueError(
            f"greedy_mmr: candidate pool ({len(rel)}) smaller than k "
            f"({k}) — upstream pool construction shrank"
        )
    selected: list = []
    remaining = set(rel)
    for rank in range(1, k + 1):
        if not remaining:
            return
        best = None
        for v in remaining:
            pen = max((sim[(v, s)] for s in selected), default=0)
            score = LAM_NUM * rel[v] - PEN_NUM * pen
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        _, v, score = best
        selected.append(v)
        remaining.remove(v)
        yield rank, v, score


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank of the CAND-row pool down to SELECT_K picks.

    Output: (rank, vec_id, rel_e4, mmr_e5) — similarities in exact
    integer units (1e-4 for relevance, 1e-5 for the MMR score)."""
    tune(spark)
    # the pool is referenced three times (pair sims twice, rel once) —
    # pin the CAND rows so the corpus-scale cut runs ONCE
    cand = _candidates(spark, sf_dir).localCheckpoint(eager=True)
    a = cand.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select("va", "vb", _sim_e4(F.col("ea"), F.col("eb")).alias("s_e4"))
        .collect()
    )
    rel = {
        r["vec_id"]: r["rel_e4"] for r in cand.select("vec_id", "rel_e4").collect()
    }
    sim = {(r["va"], r["vb"]): r["s_e4"] for r in pairs}

    out = [
        (rank, v, rel[v], score)
        for rank, v, score in greedy_mmr(rel, sim, SELECT_K)
    ]
    return local_df(spark, out, MMR_SCHEMA)


def _mmr_sql() -> str:
    cos = cosine_similarity_sql("e.embedding", "p.probe_vec")
    pcos = cosine_similarity_sql("a.embedding", "b.embedding")
    parts = [
        f"""
WITH probe AS (SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT e.vec_id, CAST(round({cos} * 10000, 0) AS BIGINT) AS rel_e4,
         e.embedding
  FROM embeddings e, probe p
  WHERE e.vec_id <> 0
  ORDER BY rel_e4 DESC, e.vec_id
  LIMIT {CAND}
),
pair AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(round({pcos} * 10000, 0) AS BIGINT) AS s_e4
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
picks1 AS MATERIALIZED (
  SELECT vec_id, rel_e4, {LAM_NUM} * rel_e4 AS mmr_e5
  FROM cand ORDER BY mmr_e5 DESC, vec_id LIMIT 1
),
picked1 AS MATERIALIZED (SELECT vec_id FROM picks1)"""
    ]
    for k in range(2, SELECT_K + 1):
        parts.append(
            f""",
picks{k} AS MATERIALIZED (
  SELECT c.vec_id, c.rel_e4,
         {LAM_NUM} * c.rel_e4 - {PEN_NUM} * max(p.s_e4) AS mmr_e5
  FROM cand c JOIN pair p
    ON p.va = c.vec_id AND p.vb IN (SELECT vec_id FROM picked{k - 1})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{k - 1})
  GROUP BY c.vec_id, c.rel_e4
  ORDER BY mmr_e5 DESC, c.vec_id LIMIT 1
),
picked{k} AS MATERIALIZED (SELECT vec_id FROM picked{k - 1}
              UNION ALL SELECT vec_id FROM picks{k})"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, vec_id, rel_e4, mmr_e5 FROM picks{k}"
        for k in range(1, SELECT_K + 1)
    )
    return "".join(parts) + "\n" + sel


QUERIES = {"mmr_diversified_topk": mmr_diversified_topk}
ORACLES = {"mmr_diversified_topk": _mmr_sql()}
