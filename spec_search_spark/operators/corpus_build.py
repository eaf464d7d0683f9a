"""End-to-end corpus-build flagship: the LLM-pipeline stages chained
the way a real 100 TB pretraining-data run composes them —

    raw → quality funnel → span dedup → MinHash near-dup survivors
        → benchmark decontamination → mixing-weight sampling
        → balanced shards

— emitting the per-stage funnel (docs and tokens surviving each gate,
per source) plus the final per-shard load as ONE DataFrame. Every
stage reuses the oracle-checked operator it is named after
(`pipeline_ops.funnel_staged`, `span_dedup.span_dup_ratio`,
`dedup.dedup_clusters`, `pipeline_ops.decontaminate`, the
`source_mix_weights` formula, the `balanced_shards` two-phase global
rank); what this query proves is their INTEROPERATION: the column
contracts line up, the memoized index artifacts (span-hit postings,
shingle postings, CC labels) are shared rather than rebuilt, and the
composed lineage stays shuffle-efficient (one raw-corpus scan feeds
the gate+token projection; every other stage input is a doc-id-keyed
flag table or a bounded per-source/per-bucket aggregate).

Composition semantics (each stage filters the SURVIVORS of the
previous one — cumulative AND of per-stage verdicts):

- quality: the C4/Gopher gate cascade verdict == 'pass'
  (`pipeline_ops.funnel_staged`, charged to the first failing gate).
- span_dedup: duplicated-token coverage ≤ 0.5 (Lee et al. K-token
  windows, `span_dedup.span_dup_ratio.keep`).
- near_dup: canonical member of its MinHash-LSH connected component
  (`dedup.dedup_clusters.is_canonical`).
- decontam: not a benchmark doc (doc_id % 10 == 7 convention) and not
  benchmark-contained: a doc is flagged when ≥ CONTAIN_NUM/CONTAIN_DEN
  of its own distinct 3-gram shingles appear in the benchmark set
  (integer cross-multiplied — no float threshold). This is the
  asymmetric containment form of `pipeline_ops.decontaminate` over
  the SAME memoized hashed-shingle postings; the absolute ≥K-overlap
  rule is benchmark-size-dependent and saturates on the templated
  fixture at sf0.1 (median overlap fraction 0.60 — it would flag 98%
  of the corpus and degenerate every stage behind it), while the
  fraction rule binds meaningfully at every scale factor.
- mix_sample: deterministic Bernoulli(weight) by salted hash, where
  weight = min(1, uniform-share / source-tokens) is computed over the
  DECONTAMINATED survivor tokens — the mixture a real run rebalances
  is the post-cleaning corpus, not the raw crawl.
- shard: the survivors land in N_SHARDS exactly-balanced shards
  (|size_i − size_j| ≤ 1) via the distributed two-phase global rank
  (bucket counts → 64-row prefix-sum window → per-bucket row_number),
  reported as per-shard doc/token loads.

Scale shape: ONE scan of the raw corpus computes the quality gate and
token count together (pure codegen); span/near-dup/decontam verdicts
join on doc_id (all reusing session-memoized index artifacts);
weights and shard offsets are bounded tables (≤|sources|, 64 rows)
broadcast back; the funnel report is a single partial+final agg over
the flag table; the only windows run over the 64-row bucket-count
table and within hash buckets. Nothing driver-side, nothing
quadratic, no stage re-scans raw text.

Output: (stage_idx, stage, grp, docs, tokens) — stages 0..5 keyed by
source, stage 6 ('shard') keyed by shard id.

Reference parity: the reference's pipeline stops at chunk+embed
(`/root/reference/indexer.py:29-66`); this is the north-star
training-data composition graded alongside SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.operators.dedup import (
    _POLY_SQL,
    _SHINGLES_SQL,
    _dedup_clusters_sql,
    _poly_hash,
    dedup_clusters,
    hashed_shingle_postings,
)
from spec_search_spark.operators.pipeline_ops import (
    CONTAM_BENCH_MOD,
    CONTAM_BENCH_REM,
    FUNNEL_MIN_CHARS,
    FUNNEL_MIN_TOKS,
    FUNNEL_STOP_MIN,
    FUNNEL_WLEN_HI,
    FUNNEL_WLEN_LO,
    N_SHARD_BUCKETS,
    N_SHARDS,
    _FUNNEL_STOPS,
    _FUNNEL_TOKS,
    funnel_staged,
    shard_rank,
)
from spec_search_spark.operators.span_dedup import _HITS_SQL, span_dup_ratio
from spec_search_spark.session import pin, tune

SAMPLE_MOD = 1_000_000  # the weighted_sample threshold grid
CONTAIN_NUM = 4  # flag when n_overlap/n_shingles ≥ 4/5 — integer
CONTAIN_DEN = 5  # cross-multiplied, no float threshold

#: (idx, name) per funnel stage; stage 6 is the shard report.
STAGES = (
    (0, "raw"),
    (1, "quality"),
    (2, "span_dedup"),
    (3, "near_dup"),
    (4, "decontam"),
    (5, "mix_sample"),
)


def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Returns the per-stage funnel + shard
    loads as one DataFrame."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")

    # ONE raw-corpus scan: gate verdict + token count from the same
    # codegen projection (funnel_staged's extras passthrough).
    base = funnel_staged(docs, keys=("doc_id", "source"), extras=("nt",))

    span = span_dup_ratio(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("span_keep")
    )
    cc = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")

    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    # Containment decontamination over the memoized hashed-shingle
    # postings (decontaminate's plan shape: benchmark hash set
    # broadcast, corpus side never shuffles text). A train doc is
    # contaminated when the benchmark covers ≥ CONTAIN_NUM/CONTAIN_DEN
    # of its distinct shingles.
    hp = hashed_shingle_postings(spark, sf_dir)  # (doc_id, shingle, h)
    bench_h = hp.filter(is_bench).select("h").distinct()
    cont = (
        hp.filter(~is_bench)
        .join(
            F.broadcast(bench_h.withColumn("inb", F.lit(1))), "h", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_sh"),
            F.countDistinct(F.when(F.col("inb") == 1, F.col("h"))).alias("n_ov"),
        )
        .select(
            "doc_id",
            (
                F.col("n_ov") * CONTAIN_DEN >= F.col("n_sh") * CONTAIN_NUM
            ).alias("contaminated"),
        )
    )
    f1 = F.col("stage") == "pass"
    f2 = f1 & F.coalesce("span_keep", F.lit(False))
    f3 = f2 & F.coalesce("is_canonical", F.lit(False))
    f4 = f3 & ~is_bench & ~F.coalesce("contaminated", F.lit(False))
    # flags feeds the weights aggregate AND the final flag table —
    # pinned so the verdict joins run once.
    flags, _ = pin(
        base.join(span, "doc_id", "left")
        .join(cc, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "nt",
            f1.alias("f1"),
            f2.alias("f2"),
            f3.alias("f3"),
            f4.alias("f4"),
        )
    )

    # Mixing weights over the DECONTAMINATED survivor tokens (stage-4
    # output): per-source sums (tiny) crossed with a one-row global.
    # The weight only ever acts through its integer threshold on the
    # SAMPLE_MOD grid, so only thr = round(weight * 1e6) crosses the
    # engine boundary (round-to-integer: half-away-from-zero in both).
    src = flags.filter("f4").groupBy("source").agg(F.sum("nt").alias("src_tokens"))
    tot = src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("total_tokens").cast("double") / F.col("n_sources"))
                / F.col("src_tokens"),
            )
            * SAMPLE_MOD,
            0,
        )
        .cast("bigint")
        .alias("thr"),
    )
    samp_h = F.pmod(
        _poly_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        F.lit(SAMPLE_MOD),
    )
    # f5t is consumed by BOTH the funnel agg and the shard path —
    # persist it (its own SQL mirror is MATERIALIZED for the same
    # multi-consumer reason), or the broadcast-w join and the per-row
    # sample poly-hash would re-run corpus-wide per consumer.
    f5t, _ = pin(flags.join(F.broadcast(w), "source", "left").select(
        "doc_id",
        "source",
        "nt",
        "f1",
        "f2",
        "f3",
        "f4",
        (F.col("f4") & (samp_h < F.coalesce("thr", F.lit(0)))).alias("f5"),
    ))

    # Per-source funnel: one partial+final agg, then stack to rows.
    def n(flag: str):
        return F.sum(F.col(flag).cast("int")).cast("bigint")

    def t(flag: str):
        return (
            F.coalesce(F.sum(F.when(F.col(flag), F.col("nt"))), F.lit(0))
            .cast("bigint")
        )

    per = f5t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("d0"),
        F.sum("nt").cast("bigint").alias("t0"),
        *[x for i in range(1, 6) for x in (n(f"f{i}").alias(f"d{i}"), t(f"f{i}").alias(f"t{i}"))],
    )
    stack_args = ", ".join(
        f"{i}, '{name}', d{i}, t{i}" for i, name in STAGES
    )
    stage_rows = per.select(
        F.expr(
            f"stack(6, {stack_args}) as (stage_idx, stage, docs, tokens)"
        ),
        F.col("source").alias("grp"),
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        "grp",
        "docs",
        "tokens",
    )

    # Balanced shards over the final survivors: the SHARED two-phase
    # global rank (pipeline_ops.shard_rank — same helper
    # balanced_shards uses), applied to the survivor set.
    shard_rows = (
        shard_rank(f5t.filter("f5").select("doc_id", "nt"), carry=("nt",))
        .select("nt", "shard")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("nt").cast("bigint").alias("tokens"),
        )
        .select(
            F.lit(6).cast("int").alias("stage_idx"),
            F.lit("shard").alias("stage"),
            F.concat(F.lit("shard_"), F.col("shard").cast("string")).alias("grp"),
            "docs",
            "tokens",
        )
    )

    return stage_rows.unionByName(shard_rows).orderBy("stage_idx", "grp")


_SAMP_H = _POLY_SQL.format(s="'sample:' || CAST(doc_id AS VARCHAR)")
_SHARD_H = _POLY_SQL.format(s="'shard:' || CAST(doc_id AS VARCHAR)")

# flags/f5t are each consumed by more than one downstream CTE —
# MATERIALIZED per FIXTURES rule 7 so DuckDB doesn't re-evaluate the
# span/CC/decontam chains per reference.
CORPUS_BUILD_SQL = f"""
WITH {_HITS_SQL},
ntok AS (SELECT doc_id, len(tk)::BIGINT AS n_tok FROM tkarr),
spd AS (SELECT doc_id, sum(span_len) AS dup_tok FROM merged GROUP BY doc_id),
spank AS (
  SELECT n.doc_id,
         (CASE WHEN n.n_tok = 0 THEN 0.0
               ELSE round(coalesce(p.dup_tok, 0) / n.n_tok, 6) END) <= 0.5
           AS span_keep
  FROM ntok n LEFT JOIN spd p ON n.doc_id = p.doc_id),
cc AS ({_dedup_clusters_sql()}),
cbp_post AS ({_SHINGLES_SQL}),
hp AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM cbp_post),
benchh AS (SELECT DISTINCT h FROM hp
           WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM}),
cont AS (
  SELECT hp.doc_id,
         count(DISTINCT CASE WHEN b.h IS NOT NULL THEN hp.h END)
           * {CONTAIN_DEN}
           >= count(DISTINCT hp.h) * {CONTAIN_NUM} AS contaminated
  FROM hp LEFT JOIN benchh b ON hp.h = b.h
  WHERE hp.doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_REM}
  GROUP BY hp.doc_id),
gate AS (
  SELECT doc_id, source, n_chars AS nc,
         len({_FUNNEL_TOKS}) AS nt,
         len(regexp_replace(text, '\\s', '', 'g')) AS sl,
         len(list_filter({_FUNNEL_TOKS}, x -> x IN ({_FUNNEL_STOPS}))) AS nstop,
         len(list_distinct({_FUNNEL_TOKS})) AS nd
  FROM documents),
q AS (
  SELECT doc_id, source, CAST(nt AS BIGINT) AS nt,
         (nc >= {FUNNEL_MIN_CHARS} AND nt >= {FUNNEL_MIN_TOKS}
          AND sl >= {FUNNEL_WLEN_LO} * nt AND sl <= {FUNNEL_WLEN_HI} * nt
          AND nstop >= {FUNNEL_STOP_MIN} AND 2 * nd >= nt) AS f1
  FROM gate),
flags AS MATERIALIZED (
  SELECT q.doc_id, q.source, q.nt, q.f1,
         (q.f1 AND coalesce(s.span_keep, false)) AS f2,
         (q.f1 AND coalesce(s.span_keep, false)
          AND coalesce(cc.is_canonical, false)) AS f3,
         (q.f1 AND coalesce(s.span_keep, false)
          AND coalesce(cc.is_canonical, false)
          AND NOT (q.doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM})
          AND NOT coalesce(c.contaminated, false)) AS f4
  FROM q
  LEFT JOIN spank s ON s.doc_id = q.doc_id
  LEFT JOIN cc ON cc.doc_id = q.doc_id
  LEFT JOIN cont c ON c.doc_id = q.doc_id),
src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_tokens
        FROM flags WHERE f4 GROUP BY source),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_sources FROM src),
w AS (SELECT source,
             CAST(round(least(1.0,
                 (CAST(total_tokens AS DOUBLE) / n_sources) / src_tokens)
               * {SAMPLE_MOD}) AS BIGINT) AS thr
      FROM src CROSS JOIN tot),
f5t AS MATERIALIZED (
  SELECT f.doc_id, f.source, f.nt, f.f1, f.f2, f.f3, f.f4,
         (f.f4 AND (({_SAMP_H} % {SAMPLE_MOD} + {SAMPLE_MOD}) % {SAMPLE_MOD})
                   < coalesce(w.thr, 0)) AS f5
  FROM flags f LEFT JOIN w ON w.source = f.source),
per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS d0, CAST(sum(nt) AS BIGINT) AS t0,
         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(coalesce(sum(CASE WHEN f1 THEN nt END), 0) AS BIGINT) AS t1,
         CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(coalesce(sum(CASE WHEN f2 THEN nt END), 0) AS BIGINT) AS t2,
         CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(coalesce(sum(CASE WHEN f3 THEN nt END), 0) AS BIGINT) AS t3,
         CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         CAST(coalesce(sum(CASE WHEN f4 THEN nt END), 0) AS BIGINT) AS t4,
         CAST(sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
         CAST(coalesce(sum(CASE WHEN f5 THEN nt END), 0) AS BIGINT) AS t5
  FROM f5t GROUP BY source),
stages AS (
  SELECT 0 AS stage_idx, 'raw' AS stage, source AS grp, d0 AS docs, t0 AS tokens FROM per
  UNION ALL SELECT 1, 'quality', source, d1, t1 FROM per
  UNION ALL SELECT 2, 'span_dedup', source, d2, t2 FROM per
  UNION ALL SELECT 3, 'near_dup', source, d3, t3 FROM per
  UNION ALL SELECT 4, 'decontam', source, d4, t4 FROM per
  UNION ALL SELECT 5, 'mix_sample', source, d5, t5 FROM per),
sur AS (SELECT doc_id, nt, {_SHARD_H} AS h FROM f5t WHERE f5),
rnk AS (
  SELECT nt,
         row_number() OVER (
           ORDER BY ((h % {N_SHARD_BUCKETS}) + {N_SHARD_BUCKETS}) % {N_SHARD_BUCKETS},
                    h, doc_id) - 1 AS grank
  FROM sur),
shardrows AS (
  SELECT 6 AS stage_idx, 'shard' AS stage,
         'shard_' || CAST(grank % {N_SHARDS} AS VARCHAR) AS grp,
         CAST(count(*) AS BIGINT) AS docs, CAST(sum(nt) AS BIGINT) AS tokens
  FROM rnk GROUP BY 'shard_' || CAST(grank % {N_SHARDS} AS VARCHAR))
SELECT CAST(stage_idx AS INT) AS stage_idx, stage, grp, docs, tokens FROM stages
UNION ALL
SELECT CAST(stage_idx AS INT) AS stage_idx, stage, grp, docs, tokens FROM shardrows
ORDER BY stage_idx, grp
"""


QUERIES = {
    "corpus_build_pipeline": corpus_build_pipeline,
}

ORACLES = {
    "corpus_build_pipeline": CORPUS_BUILD_SQL,
}
