"""Training-data pipeline pack (north-star ops beyond the reference's
own surface): benchmark decontamination, canonical-survivor selection,
Gopher-style repetition filters, deterministic hash splits, TF-IDF
keyword extraction, token-budget sequence packing, and source-mixing
weights. The reference's corpus prep stops at chunk+embed
(`/root/reference/indexer.py:29-66`); a 100 TB pretraining pipeline
runs exactly these steps between ingest and tokenize, so they are
first-class operators here.

Scale design notes (local[32] tests, 1000-executor shapes):
- Decontamination joins the corpus against the benchmark on 8-byte
  shingle hashes, benchmark side broadcast — benchmarks are ~1e6 docs
  while the corpus is 100 TB, so broadcast-the-small-side is THE plan,
  and the corpus never shuffles its text.
- Repetition filters / TF-IDF shuffle (doc_id, gram) pairs with
  map-side partial aggregation; nothing is quadratic.
- Hash split is embarrassingly parallel (a pure per-row hash), the
  report a partial+final agg.
- Sequence packing windows per SOURCE stream (never a global
  single-partition window): each source packs independently, which is
  both the scale shape and what heterogeneous-mixture training wants.
- Mixing weights reduce to one tiny per-source row set crossed with a
  one-row global — a broadcast nested loop over 1 row.

Every query here has a DuckDB value oracle; doubles are exact
(integer-ratio arithmetic mirrored operation-for-operation, final
round in SQL semantics on both engines — no transcendental functions,
see tfidf's rational idf note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import tokens
from spec_search_spark.operators.dedup import (
    _POLY_SQL,
    _SHINGLES_SQL,
    _dedup_clusters_sql,
    _poly_hash,
    dedup_clusters,
    hashed_shingle_postings,
)
from spec_search_spark.session import pin, spread, tune

# Whitespace token count, inlined for SQL mirrors (same fold as
# functions.text.token_count / TOKEN_STATS_SQL).
_TOKCOUNT_SQL = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)


def _token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


_spread = spread  # session.spread: gate the fan-out on the scan's split count


# --- benchmark decontamination ---------------------------------------------

CONTAM_BENCH_MOD = 10  # benchmark set := doc_id % 10 == 7 (deterministic
CONTAM_BENCH_REM = 7  # stand-in for a held-out eval suite)
CONTAM_MIN_OVERLAP = 6  # shared distinct 3-gram shingles to flag a doc


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training docs sharing >= K
    distinct word-3-gram shingles with the benchmark corpus (the
    n-gram-overlap rule pretraining pipelines apply before training,
    so eval answers don't leak into the train set).

    Plan: reuses the memoized hashed shingle postings (hash computed
    once per DISTINCT shingle, dedup.py:188); the benchmark's distinct
    hash set is broadcast (benchmarks are MBs while the corpus is
    100 TB — the corpus side never shuffles, and the join key is an
    8-byte hash, not shingle text). Zero-overlap docs are restored by
    a left join against the doc list, so the output is a verdict per
    train doc, not just per contaminated doc.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    hp = hashed_shingle_postings(spark, sf_dir)  # (doc_id, shingle, h)
    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    bench_h = hp.filter(is_bench).select("h").distinct()
    overlap = (
        hp.filter(~is_bench)
        .join(F.broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_overlap"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= CONTAM_MIN_OVERLAP).alias(
                "contaminated"
            ),
        )
    )


DECONTAMINATE_SQL = f"""
WITH postings AS ({_SHINGLES_SQL}),
hp AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings),
bench AS (SELECT DISTINCT h FROM hp
          WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM}),
ov AS (SELECT hp.doc_id, count(DISTINCT hp.h) AS n_overlap
       FROM hp JOIN bench USING (h)
       WHERE hp.doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_REM}
       GROUP BY hp.doc_id)
SELECT d.doc_id,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       coalesce(o.n_overlap, 0) >= {CONTAM_MIN_OVERLAP} AS contaminated
FROM documents d LEFT JOIN ov o USING (doc_id)
WHERE d.doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_REM}
"""


# --- containment decontamination (asymmetric overlap) ----------------------

CONTAIN_TAU = 0.5  # fraction of a bench doc's shingles found in a train doc


def contamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based decontamination: for every (benchmark doc,
    training doc) pair, the fraction of the BENCHMARK doc's distinct
    3-gram shingles that appear in the training doc —
    |B ∩ T| / |B|, the asymmetric measure that catches an eval item
    EMBEDDED in a much larger training doc, which symmetric Jaccard
    (diluted by the big doc's size) structurally misses. This is the
    pairwise attribution report behind :func:`decontaminate`'s per-doc
    verdict: it names WHICH benchmark item leaked into which train doc.

    Plan (100 TB): the benchmark postings and its per-doc sizes are
    broadcast (benchmarks are MBs; the corpus is the 100 TB side, and
    it never shuffles for the probe join — each corpus partition
    probes the broadcast hash set in place). The only shuffle is the
    pair aggregation, whose input is overlap-bounded: a corpus posting
    with no benchmark collision emits nothing.
    """
    tune(spark)
    hp = hashed_shingle_postings(spark, sf_dir).select("doc_id", "h")
    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    bench = hp.filter(is_bench).select(F.col("doc_id").alias("bench_doc"), "h")
    bsz = bench.groupBy("bench_doc").agg(F.count(F.lit(1)).alias("n_b"))
    train = hp.filter(~is_bench).select(F.col("doc_id").alias("train_doc"), "h")
    ov = (
        train.join(F.broadcast(bench), "h")
        .groupBy("bench_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.round(F.col("n_common").cast("double") / F.col("n_b"), 4)
    return (
        ov.join(F.broadcast(bsz), "bench_doc")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= CONTAIN_TAU)
        .select("bench_doc", "train_doc", "n_common", "containment")
    )


CONTAINMENT_SQL = f"""
WITH postings AS ({_SHINGLES_SQL}),
hp AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings),
bench AS (SELECT doc_id AS bench_doc, h FROM hp
          WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM}),
bsz AS (SELECT bench_doc, count(*) AS n_b FROM bench GROUP BY bench_doc),
train AS (SELECT doc_id AS train_doc, h FROM hp
          WHERE doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_REM}),
ov AS (SELECT bench_doc, train_doc, count(*) AS n_common
       FROM bench JOIN train USING (h) GROUP BY 1, 2)
SELECT bench_doc, train_doc, CAST(n_common AS BIGINT) AS n_common,
       round(n_common::DOUBLE / n_b, 4) AS containment
FROM ov JOIN bsz USING (bench_doc)
WHERE round(n_common::DOUBLE / n_b, 4) >= {CONTAIN_TAU}
"""


# --- leakage-safe split (cluster-aware train/val) ---------------------------


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split that hashes the near-dup CLUSTER id instead of
    the doc id, so a template cluster lands wholly on one side — the
    fix for the classic eval-leakage bug where doc-level hash splits
    put one near-duplicate in train and its twin in val. For
    singleton clusters (cluster_id == doc_id) the bucket equals the
    plain :func:`hash_split_report` bucket, so the two splits diverge
    ONLY where near-dups exist — a backfill can upgrade in place.

    Plan: reuses the memoized CC label table (dedup.dedup_clusters;
    the iterative rounds run once per session), one join to attach
    cluster ids, per-row hash, partial/final agg on (source, split).
    Reported per (source, split): docs, distinct clusters, tokens.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    h = _poly_hash(F.concat(F.lit("split:"), F.col("cluster_id").cast("string")))
    bucket = F.pmod(h, F.lit(SPLIT_BUCKETS))
    split = F.when(bucket < TRAIN_CUT, F.lit("train")).otherwise(F.lit("val"))
    return (
        docs.select("doc_id", "source", _token_count(F.col("text")).alias("nt"))
        .join(cl, "doc_id")
        .select("source", split.alias("split"), "cluster_id", "nt")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("nt").alias("n_tokens"),
        )
    )


def _leakage_safe_split_sql() -> str:
    cl_h = _POLY_SQL.format(s="'split:' || CAST(cluster_id AS VARCHAR)")
    return f"""
WITH cl AS ({_dedup_clusters_sql()}),
a AS (SELECT d.source,
             CASE WHEN (({cl_h} % {SPLIT_BUCKETS}) + {SPLIT_BUCKETS})
                       % {SPLIT_BUCKETS} < {TRAIN_CUT}
                  THEN 'train' ELSE 'val' END AS split,
             cl.cluster_id, {_TOKCOUNT_SQL} AS nt
      FROM documents d JOIN cl USING (doc_id))
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM a GROUP BY source, split
"""


# --- weighted reservoir sampling (Efraimidis–Spirtakis A-ES) ----------------

WRS_K = 200  # fixed sample size


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-k weighted sample WITHOUT replacement, selection
    probability proportional to token count — the Efraimidis–Spirtakis
    A-ES scheme (Inf. Proc. Letters 2006): each item draws
    key = u^(1/w) for u ~ U(0,1) and the k LARGEST keys are the
    sample. Complements :func:`weighted_sample` (Bernoulli, variable
    size): this one returns EXACTLY k docs, which is what a
    fixed-token-budget ablation or eval-set carve-out needs.

    Deterministic u: the salted doc_id hash mapped to
    (pmod(h,1e6)+1)/1000001 ∈ (0,1) — reproducible on any engine, no
    RNG state; a backfill re-derives the identical sample. The key is
    ranked, never output: cross-engine pow() may differ in the last
    ulp, which cannot reorder keys spaced ~1e-5 apart but could change
    a ROUNDED key's printed value (FIXTURES float-determinism rule).

    Plan (100 TB): per-row hash+pow (codegen), then TakeOrderedAndProject
    — every partition keeps a local top-k heap and only k rows per
    partition reach the single merge; no global sort, no full shuffle.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    nt = F.greatest(_token_count(F.col("text")), F.lit(1))
    h = _poly_hash(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string")))
    u = (F.pmod(h, F.lit(1_000_000)) + F.lit(1)) / F.lit(1_000_001.0)
    key = F.pow(u, F.lit(1.0) / F.col("nt"))
    return (
        docs.select("doc_id", "source", nt.alias("nt"))
        .withColumn("key", key)
        .orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(WRS_K)
        .select("doc_id", "source", F.col("nt").cast("bigint").alias("n_tokens"))
    )


_WRS_H = _POLY_SQL.format(s="'wrs:' || CAST(doc_id AS VARCHAR)")
WRS_SQL = f"""
WITH w AS (SELECT doc_id, source, greatest({_TOKCOUNT_SQL}, 1) AS nt
           FROM documents),
k AS (SELECT doc_id, source, nt,
             pow(((({_WRS_H} % 1000000) + 1000000) % 1000000 + 1) / 1000001.0,
                 1.0 / nt) AS key
      FROM w)
SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens
FROM k ORDER BY key DESC, doc_id LIMIT {WRS_K}
"""


# --- canonical survivors after near-dup clustering -------------------------


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-set a dedup pass actually emits: one canonical doc per
    connected component of the MinHash-LSH near-dup graph, with the
    member count it absorbed. Composition of dedup_clusters (iterative
    min-label CC, dedup.py:590) + one size agg + metadata join-back —
    all keyed on doc_id/cluster_id, nothing new shuffles text."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    cc = dedup_clusters(spark, sf_dir)  # (doc_id, cluster_id, is_canonical)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cc.filter(F.col("is_canonical"))
        .join(sizes, "cluster_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_members")
    )


def _dedup_survivors_sql() -> str:
    return f"""
WITH cc AS ({_dedup_clusters_sql()}),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
          FROM cc GROUP BY cluster_id)
SELECT cc.doc_id, d.source, s.n_members
FROM cc
JOIN sizes s USING (cluster_id)
JOIN documents d USING (doc_id)
WHERE cc.is_canonical
"""


# --- Gopher-style repetition / diversity filters ---------------------------

TOP_BIGRAM_MAX = 0.05  # max fraction of bigram mass in the top bigram
DISTINCT_RATIO_MIN = 0.35  # min distinct-token / total-token ratio


def _bigrams_from_toks(toks: Column) -> Column:
    """All word bigrams (NOT distinct — repetition is the signal) from a
    materialized tokens column; <2 tokens -> empty (same downward-
    sequence guard as dedup._shingles_from_toks, dedup.py:102)."""
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, (i + 1).cast("int")),
            F.element_at(toks, (i + 2).cast("int")),
        ),
    )
    return F.when(F.size(toks) >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality verdicts (the Gopher-rules family):
    top-bigram mass fraction + distinct-token ratio, and a keep/drop
    verdict on fixed thresholds. Degenerate machine-generated text
    repeats phrases — the top-bigram fraction catches loops the
    per-token stats miss.

    Plan: the ratio is pure per-row array arithmetic (no shuffle); the
    bigram histogram shuffles (doc_id, bigram) with map-side partial
    counts; verdicts compare ROUNDED values so both engines decide
    ties identically.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks_df = _spread(docs, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    ratio = toks_df.select(
        "doc_id",
        F.when(
            F.size("toks") > 0,
            F.round(
                F.size(F.array_distinct("toks")).cast("double") / F.size("toks"), 4
            ),
        )
        .otherwise(F.lit(1.0))
        .alias("distinct_ratio"),
    )
    per_doc = (
        toks_df.select(
            "doc_id", F.explode(_bigrams_from_toks(F.col("toks"))).alias("bigram")
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("total_bg"))
    )
    top_frac = F.coalesce(
        F.round(F.col("top_n").cast("double") / F.col("total_bg"), 4), F.lit(0.0)
    )
    return ratio.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "distinct_ratio",
        top_frac.alias("top_bigram_frac"),
        (
            (top_frac <= TOP_BIGRAM_MAX)
            & (F.col("distinct_ratio") >= DISTINCT_RATIO_MIN)
        ).alias("keep"),
    )


REPETITION_SQL = f"""
WITH t AS (SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                       ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
           FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                                    i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
       FROM t),
c AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
pd AS (SELECT doc_id, max(n) AS top_n, sum(n) AS total_bg FROM c GROUP BY doc_id),
r AS (SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN round(len(list_distinct(toks))::DOUBLE / len(toks), 4)
                  ELSE 1.0 END AS distinct_ratio
      FROM t)
SELECT r.doc_id, r.distinct_ratio,
       coalesce(round(pd.top_n::DOUBLE / pd.total_bg, 4), 0.0) AS top_bigram_frac,
       (coalesce(round(pd.top_n::DOUBLE / pd.total_bg, 4), 0.0) <= {TOP_BIGRAM_MAX}
        AND r.distinct_ratio >= {DISTINCT_RATIO_MIN}) AS keep
FROM r LEFT JOIN pd USING (doc_id)
"""


# --- deterministic hash split ----------------------------------------------

SPLIT_BUCKETS = 100
TRAIN_CUT = 90  # buckets [0, 90) -> train, [90, 100) -> val


def hash_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val assignment by content-independent key
    hash (salted doc_id), reported per (source, split): doc and token
    counts. Hash-mod split is the reproducible way to partition a
    100 TB corpus — no RNG state, stable under re-runs and backfills,
    and any engine can recompute membership from the key alone.

    Plan: pure per-row hash (Arrow-batched, before any exchange) +
    partial/final agg on (source, split)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    h = _poly_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    bucket = F.pmod(h, F.lit(SPLIT_BUCKETS))
    split = F.when(bucket < TRAIN_CUT, F.lit("train")).otherwise(F.lit("val"))
    return (
        docs.select(
            "source", split.alias("split"), _token_count(F.col("text")).alias("nt")
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )


_SPLIT_H = _POLY_SQL.format(s="'split:' || CAST(doc_id AS VARCHAR)")
HASH_SPLIT_SQL = f"""
WITH s AS (SELECT source,
                  CASE WHEN (({_SPLIT_H} % {SPLIT_BUCKETS}) + {SPLIT_BUCKETS})
                            % {SPLIT_BUCKETS} < {TRAIN_CUT}
                       THEN 'train' ELSE 'val' END AS split,
                  {_TOKCOUNT_SQL} AS nt
           FROM documents)
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM s GROUP BY source, split
"""


# --- TF-IDF keyword extraction ---------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per doc by tf-idf with a RATIONAL
    idf: score = tf * (N+1)/(df+1). Deliberately no logarithm — the
    rational weight ranks by the same (tf up, df down) signal while
    staying exact integer-ratio IEEE arithmetic, bit-identical across
    engines (ln() differs by ulps between libm and DuckDB, which a
    round-to-4 cannot fully mask — the centroid_sig lesson from
    ADVICE r2).

    Plan: (doc_id, term) histogram with partial aggs; the document-
    frequency vocabulary is term-keyed and vocab-sized, not
    corpus-sized, so it usually broadcasts back — but the vocabulary
    GROWS with corpus size, so the broadcast is guarded by the same
    BROADCAST_VOCAB_MAX cap dedup uses (dedup.py
    hashed_shingle_postings): above the cap it falls back to a plain
    shuffle join on `term`. Top-k per doc is one window over the
    doc_id partitioning the tf histogram already has."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    tf, _ = pin(
        _spread(docs, "doc_id")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from spec_search_spark.operators.dedup import BROADCAST_VOCAB_MAX

    dfreq, n_terms = pin(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    join_dfreq = F.broadcast(dfreq) if n_terms <= BROADCAST_VOCAB_MAX else dfreq
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(join_dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf") * (F.col("n_docs") + 1).cast("double"))
                / (F.col("df") + 1),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "score")
    )


TFIDF_SQL = f"""
WITH t AS (SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                       ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.term,
                  round((tf.tf * CAST(nd.n_docs + 1 AS DOUBLE)) / (dfreq.df + 1), 4)
                    AS score
           FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS INTEGER) AS rnk,
       term, score
FROM scored
QUALIFY rnk <= {TFIDF_TOP_K}
"""


# --- token-budget sequence packing -----------------------------------------

PACK_BUDGET = 512  # tokens per training block


def token_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sequence packing: stream each source's docs in doc_id
    order, cut a new block whenever the running token count crosses a
    multiple of the budget (a doc belongs to the block its PREFIX sum
    falls in — deterministic, one-pass, the streaming approximation of
    greedy first-fit that tokenizer-sharding jobs use).

    Plan: one window per SOURCE partition (never a global
    single-partition cumsum — sources stream independently, which is
    the 1000-executor shape), then a partial+final agg per block."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    nt = docs.select("source", "doc_id", _token_count(F.col("text")).alias("nt"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = nt.select(
        "source",
        "nt",
        F.floor((F.sum("nt").over(w) - F.col("nt")) / PACK_BUDGET).alias("block_id"),
    )
    return packed.groupBy("source", "block_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("block_tokens")
    )


PACK_SQL = f"""
WITH nt AS (SELECT source, doc_id, {_TOKCOUNT_SQL} AS nt FROM documents),
p AS (SELECT source, nt,
             sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM nt)
SELECT source, CAST(floor((cum - nt) / {PACK_BUDGET}.0) AS BIGINT) AS block_id,
       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS block_tokens
FROM p GROUP BY source, block_id
"""


# --- source mixing weights --------------------------------------------------


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for a uniform token mixture:
    weight = min(1, (total/n_sources) / source_tokens). Over-
    represented sources get down-sampled toward the uniform share;
    under-represented ones keep everything (weight 1). The standard
    first cut at rebalancing a web-scale mixture.

    Plan: per-source partial+final token sums (tiny result), crossed
    with a ONE-ROW global via broadcast nested loop (the q11 shape) —
    no window, no second scan."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select("source", _token_count(F.col("text")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("src_tokens"))
    )
    tot = src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("total_tokens").cast("double") / F.col("n_sources"))
                / F.col("src_tokens"),
            ),
            6,
        ).alias("weight"),
    )


def source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/multilingual sampling
    rule): sampling share p_s ∝ n_s^(1/τ) with τ=2, i.e. √-scaling —
    over-represented sources are compressed, the tail is boosted,
    without the hard uniform cap of `source_mix_weights`.

    Determinism note (why this keeps the module's exact-doubles
    pledge): the exponent is implemented as `sqrt`, which IEEE 754
    requires to be CORRECTLY ROUNDED — bit-identical across engines,
    unlike pow/ln. The Σ√ normalizer is a 20-term sum whose fold-order
    noise sits ~1e-16 relative, far below the 6dp round.

    Output: (source, src_tokens, raw_share, temp_share)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select("source", _token_count(F.col("text")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("src_tokens"))
    )
    tot = src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.sum(F.sqrt(F.col("src_tokens"))).alias("sqrt_norm"),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        F.round(F.col("src_tokens") / F.col("total_tokens"), 6).alias("raw_share"),
        F.round(F.sqrt(F.col("src_tokens")) / F.col("sqrt_norm"), 6).alias(
            "temp_share"
        ),
    )


MIX_TEMP_SQL = f"""
WITH nt AS (SELECT source, {_TOKCOUNT_SQL} AS nt FROM documents),
src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_tokens
        FROM nt GROUP BY source),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               sum(sqrt(src_tokens)) AS sqrt_norm FROM src)
SELECT source, src_tokens,
       round(src_tokens / CAST(total_tokens AS DOUBLE), 6) AS raw_share,
       round(sqrt(src_tokens) / sqrt_norm, 6) AS temp_share
FROM src CROSS JOIN tot
"""


MIX_SQL = f"""
WITH nt AS (SELECT source, {_TOKCOUNT_SQL} AS nt FROM documents),
src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_tokens
        FROM nt GROUP BY source),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_sources FROM src)
SELECT source, src_tokens,
       round(least(1.0, (total_tokens::DOUBLE / n_sources) / src_tokens), 6)
         AS weight
FROM src CROSS JOIN tot
"""


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixing weights: keep a doc when its salted key hash
    falls under the source's weight threshold — the deterministic
    Bernoulli(weight) sample that actually materializes the rebalanced
    mixture. Reported per source as kept/total counts.

    The threshold is round(weight * 1e6) compared against
    hash mod 1e6 — an INTEGER comparison in both engines, so the
    sample membership is reproducible anywhere (backfills pick
    exactly the same docs). Plan: tiny weights table broadcast onto
    the doc scan; per-row hash; partial/final agg."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    weights = source_mix_weights(spark, sf_dir).select("source", "weight")
    h = F.pmod(
        _poly_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    kept = (h < F.round(F.col("weight") * 1e6, 0).cast("bigint")).cast("int")
    return (
        docs.select("source", "doc_id")
        .join(F.broadcast(weights), "source")
        .select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )


_SAMPLE_H = _POLY_SQL.format(s="'sample:' || CAST(doc_id AS VARCHAR)")
WEIGHTED_SAMPLE_SQL = f"""
WITH nt AS (SELECT source, {_TOKCOUNT_SQL} AS nt FROM documents),
src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_tokens
        FROM nt GROUP BY source),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_sources FROM src),
w AS (SELECT source,
             round(least(1.0, (total_tokens::DOUBLE / n_sources) / src_tokens), 6)
               AS weight
      FROM src CROSS JOIN tot),
d AS (SELECT d.source,
             CASE WHEN (({_SAMPLE_H} % 1000000) + 1000000) % 1000000
                       < CAST(round(w.weight * 1e6, 0) AS BIGINT)
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN w USING (source))
SELECT source, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept
FROM d GROUP BY source
"""


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text normalization (the cleaning stage before
    dedup/tokenize): lowercase, strip non-alphanumerics, collapse
    whitespace. Emits the normalized length + content fingerprint
    rather than megabytes of normalized text. Pure per-row regex —
    codegen'd, zero shuffle."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    d = docs.select("doc_id", norm.alias("norm"))
    return d.select(
        "doc_id",
        F.length("norm").cast("bigint").alias("norm_len"),
        _poly_hash(F.col("norm")).alias("norm_fp"),
    )


NORMALIZE_SQL = f"""
WITH n AS (SELECT doc_id,
                  trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                         ' +', ' ', 'g')) AS norm
           FROM documents)
SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len,
       {_POLY_SQL.format(s='norm')} AS norm_fp
FROM n
"""


def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep funnel as ONE query — per source, how many
    docs survive each gate in sequence: raw → quality (repetition
    verdict) → near-dup canonical → decontaminated → train split →
    mixture-sampled, plus the token count that actually reaches
    tokenization. This is the report a pretraining data job publishes
    per run; every stage reuses the oracle-checked operator above it
    (and its memoized intermediates — postings, CC labels — so the
    funnel costs one extra pass of joins, not a pipeline re-run).

    Scale: four doc_id-keyed left joins of doc-count-sized flag
    tables + one broadcast weights join; a single partial/final agg.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    cc = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")
    cont = decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    weights = source_mix_weights(spark, sf_dir).select("source", "weight")
    split_h = F.pmod(
        _poly_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(SPLIT_BUCKETS),
    )
    samp_h = F.pmod(
        _poly_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    base = (
        docs.select("doc_id", "source", _token_count(F.col("text")).alias("nt"))
        .join(rep, "doc_id", "left")
        .join(cc, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .join(F.broadcast(weights), "source")
    )
    q = F.coalesce("q_keep", F.lit(False))
    c1 = q & F.coalesce("is_canonical", F.lit(False))
    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    c2 = c1 & ~is_bench & ~F.coalesce("contaminated", F.lit(False))
    c3 = c2 & (split_h < TRAIN_CUT)
    c4 = c3 & (samp_h < F.round(F.col("weight") * 1e6, 0).cast("bigint"))
    flagged = base.select(
        "source",
        "nt",
        q.alias("f_q"),
        c1.alias("f_c1"),
        c2.alias("f_c2"),
        c3.alias("f_c3"),
        c4.alias("f_c4"),
    )

    def n(flag: str):
        return F.sum(F.col(flag).cast("int")).cast("bigint")

    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        n("f_q").alias("n_quality"),
        n("f_c1").alias("n_canonical"),
        n("f_c2").alias("n_clean"),
        n("f_c3").alias("n_train"),
        n("f_c4").alias("n_final"),
        F.coalesce(F.sum(F.when(F.col("f_c4"), F.col("nt"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_final"),
    )


def _training_pipeline_sql() -> str:
    return f"""
WITH rep AS (SELECT doc_id, keep FROM ({REPETITION_SQL}) r0),
cc AS ({_dedup_clusters_sql()}),
cont AS (SELECT doc_id, contaminated FROM ({DECONTAMINATE_SQL}) c0),
ntd AS (SELECT doc_id, source, {_TOKCOUNT_SQL} AS nt FROM documents),
nt2 AS (SELECT source, {_TOKCOUNT_SQL} AS nt FROM documents),
src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_tokens
        FROM nt2 GROUP BY source),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_sources FROM src),
w AS (SELECT source,
             round(least(1.0, (total_tokens::DOUBLE / n_sources) / src_tokens), 6)
               AS weight
      FROM src CROSS JOIN tot),
flags AS (
  SELECT d.source, d.nt,
         coalesce(r.keep, false) AS f_q,
         (coalesce(r.keep, false) AND coalesce(cc.is_canonical, false)) AS f_c1,
         (coalesce(r.keep, false) AND coalesce(cc.is_canonical, false)
          AND NOT (d.doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM})
          AND NOT coalesce(c.contaminated, false)) AS f_c2,
         (({_POLY_SQL.format(s="'split:' || CAST(d.doc_id AS VARCHAR)")}
           % {SPLIT_BUCKETS} + {SPLIT_BUCKETS}) % {SPLIT_BUCKETS})
           < {TRAIN_CUT} AS is_train,
         (({_POLY_SQL.format(s="'sample:' || CAST(d.doc_id AS VARCHAR)")}
           % 1000000 + 1000000) % 1000000)
           < CAST(round(w.weight * 1e6, 0) AS BIGINT) AS sampled
  FROM ntd d
  LEFT JOIN rep r USING (doc_id)
  LEFT JOIN cc ON cc.doc_id = d.doc_id
  LEFT JOIN cont c USING (doc_id)
  JOIN w ON w.source = d.source)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN f_c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(sum(CASE WHEN f_c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN f_c2 AND is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN f_c2 AND is_train AND sampled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_final,
       CAST(coalesce(sum(CASE WHEN f_c2 AND is_train AND sampled THEN nt END), 0)
            AS BIGINT) AS tokens_final
FROM flags GROUP BY source
"""


# --- balanced shard assignment ----------------------------------------------

N_SHARD_BUCKETS = 64
N_SHARDS = 10


def shard_rank(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The distributed two-phase global rank over any (doc_id, ...)
    frame — shared by `balanced_shards` (whole corpus) and the
    corpus-build flagship (its survivor set): hash into
    N_SHARD_BUCKETS, 64-row prefix-sum window for per-bucket offsets,
    per-bucket row_number, shard = global rank mod N_SHARDS. Returns
    (doc_id, *carry, bucket, grank, shard)."""
    h = _poly_hash(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    dd = d.select(
        "doc_id", *carry, h.alias("h"),
        F.pmod(h, F.lit(N_SHARD_BUCKETS)).alias("bucket"),
    )
    counts = dd.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0))
    )
    w_rn = Window.partitionBy("bucket").orderBy("h", "doc_id")
    return (
        dd.withColumn("rn", F.row_number().over(w_rn))
        .join(F.broadcast(offsets.select("bucket", "off")), "bucket")
        .select(
            "doc_id",
            *carry,
            F.col("bucket").cast("int").alias("bucket"),
            (F.col("off") + F.col("rn") - 1).cast("bigint").alias("grank"),
            F.pmod(F.col("off") + F.col("rn") - 1, F.lit(N_SHARDS))
            .cast("int")
            .alias("shard"),
        )
    )


def balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-balanced training shards (|size_i − size_j| ≤ 1) under a
    deterministic pseudo-random order — round-robin over the global
    rank of each doc in (bucket, hash, doc_id) order.

    The interesting part is computing a GLOBAL dense rank without a
    global window over the data (which serializes 100 TB onto one
    task). Distributed two-phase ranking: (1) hash docs into
    N_SHARD_BUCKETS buckets and count per bucket — a bucket-count table
    of 64 rows; (2) the only global window runs over THAT table
    (prefix-sum of counts → per-bucket rank offset, 64 rows on one
    task by construction); (3) row_number within each bucket (one
    shuffle, parallel across buckets) + broadcast offset = exact global
    rank. shard = rank mod N_SHARDS — shard sizes provably differ by
    at most one, with no RNG state and membership recomputable from the
    key alone (same property hash_split_report relies on).
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return shard_rank(docs.select("doc_id")).select(
        "doc_id", "bucket", "grank", "shard"
    )


_SHARD_H = _POLY_SQL.format(s="'shard:' || CAST(doc_id AS VARCHAR)")
BALANCED_SHARDS_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SHARD_H} AS h FROM documents
), r AS (
  SELECT doc_id,
         ((h % {N_SHARD_BUCKETS}) + {N_SHARD_BUCKETS}) % {N_SHARD_BUCKETS} AS bucket,
         row_number() OVER (
           ORDER BY ((h % {N_SHARD_BUCKETS}) + {N_SHARD_BUCKETS}) % {N_SHARD_BUCKETS},
                    h, doc_id) - 1 AS grank
  FROM d
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CAST(grank AS BIGINT) AS grank,
       CAST(grank % {N_SHARDS} AS INT) AS shard
FROM r
"""


# --- corpus snapshot diff (CDC between dataset versions) --------------------

DIFF_REMOVE_MOD = 17  # doc_id % 17 == 3 -> dropped in v2
DIFF_EDIT_MOD = 13    # doc_id % 13 == 5 -> text edited in v2
DIFF_ADD_MOD = 19     # doc_id % 19 == 7 -> cloned as a new doc in v2
# synthetic added ids live in the NEGATIVE id space (-doc_id - 1):
# disjoint from any real nonnegative doc_id by construction, so the
# full-outer diff can never misclassify a collision (ADVICE r3) —
# unlike a fixed positive offset, which real ids could eventually reach


def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every document across two corpus
    versions as added / removed / modified / unchanged — the CDC pass
    a training-data pipeline runs between crawl snapshots to build
    incremental work lists instead of reprocessing 100 TB.

    v2 is derived deterministically from v1 (drop doc_id%17==3, edit
    text of doc_id%13==5, clone doc_id%19==7 under negative ids —
    -doc_id-1, disjoint from every real nonnegative id) so both
    engines construct identical snapshots. The diff itself is the
    scale-shaped part: each side reduces to (doc_id, content
    fingerprint) — an 8-byte-payload full-outer hash join, never a
    text comparison; classification is a CASE over null-ness and
    fingerprint inequality, then a partial+final count per status.
    """
    tune(spark)
    v1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    removed = (F.col("doc_id") % DIFF_REMOVE_MOD) == 3
    edited = (F.col("doc_id") % DIFF_EDIT_MOD) == 5
    base2 = v1.filter(~removed).withColumn(
        "text",
        F.when(edited, F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")),
    )
    added = v1.filter((F.col("doc_id") % DIFF_ADD_MOD) == 7).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    v2 = base2.unionByName(added)

    d1 = v1.select("doc_id", _poly_hash(F.col("text")).alias("fp1"))
    d2 = v2.select("doc_id", _poly_hash(F.col("text")).alias("fp2"))
    j = d1.join(d2, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp2").isNull(), F.lit("removed"))
        .when(F.col("fp1").isNull(), F.lit("added"))
        .when(F.col("fp1") != F.col("fp2"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(status.alias("status")).agg(F.count(F.lit(1)).alias("n_docs"))


CORPUS_DIFF_SQL = f"""
WITH v1 AS (SELECT doc_id, text FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DIFF_EDIT_MOD} = 5 THEN text || ' v2' ELSE text END AS text
  FROM v1 WHERE doc_id % {DIFF_REMOVE_MOD} <> 3
  UNION ALL
  SELECT -doc_id - 1, text FROM v1 WHERE doc_id % {DIFF_ADD_MOD} = 7
),
d1 AS (SELECT doc_id, {_POLY_SQL.format(s='text')} AS fp1 FROM v1),
d2 AS (SELECT doc_id, {_POLY_SQL.format(s='text')} AS fp2 FROM v2)
SELECT CASE WHEN fp2 IS NULL THEN 'removed'
            WHEN fp1 IS NULL THEN 'added'
            WHEN fp1 <> fp2 THEN 'modified'
            ELSE 'unchanged' END AS status,
       count(*) AS n_docs
FROM d1 FULL OUTER JOIN d2 USING (doc_id)
GROUP BY 1
"""


CAP_PER_SOURCE = 15  # test corpus has 25 docs/source — the cap must bind
# Knuth multiplicative hash over doc_id — a reproducible pseudo-random
# rank computable with identical integer arithmetic in both engines
# (xxhash64 has no DuckDB twin)
_KNUTH_A = 2654435761
_KNUTH_M = 2147483647


def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the anti-domination gate a corpus mix
    needs (one crawl dump must not swamp the mixture): keep at most
    CAP_PER_SOURCE docs per source, selected by a deterministic
    pseudo-random rank (Knuth multiplicative hash of doc_id) so the
    sample is unbiased w.r.t. position but fully reproducible. One
    window over the source partition — shuffle ∝ docs, state ∝ cap.
    Complements stratified_quality_sample (quality-ranked): this one
    is the uniform-rate limiter.

    Output: (source, doc_id, h) for the kept docs."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = (F.col("doc_id") * _KNUTH_A) % _KNUTH_M
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CAP_PER_SOURCE)
        .select("source", "doc_id", "h")
    )


PER_SOURCE_CAP_SQL = f"""
SELECT source, doc_id, h FROM (
  SELECT source, doc_id, (doc_id * {_KNUTH_A}) % {_KNUTH_M} AS h,
         row_number() OVER (PARTITION BY source
                            ORDER BY (doc_id * {_KNUTH_A}) % {_KNUTH_M}, doc_id) AS rn
  FROM documents
) WHERE rn <= {CAP_PER_SOURCE}
"""


# --- leakage-safe (out-of-fold) target encoding -----------------------------

TE_FOLDS = 5
TE_ALPHA = 20  # Laplace-smoothing pseudo-count toward the global prior
TE_LABEL_CHARS = 200  # target: y = [n_chars >= 200] (ml.logreg's label)


def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of `source`: the leakage-safe
    categorical feature encoder (CatBoost-style K-fold scheme). For a
    row in fold f, the encoding is the smoothed target mean computed
    over every OTHER fold — (S_src − S_src,f + α·p_global) /
    (n_src − n_src,f + α) — so a row never sees its own label, the
    target-leakage failure mode of naive mean encoding.

    Folds are the salted-hash split discipline (reproducible from the
    key alone); all counts are exact integers, the encoding is one
    shared-text double expression rounded to 6dp. Plan: ONE
    partial+final (source, fold) aggregation (cardinality sources×K —
    broadcast-trivial at any corpus size) + the one-row global prior;
    per-row application downstream is a broadcast join. Output is the
    (source, fold) encoding table itself — the artifact a feature
    pipeline persists."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    fold = F.pmod(
        _poly_hash(F.concat(F.lit("te:"), F.col("doc_id").cast("string"))),
        F.lit(TE_FOLDS),
    )
    base = docs.select(
        "source",
        fold.alias("fold"),
        F.expr(f"CASE WHEN n_chars >= {TE_LABEL_CHARS} THEN 1 ELSE 0 END").alias("y"),
    )
    per = base.groupBy("source", "fold").agg(
        F.count(F.lit(1)).alias("n_f"), F.sum("y").alias("s_f")
    )
    per_src = per.groupBy("source").agg(
        F.sum("n_f").alias("n_s"), F.sum("s_f").alias("s_s")
    )
    glob = per.groupBy().agg(
        F.sum("n_f").alias("n_g"), F.sum("s_f").alias("s_g")
    )
    # snap, don't round: the encoding is an arbitrary rational whose
    # denominator (n_s - n_f + α) can be 2^a·5^b — a terminating decimal
    # where round(x, 6) diverges between engines (FIXTURES rule 2)
    enc = (
        "cast(round((s_s - s_f + {a} * (s_g / cast(n_g as double)))"
        " / cast(n_s - n_f + {a} as double) * 1e6) as bigint) / 1e6"
    ).format(a=TE_ALPHA)
    return (
        per.join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(glob))
        .selectExpr(
            "source",
            "CAST(fold AS INT) AS fold",
            "n_f",
            f"{enc} AS encoding",
        )
    )


_TE_H = _POLY_SQL.format(s="'te:' || CAST(doc_id AS VARCHAR)")
TARGET_ENCODING_SQL = f"""
WITH base AS (
  SELECT source,
         (({_TE_H} % {TE_FOLDS}) + {TE_FOLDS}) % {TE_FOLDS} AS fold,
         CASE WHEN n_chars >= {TE_LABEL_CHARS} THEN 1 ELSE 0 END AS y
  FROM documents
), per AS (
  SELECT source, fold, count(*) AS n_f, sum(y) AS s_f
  FROM base GROUP BY source, fold
), per_src AS (
  SELECT source, sum(n_f) AS n_s, sum(s_f) AS s_s FROM per GROUP BY source
), gtot AS (SELECT sum(n_f) AS n_g, sum(s_f) AS s_g FROM per)
SELECT p.source, CAST(p.fold AS INT) AS fold, CAST(p.n_f AS BIGINT) AS n_f,
       CAST(round((s.s_s - p.s_f + {TE_ALPHA} * (g.s_g / CAST(g.n_g AS DOUBLE)))
             / CAST(s.n_s - p.n_f + {TE_ALPHA} AS DOUBLE) * 1e6) AS BIGINT) / 1e6
         AS encoding
FROM per p JOIN per_src s USING (source) CROSS JOIN gtot g
"""


# --- quality-gate funnel -----------------------------------------------------

FUNNEL_MIN_CHARS = 100   # gate 1: document length floor
FUNNEL_MIN_TOKS = 20     # gate 2: token-count floor
FUNNEL_WLEN_LO = 3       # gate 3: mean word length in [3, 10] — integer
FUNNEL_WLEN_HI = 10      #         cross-multiplied, never a float divide
FUNNEL_STOP_MIN = 2      # gate 4: ≥2 stop-marker tokens ('a'/'the') — the
FUNNEL_STOPS = ("a", "the")  # C4 "natural prose" signal
# gate 5: distinct-token ratio ≥ 1/2 (2·distinct ≥ n) — loop catcher


def quality_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered quality-gate funnel with first-fail attribution — the
    acceptance report every published corpus pipeline (C4, CCNet,
    Gopher, RefinedWeb) ships: each document flows through the gate
    sequence (length → token count → mean word length → stopword
    signal → repetition) and is charged to the FIRST gate it fails, so
    per-gate rejection counts sum to the corpus and the marginal cost
    of each rule is visible (a rule that rejects nothing new is free
    to drop).

    Every decision is exact-integer (counts and cross-multiplied
    ratios — no float thresholds), so both engines agree on every
    document. Plan: one scan, pure per-row array/regex codegen (no
    join, no window), one partial+final (source, stage) aggregate —
    cardinality sources × 6, broadcast-trivial at 100 TB; the shares
    are snapped per FIXTURES rule 2.

    Output: (source, stage, n_docs, share) — stage ∈ gate names ∪
    'pass'; share = n_docs / source total on the 1e-6 grid."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    per = funnel_staged(docs).groupBy("source", "stage").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return funnel_report_from_counts(per)


def funnel_staged(
    docs: DataFrame,
    keys: tuple[str, ...] = ("source",),
    extras: tuple[str, ...] = (),
) -> DataFrame:
    """(*keys, *extras, stage) per document — the per-row gate cascade,
    pure codegen; shared verbatim by the streaming twin
    (keys=('source',)) and the corpus-build flagship
    (keys=('doc_id','source'), extras=('nt',)) so every consumer
    charges each document to the identical gate. `extras` exposes the
    gate's own intermediate measures (nc/nt/sl/nstop/nd) so a caller
    that also needs the token count pays one scan, not a re-tokenize."""
    toks = tokens(F.col("text"))
    stops = ", ".join(f"'{w}'" for w in FUNNEL_STOPS)
    return docs.select(
        *keys,
        F.col("n_chars").alias("nc"),
        F.size(toks).cast("bigint").alias("nt"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("bigint").alias("sl"),
        F.expr(
            f"cast(size(filter({_TOKS_EXPR}, x -> x IN ({stops}))) as bigint)"
        ).alias("nstop"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("nd"),
    ).select(
        *keys,
        *extras,
        F.expr(
            f"""CASE
              WHEN nc < {FUNNEL_MIN_CHARS} THEN 'len'
              WHEN nt < {FUNNEL_MIN_TOKS} THEN 'ntok'
              WHEN sl < {FUNNEL_WLEN_LO} * nt
                OR sl > {FUNNEL_WLEN_HI} * nt THEN 'wordlen'
              WHEN nstop < {FUNNEL_STOP_MIN} THEN 'stop'
              WHEN 2 * nd < nt THEN 'rep'
              ELSE 'pass' END"""
        ).alias("stage"),
    )


def funnel_report_from_counts(per: DataFrame) -> DataFrame:
    """Presentation fold over a (source, stage, n_docs) count table —
    shares snapped per FIXTURES rule 2; shared by the streaming twin
    (whose count table IS its drained state)."""
    share = F.expr(
        "cast(round(n_docs / sum(n_docs) OVER (PARTITION BY source) * 1e6)"
        " as bigint) / 1e6"
    )
    return per.select("source", "stage", "n_docs", share.alias("share"))


# Spark-side tokens() inlined for the filter() lambda above (same fold
# as functions.text.tokens).
_TOKS_EXPR = (
    "CASE WHEN trim(text) = '' THEN cast(array() as array<string>) "
    "ELSE split(trim(text), '\\\\s+') END"
)

_FUNNEL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)
_FUNNEL_STOPS = ", ".join(f"'{w}'" for w in FUNNEL_STOPS)
QUALITY_FUNNEL_SQL = f"""
WITH t AS (
  SELECT source, n_chars AS nc,
         len({_FUNNEL_TOKS}) AS nt,
         len(regexp_replace(text, '\\s', '', 'g')) AS sl,
         len(list_filter({_FUNNEL_TOKS}, x -> x IN ({_FUNNEL_STOPS}))) AS nstop,
         len(list_distinct({_FUNNEL_TOKS})) AS nd
  FROM documents
), staged AS (
  SELECT source,
         CASE WHEN nc < {FUNNEL_MIN_CHARS} THEN 'len'
              WHEN nt < {FUNNEL_MIN_TOKS} THEN 'ntok'
              WHEN sl < {FUNNEL_WLEN_LO} * nt
                OR sl > {FUNNEL_WLEN_HI} * nt THEN 'wordlen'
              WHEN nstop < {FUNNEL_STOP_MIN} THEN 'stop'
              WHEN 2 * nd < nt THEN 'rep'
              ELSE 'pass' END AS stage
  FROM t
), per AS (
  SELECT source, stage, count(*) AS n_docs FROM staged GROUP BY 1, 2
)
SELECT source, stage, n_docs,
       CAST(round(n_docs / sum(n_docs) OVER (PARTITION BY source) * 1e6)
            AS BIGINT) / 1e6 AS share
FROM per
"""


# --- semantic (embedding-space) decontamination ------------------------------

SEMDECON_N_BENCH = 25  # benchmark set: vec_id < 25 (the probe convention)
SEMDECON_TAU = 0.40  # fixture-scale threshold: the synthetic embeddings are
# near-orthogonal (corpus max cosine-to-benchmark ≈ 0.49, p99 ≈ 0.41), so a
# production-style 0.95 gate would be vacuously green at test scale; 0.40
# exercises both branches. The THRESHOLD is the parameter; the plan is
# unchanged at any τ.


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: drop every corpus vector whose
    max cosine similarity to ANY benchmark vector reaches τ — the
    semantic sibling of the n-gram `decontaminate` / containment gates
    (catches paraphrased benchmark leakage that token overlap misses;
    the gate LLM-pretraining pipelines run next to exact-match decon).
    Per label: corpus size, removed/kept counts, and the hottest
    similarity actually observed.

    Exact shape: cosines are snapped to 4dp (the ANN selection
    contract) so the τ comparison never straddles an ulp; the per-
    vector max and the per-label counts are plain aggregates. The
    benchmark side (≤{SEMDECON_N_BENCH} rows) broadcasts into the
    scoring join — at test scale that is the exact brute-force pass;
    at 100 TB the SAME gate consumes the IVF/LSH candidate join
    (ivf.py / similarity.py) instead of the full cross product, τ and
    everything downstream unchanged."""
    tune(spark)
    from spec_search_spark.functions.vector import dot, norm
    from spec_search_spark.session import spread

    # spread: the bench-cross scoring is pure per-row compute on the
    # local single-row-group scan's one core (profiled: one 1.5s
    # 1-task stage was the whole slot; guarded no-op at scale). Norms
    # are folded ONCE per side and joined along, so each of the
    # N_BENCH pairs per corpus vector pays one dot fold instead of
    # dot + both norms — cos = dot/(n1·n2) sees bit-identical double
    # operands, so the 4dp-snapped sims (and the oracle) are unchanged.
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    bench = emb.filter(F.col("vec_id") < SEMDECON_N_BENCH).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        norm(F.col("embedding")).alias("b_norm"),
    )
    corpus = emb.filter(F.col("vec_id") >= SEMDECON_N_BENCH).select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("c_norm")
    )
    per_vec = (
        corpus.join(F.broadcast(bench))
        .select(
            "vec_id",
            "label",
            F.round(
                dot(F.col("embedding"), F.col("b_vec"))
                / (F.col("c_norm") * F.col("b_norm")),
                4,
            ).alias("sim"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("sim").alias("max_sim"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.sum(
                F.when(F.col("max_sim") >= SEMDECON_TAU, 1).otherwise(0)
            ).cast("bigint").alias("n_removed"),
            F.max("max_sim").alias("hottest_sim"),
        )
        .selectExpr(
            "label",
            "cast(n_corpus as bigint) AS n_corpus",
            "n_removed",
            "cast(n_corpus as bigint) - n_removed AS n_kept",
            "hottest_sim",
        )
        .orderBy("label")
    )


def _semdecon_sql() -> str:
    from spec_search_spark.functions.vector import cosine_similarity_sql

    cos = cosine_similarity_sql("c.embedding", "b.b_vec")
    return f"""
WITH bench AS (
  SELECT vec_id AS b_id, embedding AS b_vec FROM embeddings
  WHERE vec_id < {SEMDECON_N_BENCH}
),
per_vec AS (
  SELECT c.vec_id, c.label, max(round({cos}, 4)) AS max_sim
  FROM embeddings c CROSS JOIN bench b
  WHERE c.vec_id >= {SEMDECON_N_BENCH}
  GROUP BY c.vec_id, c.label
)
SELECT label, CAST(count(*) AS BIGINT) AS n_corpus,
       CAST(sum(CASE WHEN max_sim >= {SEMDECON_TAU} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(count(*) AS BIGINT)
         - CAST(sum(CASE WHEN max_sim >= {SEMDECON_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
       max(max_sim) AS hottest_sim
FROM per_vec GROUP BY label ORDER BY label
"""


QUERIES = {
    "decontaminate": decontaminate,
    "semantic_decontamination": semantic_decontamination,
    "quality_funnel_report": quality_funnel_report,
    "contamination_containment": contamination_containment,
    "target_encoding_oof": target_encoding_oof,
    "leakage_safe_split": leakage_safe_split,
    "weighted_reservoir_sample": weighted_reservoir_sample,
    "dedup_survivors": dedup_survivors,
    "repetition_filters": repetition_filters,
    "hash_split_report": hash_split_report,
    "tfidf_top_terms": tfidf_top_terms,
    "token_pack_blocks": token_pack_blocks,
    "source_mix_weights": source_mix_weights,
    "source_mix_temperature": source_mix_temperature,
    "weighted_sample": weighted_sample,
    "normalize_text": normalize_text,
    "training_pipeline_e2e": training_pipeline_e2e,
    "balanced_shards": balanced_shards,
    "corpus_diff": corpus_diff,
    "per_source_cap": per_source_cap,
}

ORACLES = {
    "decontaminate": DECONTAMINATE_SQL,
    "semantic_decontamination": _semdecon_sql(),
    "quality_funnel_report": QUALITY_FUNNEL_SQL,
    "contamination_containment": CONTAINMENT_SQL,
    "target_encoding_oof": TARGET_ENCODING_SQL,
    "leakage_safe_split": _leakage_safe_split_sql(),
    "weighted_reservoir_sample": WRS_SQL,
    "dedup_survivors": _dedup_survivors_sql(),
    "repetition_filters": REPETITION_SQL,
    "hash_split_report": HASH_SPLIT_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "token_pack_blocks": PACK_SQL,
    "source_mix_weights": MIX_SQL,
    "source_mix_temperature": MIX_TEMP_SQL,
    "weighted_sample": WEIGHTED_SAMPLE_SQL,
    "normalize_text": NORMALIZE_SQL,
    "training_pipeline_e2e": _training_pipeline_sql(),
    "balanced_shards": BALANCED_SHARDS_SQL,
    "corpus_diff": CORPUS_DIFF_SQL,
    "per_source_cap": PER_SOURCE_CAP_SQL,
}
