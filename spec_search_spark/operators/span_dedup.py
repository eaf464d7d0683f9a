"""Span-level exact substring deduplication (Lee et al., "Deduplicating
Training Data Makes Language Models Better", 2021) — the token-window
generalization of whole-document exact dedup in `operators/dedup.py`.

The reference's only dedup is whole-row upsert-by-composite-id
(`/root/reference/indexer.py:56`); span dedup is the missing member of
the dedup family a 100 TB training-data pipeline runs FIRST: find every
K-token window that appears in more than one document, merge the
overlapping hits into maximal duplicated spans per document, and gate
documents whose duplicated-token coverage is too high.

Scale design (the suffix-array of the paper, re-expressed shuffle-first):
- windows are hashed to an 8-byte polynomial fingerprint BEFORE the
  shuffle — shuffle bytes ∝ positions × 8, never ∝ text. The fingerprint
  fold is the shared FP_BASE/FP_MOD constants, so the DuckDB oracle is
  bit-identical.
- duplicate detection is one partial+final aggregation on the
  fingerprint (map-side combine collapses repeats within a partition);
  the join back to positions is an equi-join on the same 8-byte key.
- span merging is a per-document sort (windowed gaps-and-islands) —
  partitioned by doc_id, so it scales with the largest document, not
  the corpus.
- at 100 TB: K=50 (the paper's choice), plus a hot-window cap analogous
  to MAX_SHINGLE_DF in dedup.py — windows with document-frequency above
  the cap (boilerplate headers/footers) connect near-everything and can
  be routed to a dedicated boilerplate report instead of the pair path.
  K=6 here only because the test corpus's documents are ~25 tokens.

No quadratic path exists: cost is O(total tokens) map-side + one
fingerprint shuffle, vs the naive all-pairs substring comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, session_memo
from spec_search_spark.functions.text import (
    FP_BASE,
    FP_MOD,
    RE_TOKEN_SPLIT,
    make_poly_hash_udf,
)

K_WINDOW = 6  # tokens per window; 50 at production scale (see module doc)

_POLY_HASH_UDF = make_poly_hash_udf()

_POLY_SQL = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(regexp_extract_all({s}, '[\\s\\S]'), c -> ord(c)::BIGINT)), "
    f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
)


def _tokens(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, RE_TOKEN_SPLIT)
    )


# second-level combine base for rolling the K token hashes into one
# window fingerprint: (P-1)*COMBINE_B + (P-1) < 2^52 — no int64 overflow
COMBINE_B = 1_000_003

# Memoized: the hit table is an index-shaped artifact (the span-dedup
# analog of dedup.py's minhash postings memo) — `dup_spans_merged` and
# `span_dup_ratio` both consume it, and recomputing the tokenize→hash→
# fingerprint→join pipeline per caller doubled the pair's steady-state
# cost.
@session_memo
def _window_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos) for every K-token window whose fingerprint occurs
    in ≥2 distinct documents. Positions are 0-based token offsets.

    Fingerprints are two-level: each DISTINCT token is poly-hashed once
    (vocabulary-sized Arrow work, the dedup.py hash-per-distinct
    pattern), then the K-window fingerprint is a pure-integer fold of
    the K token hashes via lead() over the in-doc position order —
    no window strings are ever built and the Python/Arrow boundary
    sees each distinct token exactly once. (The earlier form hashed
    the concat of every 6-token window: ~6× the characters through
    Arrow plus a concat_ws per position — measured 2.5s → ~1s at
    sf0.1.) Tokens are atomic units, so the token-hash fold cannot
    confuse regroupings the string concat would distinguish."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    vocab = (
        toks.select("tok").distinct().select("tok", _POLY_HASH_UDF("tok").alias("th"))
    )
    # vocab is corpus-bounded; at 100 TB this join takes the
    # BROADCAST_VOCAB_MAX shuffle fallback exactly like dedup.py
    hashed = toks.join(F.broadcast(vocab), "tok").select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "th"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    fp = F.col("th")
    for j in range(1, K_WINDOW):
        fp = (fp * COMBINE_B + F.lead("th", j).over(w)) % FP_MOD
    wins = hashed.select("doc_id", "pos", fp.alias("wh")).filter(
        F.col("wh").isNotNull()  # trailing positions with no full window
    )

    dup = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("wh")
    )
    return pin(wins.join(dup, "wh").select("doc_id", "pos"))[0]


def dup_spans_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document: overlapping or
    adjacent duplicated K-windows merged by gaps-and-islands.

    Output: (doc_id, span_start, span_end, span_len) with 0-based
    inclusive token offsets."""
    hits = _window_hits(spark, sf_dir)

    w = Window.partitionBy("doc_id").orderBy("pos")
    # equal-length intervals sorted by start have monotone ends, so the
    # running-max-end of general interval merging reduces to lag(pos):
    # a new island starts when this window no longer overlaps-or-touches
    # the previous one ([p_prev, p_prev+K-1] vs [pos, ...], gap iff
    # pos > p_prev + K).
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + K_WINDOW),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = hits.select(
        "doc_id", "pos", F.sum(brk).over(w).alias("island")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + K_WINDOW - 1).alias("span_end"),
            (F.max("pos") + K_WINDOW - F.min("pos")).alias("span_len"),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
    )


def span_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token coverage and the keep/drop gate
    (the paper's actual use: drop documents that are mostly duplicated
    content). Merged spans never overlap, so summing span_len is exact.

    Output: (doc_id, n_tok, dup_tok, dup_ratio, keep)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ntok = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    spans = dup_spans_merged(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_len").alias("dup_tok"))
    joined = ntok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("dup_tok"), F.lit(0)).cast("long").alias("dup_tok"),
    )
    ratio = F.when(F.col("n_tok") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("dup_tok") / F.col("n_tok"), 6)
    )
    return joined.select(
        "doc_id",
        "n_tok",
        "dup_tok",
        ratio.alias("dup_ratio"),
        (ratio <= 0.5).alias("keep"),
    )


def _fold_sql() -> str:
    expr = "th"
    for j in range(1, K_WINDOW):
        expr = f"(({expr}) * {COMBINE_B} + lead(th, {j}) OVER w) % {FP_MOD}"
    return expr


_HITS_SQL = f"""
tkarr AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
),
toks AS (
  SELECT doc_id, (i - 1)::BIGINT AS pos, tk[i] AS tok
  FROM tkarr, LATERAL unnest(range(1, len(tk) + 1)) AS t(i)
),
vocab AS (
  SELECT tok, {_POLY_SQL.format(s='tok')} AS th
  FROM (SELECT DISTINCT tok FROM toks)
),
hashed AS (SELECT doc_id, pos, th FROM toks JOIN vocab USING (tok)),
wins AS (
  SELECT doc_id, pos, wh FROM (
    SELECT doc_id, pos, {_fold_sql()} AS wh
    FROM hashed WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE wh IS NOT NULL
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (wh)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {K_WINDOW} THEN 1 ELSE 0 END AS brk
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id,
         min(pos) AS span_start,
         max(pos) + {K_WINDOW} - 1 AS span_end,
         max(pos) + {K_WINDOW} - min(pos) AS span_len
  FROM isl GROUP BY doc_id, island
)
"""

DUP_SPANS_SQL = f"""
WITH {_HITS_SQL}
SELECT doc_id, span_start, span_end, span_len FROM merged
"""

SPAN_RATIO_SQL = f"""
WITH {_HITS_SQL},
ntok AS (SELECT doc_id, len(tk)::BIGINT AS n_tok FROM tkarr),
per_doc AS (SELECT doc_id, sum(span_len) AS dup_tok FROM merged GROUP BY doc_id)
SELECT n.doc_id, n.n_tok,
       coalesce(p.dup_tok, 0)::BIGINT AS dup_tok,
       CASE WHEN n.n_tok = 0 THEN 0.0
            ELSE round(coalesce(p.dup_tok, 0) / n.n_tok, 6) END AS dup_ratio,
       (CASE WHEN n.n_tok = 0 THEN 0.0
             ELSE round(coalesce(p.dup_tok, 0) / n.n_tok, 6) END) <= 0.5 AS keep
FROM ntok n LEFT JOIN per_doc p ON n.doc_id = p.doc_id
"""

# --- content-defined chunking dedup (FastCDC/LBFS shape on tokens) ----------

CDC_DIVISOR = 8  # boundary where token-hash % D == 0 → ~D-token chunks


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup economics (the rsync/LBFS/FastCDC
    storage-side dedup, on tokens): chunk boundaries fall where a
    token's content hash ≡ 0 (mod D) — insertion-stable, unlike
    fixed-size blocks, because boundaries move WITH the content — each
    chunk gets an order-sensitive fingerprint, and the report prices
    storing every DISTINCT chunk once. `span_dedup` finds what
    training should drop; THIS prices what a content store can share.

    All-integer plan: per-token hashes come from the vocabulary-sized
    Arrow pass (the `_window_hits` pattern); chunk assignment is an
    exclusive running count of boundary tokens per doc (doc-partitioned
    window — scales with the largest document); chunk fingerprints are
    the COMBINE_B fold of token hashes in position order; the economics
    are two partial+final aggregations over (fingerprint).

    Output: one row — n_chunks, n_distinct, n_shared (df≥2),
    total_tokens, stored_tokens, dedup_ratio (snapped)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    vocab = (
        toks.select("tok").distinct().select(
            "tok", _POLY_HASH_UDF("tok").alias("th")
        )
    )
    hashed = toks.join(F.broadcast(vocab), "tok").select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "th"
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.expr(f"CASE WHEN th % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END")
    chunked = hashed.select(
        "doc_id",
        "pos",
        "th",
        F.coalesce(F.sum(brk).over(w), F.lit(0)).alias("cid"),
    )
    arr = F.array_sort(F.collect_list(F.struct("pos", "th")))
    per_chunk = chunked.groupBy("doc_id", "cid").agg(
        F.count(F.lit(1)).alias("clen"), arr.alias("arr")
    )
    fp = F.aggregate(
        F.transform(F.col("arr"), lambda s: s["th"]),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * COMBINE_B + x) % FP_MOD,
    )
    chunks = per_chunk.select("clen", fp.alias("fp"))
    per_fp = chunks.groupBy("fp").agg(
        F.count(F.lit(1)).alias("df"), F.max("clen").alias("clen")
    )
    return per_fp.selectExpr(
        "cast(sum(df) as bigint) AS n_chunks",
        "count(*) AS n_distinct",
        "cast(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) as bigint)"
        " AS n_shared",
        "cast(sum(df * clen) as bigint) AS total_tokens",
        "cast(sum(clen) as bigint) AS stored_tokens",
        "cast(round((1.0 - sum(clen) / cast(sum(df * clen) as double))"
        " * 1e6) as bigint) / 1e6 AS dedup_ratio",
    )


CDC_CHUNK_SQL = f"""
WITH tkarr AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
),
toks AS (
  SELECT doc_id, (i - 1)::BIGINT AS pos, tk[i] AS tok
  FROM tkarr, LATERAL unnest(range(1, len(tk) + 1)) AS t(i)
),
vocab AS (
  SELECT tok, {_POLY_SQL.format(s='tok')} AS th
  FROM (SELECT DISTINCT tok FROM toks)
),
hashed AS (SELECT doc_id, pos, th FROM toks JOIN vocab USING (tok)),
chunked AS (
  SELECT doc_id, pos, th,
         coalesce(sum(CASE WHEN th % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cid
  FROM hashed
),
chunks AS (
  SELECT count(*) AS clen,
         list_reduce(list_prepend(0::BIGINT, list(th ORDER BY pos)),
                     (acc, x) -> (acc * {COMBINE_B} + x) % {FP_MOD}) AS fp
  FROM chunked GROUP BY doc_id, cid
),
per_fp AS (
  SELECT fp, count(*) AS df, max(clen) AS clen FROM chunks GROUP BY fp
)
SELECT CAST(sum(df) AS BIGINT) AS n_chunks,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(df * clen) AS BIGINT) AS total_tokens,
       CAST(sum(clen) AS BIGINT) AS stored_tokens,
       CAST(round((1.0 - sum(clen) / CAST(sum(df * clen) AS DOUBLE))
            * 1e6) AS BIGINT) / 1e6 AS dedup_ratio
FROM per_fp
"""


QUERIES = {
    "dup_spans_merged": dup_spans_merged,
    "span_dup_ratio": span_dup_ratio,
    "cdc_chunk_dedup": cdc_chunk_dedup,
}

ORACLES = {
    "dup_spans_merged": DUP_SPANS_SQL,
    "span_dup_ratio": SPAN_RATIO_SQL,
    "cdc_chunk_dedup": CDC_CHUNK_SQL,
}
