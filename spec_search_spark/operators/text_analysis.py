"""Text-analysis operator pack over `documents` (SURVEY.md §2.8 F4 +
north-star text ops): chunking, token stats, language guess, quality
scoring, rolling-hash fingerprinting.

All hot-path expressions are built-in functions (regexp, split,
higher-order folds) — JVM-side, codegen'd, no Python per row. The only
UDF is the recursive chunker (reference parity, `indexer.py:62-66`),
which is property-tested and exposed rows-only (no SQL oracle — the
recursive separator fallback is not SQL-expressible).

Scale: every op here is embarrassingly parallel (narrow, per-row);
chunk-explode grows row count ~n_chars/stride ×, which is why the
chunker runs AFTER filters and BEFORE the embedder in the V1 pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import (
    chunk_at,
    chunk_fixed_sql,
    chunk_indices,
    fingerprint,
    fingerprint_sql,
    lang_guess,
    lang_guess_sql,
    make_chunk_udf,
    quality_score,
    quality_score_sql,
    token_count,
    tokens,
)
from spec_search_spark.functions.text import STOPWORDS
from spec_search_spark.session import local_df, pin, session_memo, spread, tune

CHUNK_SIZE = 120  # scaled-down from the reference's 1000 so the ~300-char
CHUNK_OVERLAP = 30  # test docs actually produce multi-chunk output


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, "documents")


def chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (expression form): fixed-stride overlapping chunks via
    sequence+explode+substring — pure codegen, SQL-oracle-able."""
    docs = _docs(spark, sf_dir)
    idx = F.explode(chunk_indices(F.col("text"), CHUNK_SIZE, CHUNK_OVERLAP)).alias("chunk_idx")
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", idx, "text")
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            chunk_at(F.col("text"), F.col("chunk_idx"), CHUNK_SIZE, CHUNK_OVERLAP).alias(
                "chunk"
            ),
        )
    )


_CF = chunk_fixed_sql(CHUNK_SIZE, CHUNK_OVERLAP)
CHUNK_FIXED_SQL = f"""
SELECT doc_id, CAST(i AS INT) AS chunk_idx, {_CF['chunk']} AS chunk
FROM (
  SELECT doc_id, text, unnest(range(0, {_CF['n_chunks']})) AS i
  FROM documents
  WHERE text IS NOT NULL AND text <> ''
) t
"""


def chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (reference-parity form): recursive separator-fallback chunker
    UDF + posexplode — raw (doc_id, chunk_idx, chunk) rows."""
    docs = _docs(spark, sf_dir)
    chunker = make_chunk_udf(CHUNK_SIZE, CHUNK_OVERLAP)
    return docs.select(
        "doc_id", F.posexplode(chunker(F.col("text"))).alias("chunk_idx", "chunk")
    )


def chunk_recursive_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness-facing, self-verifying recursive chunker: the splitter's
    separator-fallback recursion is not SQL-expressible, so the
    registered query outputs the per-doc invariant set — every
    non-empty doc chunks (has_chunks), every chunk respects the size
    bound, no chunk is empty — and the oracle pins all three per
    doc_id. The byte-level splitting semantics remain covered by the
    property suite (tests/test_functions.py)."""
    docs = _docs(spark, sf_dir)
    agg = chunk_recursive(spark, sf_dir).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.length("chunk")).alias("maxlen"),
        F.min(F.length("chunk")).alias("minlen"),
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        (F.coalesce(F.col("n"), F.lit(0)) >= 1).alias("has_chunks"),
        (F.coalesce(F.col("maxlen"), F.lit(0)) <= CHUNK_SIZE).alias("all_within_size"),
        (F.coalesce(F.col("minlen"), F.lit(1)) >= 1).alias("all_nonempty"),
    )


CHUNK_RECURSIVE_CHECK_SQL = """
SELECT doc_id,
       (text IS NOT NULL AND text <> '') AS has_chunks,
       true AS all_within_size,
       true AS all_nonempty
FROM documents
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, char stats, mean token length."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(
            F.when(
                token_count(F.col("text")) > 0,
                total_tok_chars.cast("double") / token_count(F.col("text")),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE list_reduce(
                         list_prepend(0::BIGINT,
                           list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                          t -> length(t)::BIGINT)),
                         (a, x) -> a + x)::DOUBLE
                       / len(regexp_split_to_array(trim(text), '\\s+'))
             END, 4) AS avg_token_len
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic vs. the labeled `lang` column."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        "lang",
        lang_guess(F.col("text")).alias("lang_guess"),
    )


LANG_ID_SQL = f"""
SELECT doc_id, lang, {lang_guess_sql("text")} AS lang_guess
FROM documents
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    language heuristic against the labeled `lang` column, with
    per-true-label recall — the accuracy report any lang-ID gate needs
    before it filters a corpus. One partial+final count on the
    (label, guess) pair; the matrix is |langs|² rows at any corpus
    size; recall is an exact rational divided as doubles."""
    docs = _docs(spark, sf_dir)
    pairs = (
        docs.select("lang", lang_guess(F.col("text")).alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("lang")
    return pairs.select(
        "lang",
        "guess",
        "n",
        F.expr(
            "cast(round(n / sum(n) OVER (PARTITION BY lang) * 1e6) as bigint) / 1e6"
        ).alias("share_of_label"),
    )


LANG_CONFUSION_SQL = f"""
WITH pairs AS (
  SELECT lang, {lang_guess_sql("text")} AS guess, count(*) AS n
  FROM documents GROUP BY 1, 2)
SELECT lang, guess, n,
       CAST(round(n / sum(n) OVER (PARTITION BY lang) * 1e6) AS BIGINT) / 1e6 AS share_of_label
FROM pairs
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality score + per-source aggregate view."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )


QUALITY_SQL = f"""
SELECT doc_id, source, {quality_score_sql("text")} AS quality
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprints (8-byte dedup keys; see
    functions.text.fingerprint for the scale rationale)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


FINGERPRINT_SQL = f"""
SELECT doc_id, {fingerprint_sql("text")} AS fp
FROM documents
"""


KEEP_PCT_NUM, KEEP_PCT_DEN = 1, 5  # keep the top 1/5 per source
QS_BUCKETS = 64  # per-source quality-range buckets for the skew-proof rank


def stratified_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate: keep the top 20% of each source's docs
    by quality score — stratified curation (prune within every domain,
    never let one good domain crowd out the rest), the selection pass
    that follows quality_scores in a corpus pipeline.

    Exact integer cutoff: keep rank <= ceil(count/5) per source, rank
    by (quality desc, doc_id) so ties resolve identically everywhere.

    Skew-proof rank (r5 verdict item 4): a window partitioned only by
    `source` serializes a giant source onto one task at 100×. Instead
    the per-source quality range is split into {QS_BUCKETS} buckets
    (descending: bucket 0 = best) from a ≤#sources-row broadcast
    bounds table; row_number runs per (source, bucket) — parallel even
    under source skew — and each bucket's exclusive offset comes from
    a broadcast triangular self-join over the (source, bucket) count
    table (same two-phase prefix-sum shape as rank_stats._bucketed_cum
    and balanced_shards). Equal qualities always land in one bucket
    (bucket is a function of quality), so the doc_id tie-break never
    straddles a window; bucket monotonicity (q1 > q2 → bucket(q1) ≤
    bucket(q2)) makes offset + local rank the exact global rank.

    Adaptive like `rank_stats._bucketed_cum`: the scored table is
    materialized once (quality_score is the expensive expression — it
    otherwise recomputes in every two-phase subtree), and at or under
    RANK_SMALL_MAX rows the rank runs as a plain per-source window —
    no source is big enough to serialize a task at that size, and the
    bucket machinery's extra stages were the VERDICT-r6 ×1.8 toy-scale
    constant on this slot.
    """
    from spec_search_spark.operators.rank_stats import _rank_small_max

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    scored, n = pin(scored)
    if n <= _rank_small_max():
        w_src = Window.partitionBy("source").orderBy(
            F.desc("quality"), F.asc("doc_id")
        )
        w_cnt = Window.partitionBy("source")
        return (
            scored.withColumn("rn", F.row_number().over(w_src))
            .withColumn("n_src", F.count(F.lit(1)).over(w_cnt))
            .filter(
                F.col("rn")
                <= F.expr(
                    f"(({KEEP_PCT_NUM}L * n_src) + {KEEP_PCT_DEN - 1}L)"
                    f" div {KEEP_PCT_DEN}L"
                )
            )
            .select(
                "doc_id", "source", "quality", F.col("rn").cast("int").alias("rn")
            )
        )
    bounds = scored.groupBy("source").agg(
        F.min("quality").alias("lo"), F.max("quality").alias("hi")
    )
    bucketed = (
        scored.join(F.broadcast(bounds), "source")
        .withColumn(
            "bucket",
            F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(QS_BUCKETS - 1),
                    (
                        (F.col("hi") - F.col("quality"))
                        * F.lit(QS_BUCKETS)
                        / (F.col("hi") - F.col("lo"))
                    ).cast("bigint"),
                )
            ),
        )
        .drop("lo", "hi")
    )
    per_bucket = bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("bn")
    )
    lo_side = per_bucket.select(
        F.col("source").alias("ls"),
        F.col("bucket").alias("lb"),
        F.col("bn").alias("lbn"),
    )
    offsets = (
        per_bucket.join(
            F.broadcast(lo_side),
            (F.col("ls") == F.col("source")) & (F.col("lb") < F.col("bucket")),
            "left",
        )
        .groupBy("source", "bucket")
        .agg(F.coalesce(F.sum("lbn"), F.lit(0)).alias("off"))
    )
    totals = per_bucket.groupBy("source").agg(F.sum("bn").alias("n_src"))
    w_rank = Window.partitionBy("source", "bucket").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        bucketed.withColumn("lrn", F.row_number().over(w_rank))
        .join(F.broadcast(offsets), ["source", "bucket"])
        .join(F.broadcast(totals), "source")
        .withColumn("rn", F.col("off") + F.col("lrn"))
        .filter(
            F.col("rn")
            <= F.expr(f"(({KEEP_PCT_NUM}L * n_src) + {KEEP_PCT_DEN - 1}L) div {KEEP_PCT_DEN}L")
        )
        .select("doc_id", "source", "quality", F.col("rn").cast("int").alias("rn"))
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, {quality_score_sql("text")} AS quality FROM documents
), ranked AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scored
)
SELECT doc_id, source, quality, CAST(rn AS INT) AS rn
FROM ranked
WHERE rn <= ({KEEP_PCT_NUM} * n_src + {KEEP_PCT_DEN - 1}) // {KEEP_PCT_DEN}
"""


BPE_TOP = 20
VOCAB_TOP = 50


def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training, distributed:
    within-token adjacent character-pair frequencies over the whole
    corpus, ranked — the merge candidates a byte-pair-encoding trainer
    would fuse first. At 100 TB this IS how vocab induction starts
    (pair counting = one partial+final agg on 2-char keys; later
    iterations re-tokenize with merges applied — each is the same
    shuffle shape over a shrinking pair space).

    Output: top BPE_TOP (pair, n) by (n desc, pair)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    # adjacent char pairs inside each token; substring's start index is
    # dynamic, so the transform is written as a SQL expr (the classic-
    # API substring() takes only literal positions)
    pairs = toks.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP)
    )


BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
pairs AS (
  SELECT substring(tok, i, 2) AS pair
  FROM toks, LATERAL unnest(range(1, length(tok))) AS t(i)
  WHERE length(tok) >= 2
)
SELECT pair, count(*) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair LIMIT {BPE_TOP}
"""


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage report: the top VOCAB_TOP corpus tokens with
    each one's share of total token mass and the CUMULATIVE share — the
    Zipf curve a tokenizer team reads to size a vocabulary. Frequencies
    are one partial+final agg; the cumulative share is a window over
    only the top rows (never the full vocab).

    Output: (tok, n, share, cum_share) by rank."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(VOCAB_TOP)
    )
    w = Window.orderBy(F.desc("n"), "tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n",
            F.expr("cast(round(n / n_total * 1e8) as bigint) / 1e8").alias("share"),
            F.expr(
                "cast(round(sum(n) OVER (ORDER BY n DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / n_total * 1e8) as bigint) / 1e8"
            ).alias("cum_share"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
total AS (SELECT count(*) AS n_total FROM toks),
top AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
  ORDER BY n DESC, tok LIMIT {VOCAB_TOP}
)
SELECT tok, n,
       CAST(round(n / n_total * 1e8) AS BIGINT) / 1e8 AS share,
       CAST(round(sum(n) OVER (ORDER BY n DESC, tok
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  / n_total * 1e8) AS BIGINT) / 1e8 AS cum_share
FROM top, total
"""


def bpe_apply_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training iteration TWO, distributed: fuse the corpus's top
    character pair (computed from the data in-plan, no driver round
    trip) into a single symbol, re-segment every token, and recount
    adjacent-pair frequencies — the loop body a tokenizer trainer runs
    to convergence. Proves the iteration is the same partial+final
    shuffle shape over a shrinking pair space (the claim
    bpe_pair_merges' docstring makes).

    Mechanics: the fused pair is replace()d with the \\x01 placeholder
    — replace is leftmost-non-overlapping in BOTH engines, so greedy
    merge order is identical — and pair windows then slide over the
    re-segmented symbols; output pairs render the placeholder as
    [pair] for readability.

    Output: top BPE_TOP (pair, n) after the first merge."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    first_pairs = toks.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    top1 = (
        first_pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .select(F.col("pair").alias("merge_pair"))
    )
    merged = toks.crossJoin(F.broadcast(top1)).select(
        F.expr("replace(tok, merge_pair, '\\u0001')").alias("m"), "merge_pair"
    )
    pairs2 = merged.filter(F.length("m") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(m) - 1), i -> substring(m, i, 2))"
            )
        ).alias("raw"),
        "merge_pair",
    )
    rendered = pairs2.select(
        F.expr("replace(raw, '\\u0001', '[' || merge_pair || ']')").alias("pair")
    )
    return (
        rendered.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP)
    )


def _bpe_apply_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
p1 AS (
  SELECT substring(tok, i, 2) AS pair
  FROM toks, LATERAL unnest(range(1, length(tok))) AS t(i)
  WHERE length(tok) >= 2
),
top1 AS (SELECT pair AS merge_pair FROM p1
         GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
merged AS (SELECT replace(tok, merge_pair, chr(1)) AS m, merge_pair
           FROM toks CROSS JOIN top1),
p2 AS (
  SELECT replace(substring(m, i, 2), chr(1), '[' || merge_pair || ']') AS pair
  FROM merged, LATERAL unnest(range(1, length(m))) AS t(i)
  WHERE length(m) >= 2
)
SELECT pair, count(*) AS n FROM p2
GROUP BY pair ORDER BY n DESC, pair LIMIT {BPE_TOP}
"""


BPE_TRAIN_MERGES = 16  # merges trained by bpe_train_merges
#: collect-and-train-in-RAM threshold: a (word, count) vocabulary at or
#: under this many rows is the centroids-class bounded collect (a few
#: MB); real tokenizer trainers are in-RAM at ANY corpus size because
#: the vocab is language-bounded. SPARK_GRAFT_BPE_DRIVER_MAX overrides
#: (tests pin 0 to force and verify the distributed path).
BPE_DRIVER_VOCAB_MAX = 200_000


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training run to a REAL merge table: {BPE_TRAIN_MERGES}
    greedy merges, each selected from the corpus re-segmented by all
    previous merges — the full loop `bpe_pair_merges` /
    `bpe_apply_first_merge` only sampled (iterations 1-2), producing
    the artifact a tokenizer actually ships (reference anchor: chunking
    as the tokenization stand-in, `indexer.py:62-66`).

    The classic trainer's key economy applies unchanged at 100 TB:
    after ONE corpus-sized pass collapses text to the (word, count)
    vocabulary table, every iteration runs over VOCAB-sized state,
    never the corpus. The vocabulary is bounded by the language, not
    data volume, so plan shape is picked by size (the `spread()` /
    RANK_SMALL_MAX policy): at or under BPE_DRIVER_VOCAB_MAX distinct
    words the table is collected ONCE and the greedy loop runs
    driver-side (how sentencepiece/HF actually train — the whole
    model fits in RAM; this is the centroids-class bounded collect);
    above it, the distributed loop — weighted pair explode,
    partial+final pair sums, top-1 per round — with per-iteration
    `localCheckpoint` lineage cuts (the k-means pattern) and ONE
    (pair, n) row collected per iteration.

    Mechanics shared verbatim with `bpe_apply_first_merge` and
    identical on both paths: pair counts slide a 2-char window over
    the segmented string (weighted by word count, ties broken by
    pair ascending); merge i replaces its pair with the single
    placeholder chr(i) — replace()/str.replace are all
    leftmost-non-overlapping, so greedy merge order is identical
    everywhere — and output pairs render placeholders recursively as
    [..] so the merge table is printable. Each merge's pair is
    computed AFTER the previous replace re-segmented the state, so
    the per-merge (pair, n) rows prove every iteration genuinely
    re-segments (a no-op re-segment would re-select the same pair
    forever).

    Output: (merge_idx, pair, n) for merges 1..{BPE_TRAIN_MERGES}."""
    merges = _bpe_trained_merges(spark, sf_dir)
    return local_df(
        spark,
        [(i, rend, n) for i, _raw, rend, n in merges],
        "merge_idx int, pair string, n bigint",
    )


def _bpe_trained_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The trained merge list [(idx, raw_pair, rendered, n)] —
    bpe_train_merges and bpe_segment_stats share one training run per
    session+corpus. raw_pair keeps the placeholder chars so the merges
    can be APPLIED (bpe_segment_stats), rendered is the printable form."""
    import os

    # the memo key includes the resolved threshold: flipping
    # SPARK_GRAFT_BPE_DRIVER_MAX mid-session must not return the other
    # path's memoized merge list
    driver_max = int(
        os.environ.get("SPARK_GRAFT_BPE_DRIVER_MAX", str(BPE_DRIVER_VOCAB_MAX))
    )
    return _bpe_train(spark, sf_dir, driver_max)


@session_memo
def _bpe_train(
    spark: SparkSession, sf_dir: str, driver_max: int
) -> list[tuple[int, str, str, int]]:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    wc = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("tok").alias("m"), "c")
        .localCheckpoint(eager=True)
    )
    if wc.count() <= driver_max:
        items = [(r["m"], int(r["c"])) for r in wc.collect()]
        return _bpe_greedy_loop(items, BPE_TRAIN_MERGES)
    return _bpe_distributed_loop(wc, BPE_TRAIN_MERGES)


def bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression evaluation: apply the trained
    {BPE_TRAIN_MERGES}-merge table to the corpus and report, per
    source, how many symbols the segmented text needs vs its raw
    characters — the chars-per-token curve a tokenizer team tracks as
    the vocabulary grows (the reason to train merges at all). Follows
    `bpe_train_merges` the way apply follows fit.

    Plan: the merge table is the trained session artifact (memoized,
    one corpus pass to train); application is ONE stateless projection
    — a chain of {BPE_TRAIN_MERGES} literal replaces in merge order,
    identical greedy semantics as training — over the per-(source,
    word) count table, so the corpus is scanned once and everything
    downstream is |vocab|-sized partial+final aggregation. All sums
    are BIGINT char/symbol counts; the ratio is one fixed-arity double
    snapped to 6dp.

    Output: (source, n_tokens, n_chars, n_symbols, chars_per_symbol_6)
    ordered by source."""
    merges = _bpe_trained_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seg = F.col("tok")
    for i, raw, _rend, _n in merges:
        seg = F.replace(seg, F.lit(raw), F.lit(chr(i)))
    per = st.select(
        "source",
        "c",
        F.length("tok").cast("bigint").alias("chars"),
        F.length(seg).cast("bigint").alias("syms"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("chars")).alias("n_chars"),
            F.sum(F.col("c") * F.col("syms")).alias("n_symbols"),
        )
        .selectExpr(
            "source",
            "cast(n_tokens as bigint) AS n_tokens",
            "cast(n_chars as bigint) AS n_chars",
            "cast(n_symbols as bigint) AS n_symbols",
            "CASE WHEN n_symbols > 0 THEN"
            " cast(round(cast(n_chars as double) / n_symbols * 1e6)"
            " as bigint) / 1e6 END AS chars_per_symbol_6",
        )
        .orderBy("source")
    )


def _bpe_render(pair: str, rendered: dict[str, str]) -> str:
    return "".join(
        "[" + rendered[ch] + "]" if ch in rendered else ch for ch in pair
    )


def _bpe_greedy_loop(
    items: list[tuple[str, int]], k: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side greedy merge loop over a collected (word, count)
    vocabulary — semantics pinned to the distributed loop and the SQL
    oracle (sliding overlapping pair windows, (n desc, pair asc)
    selection, leftmost-non-overlapping replace)."""
    from collections import Counter

    merges: list[tuple[int, str, str, int]] = []
    rendered: dict[str, str] = {}
    for i in range(1, k + 1):
        cnt: Counter = Counter()
        for m, c in items:
            for j in range(len(m) - 1):
                cnt[m[j : j + 2]] += c
        if not cnt:
            break
        pair = min(cnt, key=lambda p: (-cnt[p], p))
        merges.append((i, pair, _bpe_render(pair, rendered), int(cnt[pair])))
        rendered[chr(i)] = merges[-1][2]
        if i < k:
            items = [(m.replace(pair, chr(i)), c) for m, c in items]
    return merges


def _bpe_distributed_loop(
    wc: DataFrame, k: int
) -> list[tuple[int, str, str, int]]:
    """The scale path: per-round weighted pair agg + top-1 over the
    checkpointed vocab table, re-segmented in place each round."""
    state = wc
    merges: list[tuple[int, str, str, int]] = []
    rendered: dict[str, str] = {}
    for i in range(1, k + 1):
        top = (
            state.filter(F.length("m") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(m) - 1),"
                        " i -> substring(m, i, 2))"
                    )
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0]["pair"], int(top[0]["n"])
        merges.append((i, pair, _bpe_render(pair, rendered), n))
        rendered[chr(i)] = merges[-1][2]
        if i < k:
            state = state.select(
                F.replace(F.col("m"), F.lit(pair), F.lit(chr(i))).alias("m"),
                "c",
            ).localCheckpoint(eager=False)
    return merges


def _bpe_chain_sql(k: int, final_w: bool) -> list[str]:
    """Shared unrolled-CTE chain: w{{i}} is the (orig, m, c) vocabulary
    re-segmented by merges 1..i, t{{i}} the i-th greedy selection.
    `final_w` adds w{{k}} (all k merges applied — the apply path);
    the train oracle stops at t{{k}}. MATERIALIZED throughout: each
    w{{i-1}} is referenced twice, and inlining doubles the chain per
    level (exponential scans — 'Too many open files' at k=16)."""
    parts = [
        """
WITH toks AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
w0 AS MATERIALIZED (SELECT tok AS orig, tok AS m, count(*) AS c
                    FROM toks GROUP BY tok)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT substring(m, i, 2) AS pair, c
  FROM w{i - 1}, LATERAL unnest(range(1, length(m))) AS t(i)
  WHERE length(m) >= 2
),
t{i} AS MATERIALIZED (SELECT pair, sum(c) AS n FROM p{i}
         GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"""
        )
        if i < k or final_w:
            parts.append(
                f""",
w{i} AS MATERIALIZED (SELECT orig,
         replace(m, (SELECT pair FROM t{i}), chr({i})) AS m, c
         FROM w{i - 1})"""
            )
    return parts


def _bpe_train_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled-CTE oracle for :func:`bpe_train_merges`: the shared
    chain plus r{{i}}, each selection's recursively rendered form."""
    parts = _bpe_chain_sql(k, final_w=False)
    for i in range(1, k + 1):
        expr = "pair"
        for j in range(1, i):
            expr = (
                f"replace({expr}, chr({j}),"
                f" '[' || (SELECT rendered FROM r{j}) || ']')"
            )
        parts.append(
            f""",
r{i} AS MATERIALIZED (SELECT {i} AS merge_idx, {expr} AS rendered, n FROM t{i})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(merge_idx AS INT) AS merge_idx, rendered AS pair,"
        f" CAST(n AS BIGINT) AS n FROM r{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\nSELECT * FROM (\n{union}\n) ORDER BY merge_idx")
    return "".join(parts)


def _bpe_segment_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled-CTE oracle for :func:`bpe_segment_stats`: the shared
    chain through w{{k}} (all merges applied), joined back to the
    per-(source, word) count table on the carried `orig`."""
    parts = _bpe_chain_sql(k, final_w=True)
    parts.append(
        f""",
stoks AS (
  SELECT source, unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
),
sc AS (SELECT source, tok, count(*) AS c FROM stoks GROUP BY 1, 2),
j AS (
  SELECT sc.source, sc.c, length(sc.tok) AS chars, length(w.m) AS syms
  FROM sc JOIN w{k} w ON w.orig = sc.tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(c * chars) AS BIGINT) AS n_chars,
       CAST(sum(c * syms) AS BIGINT) AS n_symbols,
       CASE WHEN sum(c * syms) > 0 THEN
         CAST(round(CAST(sum(c * chars) AS DOUBLE) / sum(c * syms) * 1e6)
              AS BIGINT) / 1e6 END AS chars_per_symbol_6
FROM j GROUP BY source ORDER BY source"""
    )
    return "".join(parts)


PMI_MIN_COUNT = 5  # report bigrams seen at least this often


def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token bigrams over the corpus — the statistical phrase detector
    (word2vec's phrase pass, Gensim Phrases) that finds 'new york'-
    style multiword units before tokenizer training.

    Plan: ONE JVM-side bigram explode (transform over indices — no
    UDF, no self-join), partial+final counts for bigrams and unigrams,
    then two joins of the bigram table against the unigram counts
    (AQE picks broadcast vs shuffle — the vocab grows with the corpus,
    same policy as lm_quality's prob table) and a one-row totals
    broadcast. PMI arithmetic uses an identical operation order in
    both engines: double products folded left-to-right, one division,
    one ln, round 6.

    Output: (a, b, n_ab, pmi) for bigrams with n_ab >= PMI_MIN_COUNT."""
    docs = _docs(spark, sf_dir).select(tokens(F.col("text")).alias("toks"))
    docs = docs.filter(F.size("toks") >= 1)
    bi = docs.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i + 1).alias("a"),
                    F.element_at(F.col("toks"), i + 2).alias("b"),
                ),
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    uni = docs.select(F.explode("toks").alias("tok"))
    bic = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = bi.agg(F.count(F.lit(1)).alias("n_bi")).crossJoin(
        uni.agg(F.count(F.lit(1)).alias("n_uni"))
    )
    joined = (
        bic.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(uc.withColumnRenamed("tok", "a").withColumnRenamed("c", "c_a"), "a")
        .join(uc.withColumnRenamed("tok", "b").withColumnRenamed("c", "c_b"), "b")
        .crossJoin(F.broadcast(totals))
    )
    num = (
        F.col("n_ab").cast("double") * F.col("n_uni") * F.col("n_uni")
    )
    den = F.col("n_bi").cast("double") * F.col("c_a") * F.col("c_b")
    return joined.select(
        "a", "b", "n_ab", F.round(F.log(num / den), 6).alias("pmi")
    )


COLLOCATION_SQL = f"""
WITH toklists AS (
  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents),
nonempty AS (SELECT toks FROM toklists WHERE len(toks) >= 1),
bi AS (
  SELECT unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                               i -> struct_pack(a := toks[i+1],
                                                b := toks[i+2]))) AS bg
  FROM nonempty WHERE len(toks) >= 2),
uni AS (SELECT unnest(toks) AS tok FROM nonempty),
bic AS (SELECT bg.a AS a, bg.b AS b, count(*) AS n_ab FROM bi GROUP BY 1, 2),
uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
tot AS (SELECT (SELECT count(*) FROM bi) AS n_bi,
               (SELECT count(*) FROM uni) AS n_uni)
SELECT a, b, n_ab,
       round(ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni)
                / (CAST(n_bi AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
FROM bic
JOIN uc ua ON bic.a = ua.tok
JOIN uc ub ON bic.b = ub.tok
CROSS JOIN tot
WHERE n_ab >= {PMI_MIN_COUNT}
"""


# --- chi-squared token–label association (feature selection) ---------------

CHI2_MIN_DF = 5  # ignore tokens in fewer docs (unstable chi2)
CHI2_TOP_K = 20


def chi2_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection: the TOP_K tokens most associated with the
    English label at DOC level — the classic filter a text classifier
    pipeline runs to pick its feature vocabulary before training
    (scikit-learn's chi2 / fastText preprocessing shape).

    The 2×2 contingency per token is four EXACT integer counts (a =
    en docs containing it, b = other docs containing it, margins from
    one one-row broadcast); χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is a
    single shared-text double expression over those integers, so both
    engines evaluate the identical IEEE tree. Ties break on token.

    Plan: doc-distinct token explode → ONE partial+final (token) count
    pass (vocabulary-sized state, the tf-idf/NB contract — shuffle-agg,
    never broadcast), one-row margins broadcast back, TakeOrdered
    top-K. No joins on the corpus side, no window."""
    docs = _docs(spark, sf_dir).filter(F.trim("text") != "")
    pres = docs.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    per_tok = pres.groupBy("tok").agg(
        F.sum(F.when(F.col("en"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("en"), 0).otherwise(1)).alias("b"),
    )
    marg = docs.groupBy().agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("n_ot"),
    )
    # snap, don't round: χ² is an arbitrary rational; terminating 7-digit
    # decimals make round(x, 6) engine-divergent (FIXTURES rule 2)
    chi2 = (
        "cast(round(((n_en + n_ot) * pow(CAST(a AS DOUBLE) * (n_ot - b)"
        " - CAST(b AS DOUBLE) * (n_en - a), 2))"
        " / (CAST(a + b AS DOUBLE) * (n_en + n_ot - a - b)"
        " * n_en * n_ot) * 1e6) as bigint) / 1e6"
    )
    return (
        per_tok.filter(F.col("a") + F.col("b") >= CHI2_MIN_DF)
        .crossJoin(F.broadcast(marg))
        .selectExpr("tok", "a AS n_en_docs", "b AS n_other_docs", f"{chi2} AS chi2")
        .orderBy(F.desc("chi2"), F.asc("tok"))
        .limit(CHI2_TOP_K)
    )


CHI2_SQL = f"""
WITH d AS (SELECT lang, text FROM documents WHERE trim(text) <> ''),
pres AS (
  SELECT lang = 'en' AS en, unnest(list_distinct(
           regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM d
), per_tok AS (
  SELECT tok,
         sum(CASE WHEN en THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN en THEN 0 ELSE 1 END) AS b
  FROM pres GROUP BY tok
), marg AS (
  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_ot
  FROM d
)
SELECT tok, CAST(a AS BIGINT) AS n_en_docs, CAST(b AS BIGINT) AS n_other_docs,
       CAST(round(((n_en + n_ot) * pow(CAST(a AS DOUBLE) * (n_ot - b)
              - CAST(b AS DOUBLE) * (n_en - a), 2))
             / (CAST(a + b AS DOUBLE) * (n_en + n_ot - a - b)
              * n_en * n_ot) * 1e6) AS BIGINT) / 1e6 AS chi2
FROM per_tok CROSS JOIN marg
WHERE a + b >= {CHI2_MIN_DF}
ORDER BY chi2 DESC, tok ASC
LIMIT {CHI2_TOP_K}
"""


# --- RAKE keyword extraction -------------------------------------------------

RAKE_TOP = 15


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010)
    keyword phrases over the corpus — the unsupervised keyword tagger
    a corpus-curation pipeline runs for topic faceting (the reference
    has no text analytics at all; north-star text analysis).

    Candidate phrases = maximal runs of non-stopword tokens
    (gaps-and-islands over token positions, per-doc windows — bounded
    by doc length, never corpus-sized). Word stats are global:
    freq(w) = occurrences inside candidate phrases, deg(w) = Σ phrase
    length over phrases containing w. Phrase score is the RATIO-OF-
    SUMS variant Σ_w deg(w) / Σ_w freq(w) (not the paper's sum of
    per-word ratios — a float sum whose order differs across engines;
    the ratio of two exact integer sums is ONE fixed-arity IEEE
    division, identical everywhere, and preserves the deg/freq
    "prefer words that live in long phrases" signal).

    Scale: tokenposition explode → per-doc island windows → vocab-
    sized stats agg (broadcast back) → (doc, island)-keyed phrase agg
    → phrase-keyed count. Every shuffle key is bounded (doc, vocab,
    phrase); no quadratic path. Output: top {RAKE_TOP} phrases by
    (score desc, n desc, phrase).
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        spread(docs, "doc_id")
        .select("doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "tok"))
        .select(
            "doc_id",
            "i",
            F.regexp_replace(F.lower(F.col("tok")), "[^a-z0-9]", "").alias("word"),
        )
    )
    kept = toks.filter(
        (F.col("word") != "") & ~F.col("word").isin(*STOPWORDS)
    )
    w_pos = Window.partitionBy("doc_id").orderBy("i")
    isl = kept.withColumn("grp", F.col("i") - F.row_number().over(w_pos))
    w_phr = Window.partitionBy("doc_id", "grp")
    members = isl.withColumn("plen", F.count(F.lit(1)).over(w_phr))
    stats = members.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    phrases = (
        members.join(stats, "word")
        .groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("phrase"),
            F.sum("deg").alias("sum_deg"),
            F.sum("freq").alias("sum_freq"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.round(F.col("sum_deg").cast("double") / F.col("sum_freq"), 4)
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc("n"), "phrase")
        .limit(RAKE_TOP)
    )


def _rake_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, i,
         regexp_replace(lower(toks[i]), '[^a-z0-9]', '', 'g') AS word
  FROM (SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
        FROM documents) t,
       LATERAL unnest(range(1, len(toks) + 1)) AS u(i)
),
kept AS (
  SELECT doc_id, i, word,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM toks WHERE word <> '' AND word NOT IN ({stoplist})
),
members AS (
  SELECT doc_id, grp, i, word,
         count(*) OVER (PARTITION BY doc_id, grp) AS plen
  FROM kept
),
stats AS (SELECT word, count(*) AS freq, sum(plen) AS deg FROM members GROUP BY word),
phrases AS (
  SELECT m.doc_id, m.grp,
         string_agg(m.word, ' ' ORDER BY m.i) AS phrase,
         sum(s.deg) AS sum_deg, sum(s.freq) AS sum_freq
  FROM members m JOIN stats s ON s.word = m.word
  GROUP BY m.doc_id, m.grp
)
SELECT phrase, count(*) AS n,
       max(round(sum_deg::DOUBLE / sum_freq, 4)) AS score
FROM phrases GROUP BY phrase
ORDER BY score DESC, n DESC, phrase LIMIT {RAKE_TOP}
"""


# --- mutual-information token ranking (feature selection) -------------------

MI_TOP_K = 20

#: shared dialect-portable cell term: (n/N)·log2(n·N/(r·c)), 0 on an
#: empty cell — the SAME text feeds Spark selectExpr and the oracle, so
#: both engines evaluate the identical fixed-arity IEEE tree per token.
_MI_CELL = (
    "(CASE WHEN {n} > 0 THEN (CAST({n} AS DOUBLE) / nn)"
    " * log2(CAST({n} AS DOUBLE) * nn / (CAST({r} AS DOUBLE) * {c}))"
    " ELSE 0.0 END)"
)
_MI_EXPR = (
    "cast(round(("
    + " + ".join(
        _MI_CELL.format(n=n, r=r, c=c)
        for n, r, c in [
            ("a", "a + b", "n_en"),
            ("b", "a + b", "n_ot"),
            ("n_en - a", "nn - a - b", "n_en"),
            ("n_ot - b", "nn - a - b", "n_ot"),
        ]
    )
    + ") * 1e6) as bigint) / 1e6"
)


def mutual_info_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(token-presence; is-English) per token, top
    {MI_TOP_K} — the information-gain sibling of
    `chi2_token_selection` (scikit-learn mutual_info_classif /
    decision-tree split-gain shape): unlike χ², MI is in bits and
    directly comparable across vocabularies, the number a curation
    pipeline thresholds when pruning label-leaking tokens.

    The 2×2 contingency is the SAME four exact integer counts as χ²
    (doc-distinct presence explode → one vocabulary-sized partial+final
    count pass; one-row margins broadcast back); each of the four cell
    terms (n/N)·log2(n·N/(r·c)) is a fixed-arity double expression
    over those integers evaluated from shared SQL text, summed at
    fixed arity (4 terms, never a data-sized float sum) and snapped to
    6dp. Ties break on token. Same scale shape as χ²: no corpus-side
    join, no window, TakeOrdered top-K."""
    docs = _docs(spark, sf_dir).filter(F.trim("text") != "")
    pres = docs.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    per_tok = pres.groupBy("tok").agg(
        F.sum(F.when(F.col("en"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("en"), 0).otherwise(1)).alias("b"),
    )
    marg = docs.groupBy().agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("n_ot"),
    ).selectExpr("n_en", "n_ot", "n_en + n_ot AS nn")
    return (
        per_tok.filter(F.col("a") + F.col("b") >= CHI2_MIN_DF)
        .crossJoin(F.broadcast(marg))
        .selectExpr(
            "tok",
            "a AS n_en_docs",
            "b AS n_other_docs",
            f"{_MI_EXPR} AS mi_bits",
        )
        .orderBy(F.desc("mi_bits"), F.asc("tok"))
        .limit(MI_TOP_K)
    )


MI_SQL = f"""
WITH d AS (SELECT lang, text FROM documents WHERE trim(text) <> ''),
pres AS (
  SELECT lang = 'en' AS en, unnest(list_distinct(
           regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM d
), per_tok AS (
  SELECT tok,
         sum(CASE WHEN en THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN en THEN 0 ELSE 1 END) AS b
  FROM pres GROUP BY tok
), marg AS (
  SELECT n_en, n_ot, n_en + n_ot AS nn FROM (
    SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
           sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_ot
    FROM d)
)
SELECT tok, CAST(a AS BIGINT) AS n_en_docs, CAST(b AS BIGINT) AS n_other_docs,
       {_MI_EXPR} AS mi_bits
FROM per_tok CROSS JOIN marg
WHERE a + b >= {CHI2_MIN_DF}
ORDER BY mi_bits DESC, tok ASC
LIMIT {MI_TOP_K}
"""


# --- Jensen-Shannon divergence between language token distributions ---------

JSD_SCALE = 1_000_000_000  # per-token terms as integer nano-bits

#: shared per-token JSD term over (c_a, c_b, n_a, n_b): ½·p·log2(p/m) +
#: ½·q·log2(q/m) with m = (p+q)/2, zero-count branches dropped exactly.
_JSD_TERM = (
    "0.5 * ((CASE WHEN c_a > 0 THEN (CAST(c_a AS DOUBLE) / n_a)"
    " * log2((CAST(c_a AS DOUBLE) / n_a)"
    " / ((CAST(c_a AS DOUBLE) / n_a + CAST(c_b AS DOUBLE) / n_b) / 2))"
    " ELSE 0.0 END)"
    " + (CASE WHEN c_b > 0 THEN (CAST(c_b AS DOUBLE) / n_b)"
    " * log2((CAST(c_b AS DOUBLE) / n_b)"
    " / ((CAST(c_a AS DOUBLE) / n_a + CAST(c_b AS DOUBLE) / n_b) / 2))"
    " ELSE 0.0 END))"
)
_JSD_SNAP = f"cast(round(({_JSD_TERM}) * {JSD_SCALE}.0) as bigint)"


def jsd_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the English and non-English
    token OCCURRENCE distributions — the bounded symmetric drift score
    ([0,1] in bits) a corpus monitor tracks between snapshots or
    cohorts where PSI needs binning and KL blows up on zero cells
    (standard corpus-shift metric in data-curation papers). One row:
    vocabulary size, both totals, JSD.

    Exact shape: one vocabulary-sized partial+final count pass
    (occurrence counts, not doc-distinct — this is a distribution over
    tokens), one-row totals broadcast back; each token's term is a
    fixed-arity double expression from shared SQL text snapped to
    integer nano-bits BEFORE the sum (FIXTURES rule 5), so the
    data-sized sum is pure BIGINT — order-independent at any
    parallelism — and only the final /1e9 is float."""
    docs = _docs(spark, sf_dir).filter(F.trim("text") != "")
    occ = docs.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    per_tok = occ.groupBy("tok").agg(
        F.sum(F.when(F.col("en"), 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("en"), 0).otherwise(1)).alias("c_b"),
    )
    tot = per_tok.groupBy().agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    terms = per_tok.crossJoin(F.broadcast(tot)).selectExpr(
        f"{_JSD_SNAP} AS t"
    )
    agg = terms.groupBy().agg(F.sum("t").alias("st")).crossJoin(
        F.broadcast(
            per_tok.groupBy().agg(
                F.count(F.lit(1)).alias("n_vocab"),
                F.sum("c_a").alias("n_en_tok"),
                F.sum("c_b").alias("n_other_tok"),
            )
        )
    )
    return agg.selectExpr(
        "cast(n_vocab as bigint) AS n_vocab",
        "cast(n_en_tok as bigint) AS n_en_tok",
        "cast(n_other_tok as bigint) AS n_other_tok",
        f"cast(round(st / {JSD_SCALE}.0 * 1e6) as bigint) / 1e6 AS jsd_bits",
    )


JSD_SQL = f"""
WITH d AS (SELECT lang, text FROM documents WHERE trim(text) <> ''),
occ AS (
  SELECT lang = 'en' AS en,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM d
), per_tok AS (
  SELECT tok,
         sum(CASE WHEN en THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN en THEN 0 ELSE 1 END) AS c_b
  FROM occ GROUP BY tok
), tot AS (
  SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b,
         count(*) AS n_vocab
  FROM per_tok
), terms AS (
  SELECT {_JSD_SNAP} AS t
  FROM per_tok CROSS JOIN tot
)
SELECT CAST(tot.n_vocab AS BIGINT) AS n_vocab,
       CAST(tot.n_a AS BIGINT) AS n_en_tok,
       CAST(tot.n_b AS BIGINT) AS n_other_tok,
       CAST(round(sum(t) / {JSD_SCALE}.0 * 1e6) AS BIGINT) / 1e6 AS jsd_bits
FROM terms CROSS JOIN tot
GROUP BY tot.n_vocab, tot.n_a, tot.n_b
"""


QUERIES = {
    "chunk_fixed": chunk_fixed,
    "mutual_info_tokens": mutual_info_tokens,
    "jsd_lang_drift": jsd_lang_drift,
    "rake_keywords": rake_keywords,
    "chi2_token_selection": chi2_token_selection,
    "collocation_pmi": collocation_pmi,
    "chunk_recursive": chunk_recursive_check,
    "token_stats": token_stats,
    "lang_id": lang_id,
    "lang_id_confusion": lang_id_confusion,
    "quality_scores": quality_scores,
    "stratified_quality_sample": stratified_quality_sample,
    "doc_fingerprints": doc_fingerprints,
    "bpe_pair_merges": bpe_pair_merges,
    "bpe_apply_first_merge": bpe_apply_first_merge,
    "bpe_train_merges": bpe_train_merges,
    "bpe_segment_stats": bpe_segment_stats,
    "vocab_coverage": vocab_coverage,
}

ORACLES = {
    "chunk_fixed": CHUNK_FIXED_SQL,
    "mutual_info_tokens": MI_SQL,
    "jsd_lang_drift": JSD_SQL,
    "chi2_token_selection": CHI2_SQL,
    "collocation_pmi": COLLOCATION_SQL,
    "chunk_recursive": CHUNK_RECURSIVE_CHECK_SQL,
    "token_stats": TOKEN_STATS_SQL,
    "lang_id": LANG_ID_SQL,
    "lang_id_confusion": LANG_CONFUSION_SQL,
    "quality_scores": QUALITY_SQL,
    "stratified_quality_sample": STRATIFIED_SAMPLE_SQL,
    "rake_keywords": _rake_sql(),
    "doc_fingerprints": FINGERPRINT_SQL,
    "bpe_pair_merges": BPE_PAIRS_SQL,
    "bpe_apply_first_merge": _bpe_apply_sql(),
    "bpe_train_merges": _bpe_train_sql(),
    "bpe_segment_stats": _bpe_segment_sql(),
    "vocab_coverage": VOCAB_COVERAGE_SQL,
}
