"""Deduplication operator pack (north-star LLM-pipeline ops,
BASELINE.json): exact dedup, n-gram Jaccard near-dup, MinHash+LSH
banding, SimHash fingerprints + Hamming near-pairs.

The reference's only dedup is Chroma's upsert-by-composite-id
(`/root/reference/indexer.py:56`); these are the scale-out
generalizations a 100 TB training-data pipeline needs.

Scale design:
- exact dedup: hash-shuffle on an 8-byte fingerprint, never on the
  full text (shuffle bytes ∝ keys, not documents).
- Jaccard: inverted-index join on shingles (shuffle ∝ postings), NOT a
  quadratic cross-join. At 100 TB one would additionally cap hot
  shingles (drop shingles with document-frequency > cap — they only
  connect near-everything); the cap is a parameter here.
- MinHash+LSH: signatures are 16 mins computed in ONE partial+final
  aggregation over the shingle postings; banding turns near-dup search
  into an equi-join on (band_idx, band_key) — the classic
  shuffle-friendly LSH layout.
- SimHash: one 32-bit key per doc from a single aggregation; Hamming
  candidates via bit_count(xor). (At scale: block by bit-prefix
  rotations instead of the all-pairs join used at test size.)

All hashing is the shared polynomial fold (functions.text.FP_BASE/MOD)
→ bit-identical in the DuckDB oracles, which are generated from the
same Python constants below.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import (
    FP_BASE,
    FP_MOD,
    RE_TOKEN_SPLIT,
    make_poly_hash_udf,
)
from spec_search_spark.session import pin, session_memo, spread, tune

P = FP_MOD  # 2^31-1, prime
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
# deterministic hash-family constants, shared verbatim with the SQL oracles
A_COEF = [(i * 2654435761 + 1) % P for i in range(N_HASHES)]
B_COEF = [(i * 40503 + 7) % P for i in range(N_HASHES)]

JACCARD_THRESHOLD = 0.5
# 60 bits (not 64): stays positive in a signed int64 in BOTH engines,
# and is discriminative enough that hamming≤3 means near-identical —
# 32 bits on a shared-vocab corpus produced 27M band collisions.
SIMHASH_BITS = 60
HAMMING_THRESHOLD = 3
SIMHASH_BANDS = 4  # 15 bits per band; lossless for hamming < 4 (pigeonhole)


# --- shared shingle machinery ----------------------------------------------

def _tokens(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, RE_TOKEN_SPLIT)
    )


# module-level singleton: a fresh udf object per call would make every
# plan canonically distinct, defeating CacheManager reuse across the
# dedup queries (they share the postings/token pipelines).
_POLY_HASH_UDF = make_poly_hash_udf()


def _poly_hash(s: Column) -> Column:
    """Polynomial fold over code points — same fold as the DuckDB
    oracle, computed by the Arrow-batched pandas_udf (identical bigint
    output; ~10× faster than the per-char expression fold on the
    shingle/token hot path)."""
    return _POLY_HASH_UDF(s)


_POLY_SQL = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(regexp_extract_all({s}, '[\\s\\S]'), c -> ord(c)::BIGINT)), "
    f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
)


def _shingles_from_toks(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED tokens column.

    `toks` must be a bound column reference, not the split() expression
    itself — embedding the split in the transform lambda makes Catalyst
    re-tokenize the document for every element_at (O(tokens²) per doc;
    cost measured 5× the whole pipeline at sf0.1).

    Docs with fewer than `n` tokens produce ZERO shingles (guarded by
    the CASE below — an unguarded sequence(0, size-n) steps DOWNWARD to
    [0, -1] for short docs and element_at then throws; the DuckDB
    oracle's end-exclusive range(0, greatest(len-2, 0)) already yields
    zero shingles for them)."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)  # only evaluated when size >= n
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


MAX_SHINGLE_DF = 10_000  # hot-shingle cap, mirrored in the SQL oracles

_SHINGLES_SQL = f"""
SELECT doc_id, shingle FROM (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(0, greatest(len(toks) - 2, 0)),
                          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         )) AS shingle
  FROM (SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
        FROM documents) t
) p
QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
"""


def shingle_postings(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, shingle) postings, hot shingles capped.

    `max_shingle_df`: shingles with document-frequency above the cap
    connect near-everything and quadratically inflate the pair join —
    a single stop-phrase shingle at 100 TB would dominate the shuffle.
    ON by default (one tiny agg + broadcast anti-join; the hot set is
    by construction small); the SQL oracles model the same cap via a
    QUALIFY df filter, so capped semantics are oracle-checked even
    though no test-scale shingle is actually hot.

    Hashing happens per DISTINCT shingle in hashed_shingle_postings,
    never per posting.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # spread: fan out BEFORE the explode so every core gets work when
    # the docs table arrives as few parquet splits; gated on the scan's
    # split count, so at 100 TB (thousands of splits) NO shuffle of the
    # raw text happens. cache: every consumer reads these postings 2-3×.
    postings, _ = pin(
        spread(docs, "doc_id")
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(_shingles_from_toks(F.col("toks"))).alias("shingle"))
    )
    if max_shingle_df is not None:
        hot = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
        )
        # lazy: the anti-join reads the cached raw postings; the only
        # consumer (hashed_shingle_postings) materializes its own final
        # result, so a second full cache pass here bought nothing.
        postings = postings.join(F.broadcast(hot), "shingle", "left_anti")
    return postings


BROADCAST_VOCAB_MAX = 2_000_000  # distinct shingles; ~50 MB of strings+hashes


@session_memo
def hashed_shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle, h): the poly-hash runs once per DISTINCT
    shingle (vocabulary-sized Python work) and joins back — not once
    per posting (corpus-sized Python work; the near-dup corpus repeats
    each shingle across many docs).

    Join strategy: the hashed vocabulary is broadcast only while it
    fits (≤ BROADCAST_VOCAB_MAX distinct shingles — the vocabulary
    GROWS with corpus size, so "broadcast the vocab" is NOT
    unconditionally 100 TB-safe). Above the cap it falls back to a
    plain shuffle hash join on `shingle`; the one-extra-shuffle cost is
    the correct trade once the build side would blow the broadcast
    limit. The vocabulary is materialized (its count doubles as the
    size check), and so is the hashed-postings result — Jaccard's pair
    self-join and MinHash's signature agg all read it, and lazily the
    vocab hash + join would recompute once per reader. Memoized per
    (session, corpus) like ivf.trained_index: an index-shaped intermediate
    is built once, not re-validated (two count jobs) per query call."""
    p = shingle_postings(spark, sf_dir)
    vocab, n_vocab = pin(
        p.select("shingle").distinct().withColumn("h", _poly_hash(F.col("shingle")))
    )
    join_vocab = F.broadcast(vocab) if n_vocab <= BROADCAST_VOCAB_MAX else vocab
    return pin(p.join(join_vocab, "shingle"))[0]


# --- exact dedup ------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: canonical (min) doc per
    distinct text, with duplicate count."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", _poly_hash(F.col("text")))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = f"""
SELECT {_POLY_SQL.format(s='text')} AS fp,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY fp
"""


# --- n-gram Jaccard near-dup ------------------------------------------------

def _jaccard_prefix_len(n_col: str, threshold: float) -> Column:
    """Prefix length |x| - ceil(t·|x|) + 1 for the AllPairs/PPJoin
    prefix filter (Bayardo et al. WWW'07; Xiao et al. WWW'08), in EXACT
    integer arithmetic: a float ceil(t·n) can over-round (0.8·n landing
    an ulp above the integer), shortening the prefix and silently
    dropping qualifying pairs. t is converted to an exact fraction
    num/den once, and ceil(num·n/den) = (num·n + den − 1) div den."""
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    return F.expr(
        f"{n_col} - ((({num}L * {n_col}) + {den - 1}L) div {den}L) + 1L"
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with 3-gram Jaccard ≥ threshold, via
    inverted-index join (shuffle on the 8-byte shingle HASH, then on
    the pair).

    The pair join keys on `h`, not the shingle text — at 100 TB the
    inverted-index shuffle carries 8 bytes per posting instead of
    ~24-byte shingle strings (the hash exists for exactly this; MinHash
    already joined on it). The intermediate row count is Σ_h df(h)²,
    bounded by the MAX_SHINGLE_DF hot-cap — at the moderate default
    threshold (0.5) this direct join beats a prefix-filtered plan,
    whose candidate verification re-expands full postings per pair
    (measured 2.4× slower at sf0.1); the prefix plan's domain is HIGH
    thresholds, where it lives as :func:`jaccard_strict_pairs`. The
    oracle hashes shingles with the same polynomial fold and joins on
    the hash, so a (cosmically unlikely) vocabulary hash collision
    would change both engines identically.
    """
    # materialized (inside hashed_shingle_postings): the postings feed
    # the sizes agg AND both sides of the pair join — lazily, the
    # shingle+hash pipeline would run 3×.
    s = hashed_shingle_postings(spark, sf_dir).select("doc_id", "h")
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = s.alias("a")
    b = s.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1"))
    sz2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2"))
    jac = (
        common.join(F.broadcast(sz1), "doc1")
        .join(F.broadcast(sz2), "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return jac.select("doc1", "doc2", "n_common", "jaccard")


JACCARD_STRICT_THRESHOLD = 0.8


def jaccard_strict_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-confidence near-dup pairs (3-gram Jaccard ≥ 0.8) via the
    AllPairs/PPJoin PREFIX FILTER — the regime where prefix filtering
    earns its keep.

    Lossless blocking: each doc indexes only its first
    |x| − ceil(t·|x|) + 1 shingles (~20% at t=0.8) under one global
    rarest-first order (df asc, h asc); any pair with Jaccard ≥ t must
    collide inside both prefixes, so the common/stop-ish shingles never
    enter the candidate join and the candidate set is near-output-sized.
    Survivors are verified EXACTLY against the full postings
    (candidate-bound work), so the output equals the exhaustive join at
    the same threshold — which is precisely the oracle.

    vs :func:`ngram_jaccard_pairs` (t=0.5, direct inverted-index join):
    at moderate thresholds the prefix is half the index and
    verification re-expands postings per candidate, costing more than
    it saves; at t=0.8 candidates collapse to near-dups only. One
    operator per regime, both oracle-checked.

    The candidate join additionally applies the AllPairs LENGTH filter
    (min(|x|,|y|) ≥ t·max(|x|,|y|), a necessary condition for
    Jaccard ≥ t since |x∩y| ≤ min) in the join condition itself, in the
    same exact num/den integer arithmetic as the prefix length — a
    size-skewed colliding pair is dropped before the shuffle writes it,
    not after. Losslessness of the combined filter is pinned by
    ``test_jaccard_prefix_filter_is_lossless_and_reducing``.
    """
    from fractions import Fraction
    s = hashed_shingle_postings(spark, sf_dir).select("doc_id", "h")
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    # Global rarest-first order: document frequency per shingle hash
    # (vocabulary-sized agg), ties broken by h — one total order applied
    # to every doc, as the prefix-filter theorem requires.
    df_h = s.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        s.join(df_h, "h")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= _jaccard_prefix_len("n_shingles", JACCARD_STRICT_THRESHOLD))
        .select("doc_id", "h", "n_shingles")
    )
    frac = Fraction(str(JACCARD_STRICT_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    pa, pb = prefix.alias("a"), prefix.alias("b")
    cand = (
        pa.join(
            pb,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: den·min(n1,n2) ≥ num·max(n1,n2) ⇔ min ≥ t·max
            & (
                F.lit(den) * F.least(F.col("a.n_shingles"), F.col("b.n_shingles"))
                >= F.lit(num) * F.greatest(F.col("a.n_shingles"), F.col("b.n_shingles"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )

    # Exact verification: count the full-postings intersection of each
    # candidate pair (candidate-bound work, two equi-joins).
    p1 = s.select(F.col("doc_id").alias("doc1"), "h")
    p2 = s.select(F.col("doc_id").alias("doc2"), "h")
    common = (
        cand.join(p1, "doc1")
        .join(p2, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1"))
    sz2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2"))
    jac = (
        common.join(F.broadcast(sz1), "doc1")
        .join(F.broadcast(sz2), "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_STRICT_THRESHOLD)
    )
    return jac.select("doc1", "doc2", "n_common", "jaccard")


JACCARD_STRICT_SQL = f"""
WITH postings AS ({_SHINGLES_SQL}),
hashed AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings),
sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
  FROM hashed a JOIN hashed b
    ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc1, doc2, n_common,
       round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) >= {JACCARD_STRICT_THRESHOLD}
"""


NGRAM_JACCARD_SQL = f"""
WITH postings AS ({_SHINGLES_SQL}),
hashed AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings),
sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
  FROM hashed a JOIN hashed b
    ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc1, doc2, n_common,
       round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH banding --------------------------------------------------

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash MinHash signature per doc in one aggregation pass."""
    postings = hashed_shingle_postings(spark, sf_dir)
    aggs = [
        F.min((F.lit(A_COEF[i]) * F.col("h") + F.lit(B_COEF[i])) % F.lit(P)).alias(f"s{i}")
        for i in range(N_HASHES)
    ]
    return postings.groupBy("doc_id").agg(*aggs)


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): each signature exploded into its
    N_BANDS band keys — the LSH bucket table both the full self-join
    and the incremental delta probe are keyed on."""
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"s{bi * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            )
            for bi in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any of 4 bands of 4 minhash rows.

    The band key is an equi-join key → plain shuffle join, no
    similarity computation until the (tiny) candidate set.
    """
    sig = minhash_signatures(spark, sf_dir)
    # materialized: both sides of the candidate self-join read the band
    # table; lazily, the whole shingle→hash→16-min signature pipeline
    # would execute twice (it dominated the first bench run at 160 s).
    exploded, _ = pin(_band_rows(sig))
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min(({A_COEF[i]}::BIGINT * h + {B_COEF[i]}) % {P}) AS s{i}" for i in range(N_HASHES)
    )
    return f"""
WITH postings AS ({_SHINGLES_SQL}),
hashed AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings)
SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
"""


def _minhash_lsh_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_idx, "
        + " || '|' || ".join(
            f"s{bi * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key FROM sig"
        for bi in range(N_BANDS)
    )
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# --- incremental near-dup: delta batch vs the standing corpus ---------------

INC_FOLD_MOD = 10  # hash bucket 0 of 10 -> the "tonight's new docs" delta


def incremental_minhash_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dups of a ~10% DELTA batch against the full corpus — the
    nightly-ingest shape of MinHash dedup: candidate pairs are generated
    ONLY where at least one side is a delta doc, so the base×base
    quadrant (the quadratic bulk a full re-dedup would redo every night)
    is never joined. Verification is the exact shingle-intersection
    Jaccard at JACCARD_THRESHOLD, so the output is a true near-dup list,
    not just LSH candidates. `is_cross` marks delta↔base matches (the
    "incoming doc duplicates the standing corpus" signal) vs
    delta↔delta (dupes within the batch itself).

    100 TB shape: in production the base band table and shingle postings
    are the PERSISTED index this engine already builds
    (`minhash_signatures` written to parquet); the nightly cost is then
    O(|delta| bands + bucket co-members), independent of corpus size.
    Here both sides derive from one scan and the delta restriction is a
    pushed predicate on the probe side of the same band equi-join.
    """
    sig = minhash_signatures(spark, sf_dir)
    bands, _ = pin(
        _band_rows(sig).withColumn(
            "is_delta",
            F.pmod(
                _poly_hash(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))),
                F.lit(INC_FOLD_MOD),
            )
            == 0,
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.is_delta") | F.col("b.is_delta")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            (F.col("a.is_delta") != F.col("b.is_delta")).alias("is_cross"),
        )
        .distinct()
    )
    p = hashed_shingle_postings(spark, sf_dir)
    sizes = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cand.join(p.select(F.col("doc_id").alias("doc1"), "h"), "doc1")
        .join(p.select(F.col("doc_id").alias("doc2"), "h"), ["doc2", "h"])
        .groupBy("doc1", "doc2", "is_cross")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.round(
        F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 4
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1")), "doc1")
        .join(sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2")), "doc2")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", "is_cross", jac.alias("jaccard"))
    )


def _incremental_delta_sql() -> str:
    h = _POLY_SQL.format(s="'inc:' || CAST(doc_id AS VARCHAR)")
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_idx, "
        + " || '|' || ".join(
            f"s{bi * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key FROM sig"
        for bi in range(N_BANDS)
    )
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
bands0 AS ({band_rows}),
bands AS (
  SELECT doc_id, band_idx, band_key,
         ((({h} % {INC_FOLD_MOD}) + {INC_FOLD_MOD}) % {INC_FOLD_MOD}) = 0 AS is_delta
  FROM bands0
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         a.is_delta <> b.is_delta AS is_cross
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id AND (a.is_delta OR b.is_delta)
),
postings AS ({_SHINGLES_SQL}),
hashed AS (SELECT doc_id, {_POLY_SQL.format(s='shingle')} AS h FROM postings),
sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
common AS (
  SELECT c.doc1, c.doc2, c.is_cross, count(*) AS n_common
  FROM cand c
  JOIN hashed h1 ON h1.doc_id = c.doc1
  JOIN hashed h2 ON h2.doc_id = c.doc2 AND h2.h = h1.h
  GROUP BY c.doc1, c.doc2, c.is_cross
)
SELECT doc1, doc2, is_cross,
       round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE round(n_common::DOUBLE / (s1.n + s2.n - n_common), 4) >= {JACCARD_THRESHOLD}
"""


# --- SimHash ----------------------------------------------------------------

def _make_simhash_udf():
    """Batched pandas_udf: array<bigint> of token hashes → 60-bit
    simhash. Many docs per Arrow batch — the earlier per-doc
    applyInPandas groups paid Python/pandas group overhead per DOCUMENT
    (single-doc DataFrames), which dominates at billions of docs. Here
    one kernel call covers a whole batch: hashes of all docs are
    flattened, the ±1 bit votes computed as one (total_tokens × 60)
    numpy op, and per-doc vote sums taken with np.add.reduceat at the
    doc offsets. Identical integers to the per-doc form and to the
    DuckDB sum(CASE) oracle."""
    import numpy as np

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    @F.pandas_udf(T.LongType())  # DataType obj: no session needed at import
    def simhash_of(hash_lists: pd.Series) -> pd.Series:
        n = len(hash_lists)
        out = np.zeros(n, dtype=np.int64)
        if n:
            lens = np.array([len(hl) for hl in hash_lists], dtype=np.int64)
            flat = np.concatenate(
                [np.asarray(hl, dtype=np.int64) for hl in hash_lists if len(hl)]
            ) if lens.sum() else np.zeros(0, dtype=np.int64)
            bits = ((flat[:, None] >> bit_idx) & 1) * 2 - 1  # (total_tok × 60)
            nonempty = lens > 0
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            if offsets.size:
                np.cumsum(lens[nonempty][:-1], out=offsets[1:])
                votes = np.add.reduceat(bits, offsets, axis=0)  # (n_docs × 60)
                out[nonempty] = ((votes > 0).astype(np.int64) << bit_idx).sum(axis=1)
        return pd.Series(out, index=hash_lists.index)

    return simhash_of


_SIMHASH_UDF = _make_simhash_udf()


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc: sign of per-bit weighted token votes.

    One shuffle (groupBy doc_id collect_list of token hashes), then the
    batched vote kernel (see _make_simhash_udf) — not 60 generated
    sum(CASE) aggregate columns (whole-stage codegen took tens of
    seconds to compile that) and not one pandas group per doc. Token
    hashing stays in the shared poly-hash udf so the DuckDB oracle
    (pure SQL, no codegen) reproduces identical values.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    # hash once per DISTINCT token, broadcast back (the shingle-vocab
    # trick): the shared-vocab corpus repeats each token across many
    # docs, so per-occurrence hashing did vocabulary-sized work times
    # corpus-sized repetition. SimHash votes count every OCCURRENCE
    # (unchanged — the join fans the hash back out per posting).
    vocab, _ = pin(
        toks.select("tok").distinct().withColumn("h", _poly_hash(F.col("tok")))
    )
    hashed = toks.join(F.broadcast(vocab), "tok")
    return (
        hashed.groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"))
        .select("doc_id", _SIMHASH_UDF(F.col("hs")).alias("simhash"))
    )


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
  FROM documents
), hashed AS (SELECT doc_id, {_POLY_SQL.format(s='tok')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs within Hamming distance ≤ 3 of the 60-bit simhash.

    Two-level blocking, no quadratic code path:

    1. Collapse docs onto DISTINCT fingerprints first. A degenerate
       corpus (every doc drawn from one template) lands thousands of
       docs on a handful of identical fingerprints — banding over the
       distinct-fp table keeps the candidate join compact no matter how
       skewed the corpus is (the earlier adaptive fallback joined
       a.doc_id < b.doc_id all-pairs in exactly that case — measured
       55M banded candidates vs 12.5M all-pairs at sf0.1; over distinct
       fps the same corpus yields a few hundred candidates).
    2. Pigeonhole banding over distinct fps: split 60 bits into 4 bands
       of 15 — a pair with ≤3 differing bits agrees exactly on ≥1 band
       (lossless for threshold < band count), so candidates come from
       an equi-join on (band_idx, band_val).

    Doc pairs = (same-fp pairs, hamming 0, an equi-join on fp whose
    size is the OUTPUT size — those genuinely are all near-dup pairs)
    ∪ (cross-fp pairs expanded from the banded fp pairs).
    """
    assert HAMMING_THRESHOLD < SIMHASH_BANDS  # lossless only below band count
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    band_mask = (1 << band_bits) - 1
    sh, _ = pin(simhash_fingerprints(spark, sf_dir))

    fps = sh.select("simhash").distinct()
    bands = fps.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), band_bits * b)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("simhash", F.col("b.band_idx"), F.col("b.band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # hamming-filter FIRST, dedupe the (tiny) survivor set after — a
    # distinct on the raw banded candidate set would shuffle every band
    # collision; the survivors are a few hundred fp pairs.
    fp_pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select(
            F.col("a.simhash").alias("fp1"),
            F.col("b.simhash").alias("fp2"),
            "hamming",
        )
        .distinct()
    )

    s1 = sh.select(F.col("simhash").alias("fp"), F.col("doc_id").alias("doc1"))
    s2 = sh.select(F.col("simhash").alias("fp"), F.col("doc_id").alias("doc2"))
    same_fp = (
        s1.join(s2, "fp")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", F.lit(0).cast("int").alias("hamming"))
    )
    d1 = sh.select(F.col("simhash").alias("fp1"), F.col("doc_id").alias("da"))
    d2 = sh.select(F.col("simhash").alias("fp2"), F.col("doc_id").alias("db"))
    cross_fp = (
        fp_pairs.join(d1, "fp1")
        .join(d2, "fp2")
        .select(
            F.least("da", "db").alias("doc1"),
            F.greatest("da", "db").alias("doc2"),
            "hamming",
        )
    )
    return same_fp.unionByName(cross_fp)


def _simhash_pairs_sql() -> str:
    return f"""
WITH sh AS ({_simhash_sql()})
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""


# --- dedup cluster assignment (connected components) ------------------------

MAX_CC_ITERS = 15


@session_memo
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP assignment: connected components over the
    MinHash-LSH candidate graph, min doc_id as the cluster id — the
    step production dedup pipelines run after candidate generation
    (keep one canonical doc per component, drop the rest).

    Spark-first CC: iterative min-label propagation as DataFrame
    joins — each round every node takes the min of its own and its
    neighbors' labels; converged when no label changes. Rounds ∝
    component diameter: near-dup components are template clusters with
    tiny diameters (2-4 here; a long-chain corpus would want the
    star-contraction variant — same join primitives, fewer rounds).
    The driver-side loop holds only a changed-row COUNT per round,
    never data. Deterministic: min() is order-free.

    Oracle: exact same semantics via a recursive transitive-closure
    CTE (DuckDB) — min reachable doc_id per node.

    Memoized per (session, corpus) like hashed_shingle_postings: the label
    table is an index-shaped intermediate read by both the cluster
    query and dedup_survivors — the iterative join rounds should run
    once, not once per consumer.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_lsh_candidates(spark, sf_dir)
    edges, _ = pin(
        pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b")).unionByName(
            pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b"))
        )
    )
    labels, _ = pin(docs.select("doc_id", F.col("doc_id").alias("label")))
    for _ in range(MAX_CC_ITERS):
        nbr_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels, _ = pin(
            labels.join(nbr_min, "doc_id", "left").select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"CC did not converge in {MAX_CC_ITERS} rounds")
    # localCheckpoint, not just persist: the converged label table's
    # logical plan nests every propagation round, and each downstream
    # consumer (survivors, B-cubed's cells→marginals→terms join tree)
    # re-embeds that giant plan per reference — Catalyst re-analysis
    # alone cost ~26s/call on the B-cubed report at sf0.1 (the same
    # lesson as graph._edges_deg). Checkpointing truncates the lineage
    # to the materialized blocks.
    out = labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("doc_id")).alias("is_canonical"),
    ).localCheckpoint(eager=True)
    labels.unpersist()
    return out


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION ALL SELECT doc2, doc1 FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS cluster_id, (min(b) = a) AS is_canonical
FROM reach GROUP BY a
"""


def minhash_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup quality loop (text-side sibling of
    similarity.ann_recall_report): measure the MinHash banding's
    candidate recall/precision against the EXACT Jaccard pairs at the
    same threshold. Quantifies the banding operating point — with 4
    bands × 4 rows the analytic S-curve at j=0.5 sits low by design
    (banding is tuned for high-j pairs); this report is how a pipeline
    owner validates that trade before trusting the candidates.

    Plan: both member pipelines reuse their memoized postings/band
    tables; the report itself is three O(1)-row aggregates composed by
    one-row broadcast crosses.

    Output: one row (n_truth, n_candidates, n_hit, recall, precision)."""
    truth = ngram_jaccard_pairs(spark, sf_dir).select("doc1", "doc2")
    cand = minhash_lsh_candidates(spark, sf_dir)
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = cand.join(truth, ["doc1", "doc2"]).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
            F.round(F.col("n_hit") / F.col("n_candidates"), 6).alias("precision"),
        )
    )


def _minhash_eval_sql() -> str:
    return f"""
WITH truth AS (SELECT doc1, doc2 FROM ({NGRAM_JACCARD_SQL}) t),
cand AS ({_minhash_lsh_sql()}),
hit AS (SELECT count(*) AS n_hit FROM cand JOIN truth USING (doc1, doc2))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(n_hit / (SELECT CAST(count(*) AS DOUBLE) FROM truth), 6) AS recall,
       round(n_hit / (SELECT CAST(count(*) AS DOUBLE) FROM cand), 6) AS precision
FROM hit
"""


# --- weighted (multiset) Jaccard over the LSH candidate set ------------------


def _shingles_all(toks: Column, n: int = 3) -> Column:
    """ALL word n-gram shingles WITH multiplicity (no array_distinct) —
    the multiset `_shingles_from_toks` twin that weighted Jaccard
    needs; same short-doc guard and materialized-toks contract."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset/bag) Jaccard for every MinHash-LSH candidate
    pair: Σ min(c1,c2) / Σ max(c1,c2) over per-doc shingle COUNTS —
    the repetition-aware similarity that set Jaccard overstates for
    boilerplate-heavy docs (a doc repeating one template paragraph 10×
    shares all its distinct shingles with a single copy, but only
    ~1/10 of its mass). The standard refinement step after banded LSH
    in a dedup pipeline (reference ships none; north-star dedup).

    Exact integer arithmetic end-to-end: Σmax(c1,c2) = tot1 + tot2 −
    Σmin(c1,c2), so ONLY the intersection join is computed (candidate-
    bound work, the jaccard_strict verification shape) and the single
    double is the final fixed-arity division, rounded. Count table =
    one extra explode-count over the capped postings' shingle set,
    joined to the memoized hashed vocabulary — 8-byte h keys shuffle,
    never shingle strings.
    """
    s = hashed_shingle_postings(spark, sf_dir)  # (doc_id, shingle, h) distinct+capped
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        spread(docs, "doc_id")
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(_shingles_all(F.col("toks"))).alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # inner join keeps the hot-shingle-capped set (and attaches h)
    wpost, _ = pin(
        s.join(occ, ["doc_id", "shingle"]).select("doc_id", "h", "cnt")
    )
    tot = wpost.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    cand = minhash_lsh_candidates(spark, sf_dir)
    p1 = wpost.select(F.col("doc_id").alias("doc1"), "h", F.col("cnt").alias("c1"))
    p2 = wpost.select(F.col("doc_id").alias("doc2"), "h", F.col("cnt").alias("c2"))
    inter = (
        cand.join(p1, "doc1")
        .join(p2, ["doc2", "h"])
        .groupBy("doc1", "doc2")
        .agg(F.sum(F.least("c1", "c2")).alias("sum_min"))
    )
    # `tot` is CORPUS-sized (one row per document) — broadcasting it
    # unconditionally is a hard job failure at 100 TB (billion-row
    # table into the 8 GB broadcast cap). Apply the repo's capped-
    # broadcast-or-shuffle policy (BROADCAST_VOCAB_MAX, same as
    # hashed_shingle_postings above): broadcast only when it provably
    # fits, else plain shuffle joins on the 8-byte doc keys (AQE may
    # still elect a runtime broadcast of the candidate-bound side).
    # pinned so the gate count and BOTH t1/t2 joins share one
    # computation of the totals aggregation.
    tot, n_docs = pin(tot)
    t1 = tot.select(F.col("doc_id").alias("doc1"), F.col("tot").alias("tot1"))
    t2 = tot.select(F.col("doc_id").alias("doc2"), F.col("tot").alias("tot2"))
    if n_docs <= BROADCAST_VOCAB_MAX:
        t1, t2 = F.broadcast(t1), F.broadcast(t2)
    return (
        inter.join(t1, "doc1")
        .join(t2, "doc2")
        .select(
            "doc1",
            "doc2",
            "sum_min",
            "tot1",
            "tot2",
            F.round(
                F.col("sum_min").cast("double")
                / (F.col("tot1") + F.col("tot2") - F.col("sum_min")),
                4,
            ).alias("wjaccard"),
        )
    )


def _weighted_jaccard_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_lsh_sql()}),
postings AS ({_SHINGLES_SQL}),
occ AS (
  SELECT doc_id, shingle, count(*) AS cnt FROM (
    SELECT doc_id, unnest(
             list_transform(range(0, greatest(len(toks) - 2, 0)),
                            i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
           ) AS shingle
    FROM (SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
          FROM documents) t
  ) GROUP BY doc_id, shingle
),
w AS (
  SELECT p.doc_id, {_POLY_SQL.format(s='p.shingle')} AS h, o.cnt
  FROM postings p JOIN occ o ON o.doc_id = p.doc_id AND o.shingle = p.shingle
),
tot AS (SELECT doc_id, sum(cnt) AS tot FROM w GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, sum(least(a.cnt, b.cnt)) AS sum_min
  FROM pairs c
  JOIN w a ON a.doc_id = c.doc1
  JOIN w b ON b.doc_id = c.doc2 AND b.h = a.h
  GROUP BY c.doc1, c.doc2
)
SELECT i.doc1, i.doc2,
       CAST(i.sum_min AS BIGINT) AS sum_min,
       CAST(t1.tot AS BIGINT) AS tot1,
       CAST(t2.tot AS BIGINT) AS tot2,
       round(i.sum_min::DOUBLE / (t1.tot + t2.tot - i.sum_min), 4) AS wjaccard
FROM inter i
JOIN tot t1 ON t1.doc_id = i.doc1
JOIN tot t2 ON t2.doc_id = i.doc2
"""


def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed evaluation of the near-dup clustering against
    exact-duplicate gold: the standard extrinsic clustering metric for
    entity-resolution/dedup (Bagga & Baldwin; Amigó et al. 2009 —
    B-cubed is the only common family satisfying all four clustering-
    metric constraints). Gold groups = the exact content fingerprint
    (`dedup_exact`'s convention); predicted = `dedup_clusters`'
    connected components. Closes the dedup quality loop one level
    above `minhash_eval_report` (candidate recall): did the CLUSTERS,
    not just the candidate pairs, come out right?

    Exact shape: with cell counts n(label, gold) and marginals, each
    doc's precision |C∩G|/|C| sums per cell to n²/n_label — every
    per-cell term is ONE fixed-arity double snapped to integer
    micro-units BEFORE the cell-table sum (FIXTURES rule 5; order-
    independent), and the report's P/R/F1 are fixed-arity expressions
    over those integer sums. Cell/marginal tables are cluster-sized;
    the only corpus pass is the fingerprint projection.

    Output: one row (n_docs, n_pred_clusters, n_gold_groups,
    bcubed_precision_6, bcubed_recall_6, bcubed_f1_6)."""
    pred = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _poly_hash(F.col("text")).alias("gold")
    )
    cells = (
        pred.join(docs, "doc_id")
        .groupBy("cluster_id", "gold")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lab = cells.groupBy("cluster_id").agg(F.sum("n").alias("nl"))
    gld = cells.groupBy("gold").agg(F.sum("n").alias("ng"))
    terms = (
        cells.join(lab, "cluster_id")
        .join(gld, "gold")
        .selectExpr(
            "n",
            "cast(round(cast(n as double) * n * 1e6 / nl) as bigint) AS pm",
            "cast(round(cast(n as double) * n * 1e6 / ng) as bigint) AS rm",
        )
    )
    agg = terms.groupBy().agg(
        F.sum("n").alias("nd"),
        F.sum("pm").alias("sp"),
        F.sum("rm").alias("sr"),
    )
    k = cells.groupBy().agg(
        F.countDistinct("cluster_id").alias("n_pred"),
        F.countDistinct("gold").alias("n_gold"),
    )
    return agg.crossJoin(F.broadcast(k)).selectExpr(
        "cast(nd as bigint) AS n_docs",
        "cast(n_pred as bigint) AS n_pred_clusters",
        "cast(n_gold as bigint) AS n_gold_groups",
        "cast(round(cast(sp as double) / nd) as bigint) / 1e6"
        " AS bcubed_precision_6",
        "cast(round(cast(sr as double) / nd) as bigint) / 1e6"
        " AS bcubed_recall_6",
        "cast(round(2.0 * sp * sr / (sp + sr) / nd) as bigint) / 1e6"
        " AS bcubed_f1_6",
    )


def _bcubed_sql() -> str:
    return f"""
WITH labels AS MATERIALIZED ({_dedup_clusters_sql()}),
golds AS (SELECT doc_id, {_POLY_SQL.format(s='text')} AS gold FROM documents),
cells AS (
  SELECT l.cluster_id, g.gold, count(*) AS n
  FROM labels l JOIN golds g USING (doc_id)
  GROUP BY 1, 2
),
lab AS (SELECT cluster_id, sum(n) AS nl FROM cells GROUP BY 1),
gld AS (SELECT gold, sum(n) AS ng FROM cells GROUP BY 1),
terms AS (
  SELECT n,
         CAST(round(CAST(n AS DOUBLE) * n * 1e6 / nl) AS BIGINT) AS pm,
         CAST(round(CAST(n AS DOUBLE) * n * 1e6 / ng) AS BIGINT) AS rm
  FROM cells JOIN lab USING (cluster_id) JOIN gld USING (gold)
),
agg AS (SELECT sum(n) AS nd, sum(pm) AS sp, sum(rm) AS sr FROM terms),
k AS (SELECT count(DISTINCT cluster_id) AS n_pred,
             count(DISTINCT gold) AS n_gold FROM cells)
SELECT CAST(nd AS BIGINT) AS n_docs,
       CAST(n_pred AS BIGINT) AS n_pred_clusters,
       CAST(n_gold AS BIGINT) AS n_gold_groups,
       CAST(round(CAST(sp AS DOUBLE) / nd) AS BIGINT) / 1e6
         AS bcubed_precision_6,
       CAST(round(CAST(sr AS DOUBLE) / nd) AS BIGINT) / 1e6
         AS bcubed_recall_6,
       CAST(round(2.0 * sp * sr / (sp + sr) / nd) AS BIGINT) / 1e6
         AS bcubed_f1_6
FROM agg CROSS JOIN k
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_bcubed_eval": dedup_bcubed_eval,
    "weighted_jaccard_pairs": weighted_jaccard_pairs,
    "minhash_eval_report": minhash_eval_report,
    "dedup_clusters": dedup_clusters,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "jaccard_strict_pairs": jaccard_strict_pairs,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_candidates": minhash_lsh_candidates,
    "incremental_minhash_delta": incremental_minhash_delta,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_near_pairs": simhash_near_pairs,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_bcubed_eval": _bcubed_sql(),
    "weighted_jaccard_pairs": _weighted_jaccard_sql(),
    "minhash_eval_report": _minhash_eval_sql(),
    "dedup_clusters": _dedup_clusters_sql(),
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "jaccard_strict_pairs": JACCARD_STRICT_SQL,
    "minhash_signatures": _minhash_sig_sql(),
    "minhash_lsh_candidates": _minhash_lsh_sql(),
    "incremental_minhash_delta": _incremental_delta_sql(),
    "simhash_fingerprints": _simhash_sql(),
    "simhash_near_pairs": _simhash_pairs_sql(),
}
