"""Corpus-statistics quality ops over `documents` — the model-based
third leg of the training-data quality story (reference north star;
heuristic per-doc scores live in `text_analysis.py`, cross-doc
near-dup in `dedup.py`):

* `lm_perplexity_scores` — a bigram language model with Laplace
  smoothing trained ON the corpus, scoring each document's
  cross-entropy/perplexity under it (the CCNet/KenLM-style "does this
  look like the rest of the corpus" quality filter).
* `boilerplate_ngram_report` — cross-document frequent-5-gram fraction
  per doc within its source (Gopher-style boilerplate signal: grams
  shared verbatim by many documents of one source are template text,
  not content — distinct from `repetition_filters`' WITHIN-doc loops).
* `heavy_hitters_cms` — count-min-sketch heavy hitters with an exact
  verify pass (the third classic sketch next to `sketches.py`'s HLL
  and KLL-style quantiles); the CMS estimate is computed as data and
  pinned `est >= exact` per token.
* `embedding_outlier_report` — the vector twin of the perplexity
  filter: distance-to-own-label-centroid with an integer top-decile
  cut per label (the mislabeled/off-distribution screen over the
  `embeddings` table).

Scale notes (100 TB): everything here is expression-level token
explosion + keyed aggregation — narrow until the groupBy, partial
aggregation map-side. The LM probability table and the per-source
gram-frequency table GROW with the corpus, so both are joined as data
(shuffle hash/SMJ on the gram key), never broadcast — same policy as
`dedup.BROADCAST_VOCAB_MAX`'s fallback path, applied unconditionally
because a corpus-wide bigram vocabulary has no small-side guarantee.
The CMS bucket table is O(D×W) rows (constant), the textbook reason
count-min exists at scale; only the final heavy-candidate set is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import (
    FP_MOD,
    fingerprint,
    fingerprint_sql,
    quality_score_sql,
    tokens,
)
from spec_search_spark.operators.dedup import _POLY_SQL, _poly_hash
from spec_search_spark.session import pin, tune


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, "documents")


def _tok_arrays(docs: DataFrame, min_tokens: int) -> DataFrame:
    """(doc_id, source, t) for docs whose whitespace-token array has at
    least `min_tokens` entries. One shared base so every downstream op
    (and its oracle) agrees on the document universe."""
    return (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", "source", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= min_tokens)
    )


# --------------------------------------------------------------------------
# Bigram LM perplexity
# --------------------------------------------------------------------------


def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained bigram LM.

    Train: bigram counts c(w1,w2) and context counts c(w1) (both from
    the same bigram table, so they are mutually consistent), Laplace
    smoothing with the corpus vocabulary size V:
        P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
    Score: H(doc) = -mean(ln P) over the doc's bigram OCCURRENCES, and
    perplexity = exp(H). High perplexity = unlike the corpus = the
    CCNet quality-filter signal (reference's embedding pipeline,
    `indexer.py:62-66`, is the neural cousin of this score).

    Plan shape: bigrams are built JVM-side (slice + zip_with, no UDF,
    no shuffle), counted with partial aggregation, and the per-distinct-
    bigram log-prob table is joined back to the occurrence table on
    (w1, w2) as a plain shuffle join — the vocabulary grows with the
    corpus, so there is deliberately no broadcast here.
    """
    base = _tok_arrays(_docs(spark, sf_dir), 2)
    n = F.size("t")
    pair = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = base.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cbig = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    cctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab = base.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    prob = (
        cbig.join(cctx, "w1")
        .crossJoin(F.broadcast(vocab))  # one row, not the vocabulary
        .select(
            "w1",
            "w2",
            F.log((F.col("c_big") + 1) / (F.col("c_ctx") + F.col("v"))).alias("logp"),
        )
    )
    ent = F.round(-F.avg("logp"), 6)
    return (
        bg.join(prob, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            ent.alias("cross_entropy"),
            F.round(F.exp(ent), 3).alias("perplexity"),
        )
    )


LM_PERPLEXITY_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
  WHERE trim(text) <> '' AND len(regexp_split_to_array(trim(text), '\s+')) >= 2
), bg AS (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i FROM base) x
), cbig AS (
  SELECT w1, w2, count(*) AS c_big FROM bg GROUP BY w1, w2
), cctx AS (
  SELECT w1, count(*) AS c_ctx FROM bg GROUP BY w1
), vocab AS (
  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(t) AS tok FROM base) u
), prob AS (
  SELECT c.w1, c.w2, ln((c.c_big + 1)::DOUBLE / (x.c_ctx + v.v)) AS logp
  FROM cbig c JOIN cctx x USING (w1) CROSS JOIN vocab v
)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       round(-avg(p.logp), 6) AS cross_entropy,
       round(exp(round(-avg(p.logp), 6)), 3) AS perplexity
FROM bg b JOIN prob p ON b.w1 = p.w1 AND b.w2 = p.w2
GROUP BY b.doc_id
"""


# --------------------------------------------------------------------------
# Cross-document boilerplate n-grams
# --------------------------------------------------------------------------

BOILER_GRAM_N = 5
BOILER_MIN_DOCS = 3  # a gram in >= this many distinct docs of one source is template


def boilerplate_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 5-gram occurrences that are source-level
    boilerplate (the gram appears in >= BOILER_MIN_DOCS distinct docs
    of the SAME source). Within-doc repetition is `repetition_filters`;
    this is the cross-document template signal.

    Plan shape: grams are materialized JVM-side (transform over a
    sequence + array_join + explode, no UDF) and the corpus is exploded
    exactly ONCE — per-(source, gram, doc) occurrence counts first
    (partial agg shrinks the stream to distinct doc-gram pairs), then
    the document frequency as a count over the (source, gram) window
    partition of that pre-aggregated table. No self-join, so no second
    corpus explode; the gram vocabulary still never broadcasts
    (measured vs the join formulation: 1.60s → 1.14s at sf0.1,
    identical rows).
    """
    base = _tok_arrays(_docs(spark, sf_dir), BOILER_GRAM_N)
    n = F.size("t")
    grams = base.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - BOILER_GRAM_N),
                lambda i: F.array_join(F.slice("t", i + 1, BOILER_GRAM_N), " "),
            )
        ).alias("gram"),
    )
    per_doc_gram = grams.groupBy("source", "gram", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    from pyspark.sql.window import Window

    # rows are distinct docs per (source, gram) after the pre-agg, so a
    # plain count over the partition IS the document frequency
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("source", "gram"))
    flagged = per_doc_gram.withColumn("ndocs", ndocs)
    boiler = F.sum(
        F.when(F.col("ndocs") >= BOILER_MIN_DOCS, F.col("occ")).otherwise(F.lit(0))
    )
    return flagged.groupBy("doc_id", "source").agg(
        F.sum("occ").alias("n_grams"),
        boiler.alias("n_boiler"),
        F.round(boiler / F.sum("occ"), 6).alias("boiler_frac"),
    )


BOILERPLATE_SQL = rf"""
WITH base AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
  WHERE trim(text) <> ''
    AND len(regexp_split_to_array(trim(text), '\s+')) >= {BOILER_GRAM_N}
), g AS (
  SELECT doc_id, source, array_to_string(t[i + 1:i + {BOILER_GRAM_N}], ' ') AS gram
  FROM (SELECT doc_id, source, t,
               unnest(range(0, len(t) - {BOILER_GRAM_N - 1})) AS i
        FROM base) x
), df AS (
  SELECT source, gram, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY source, gram
)
SELECT g.doc_id, g.source,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN df.ndocs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       round(sum(CASE WHEN df.ndocs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS boiler_frac
FROM g JOIN df ON g.source = df.source AND g.gram = df.gram
GROUP BY g.doc_id, g.source
"""


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters
# --------------------------------------------------------------------------

CMS_W = 32  # buckets per row — deliberately small so collisions are REAL at test scale
CMS_ROWS = [(0, 1_000_003, 12_345), (1, 4_000_037, 6_789), (2, 7_000_003, 999)]
HH_DENOM = 200  # heavy = estimated count >= total/200 (integer compare, no float)


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch BUILT AS DATA, with an
    exact verification join. Per sketch row d: bucket_d(tok) =
    ((poly(tok)·a_d + b_d) mod P) mod W; bucket counters are plain
    partial-aggregated sums; est(tok) = min_d counter[bucket_d] — the
    classic one-sided estimate, pinned `overcount >= 0` per token.

    The poly hash runs once per DISTINCT token (vocabulary-sized), not
    per occurrence — same policy as dedup's hashed postings. At 100 TB
    the sketch table stays O(D×W) rows regardless of corpus size; only
    candidate tokens (est over threshold) are carried to the exact
    verify, which at test scale doubles as the oracle's ground truth.
    """
    base = _tok_arrays(_docs(spark, sf_dir), 1)
    # vocabulary-sized (distinct tokens), so materializing is bounded —
    # the corpus-sized token explosion underneath runs exactly once
    # instead of once per downstream branch (D projections + total +
    # verify join all read this)
    exact, _ = pin(
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .withColumn("h", fingerprint(F.col("tok")))
    )
    rows = None
    for d, a, b in CMS_ROWS:
        proj = exact.select(
            F.lit(d).alias("d"),
            (((F.col("h") * a + b) % FP_MOD) % CMS_W).alias("bucket"),
            "tok",
            "n_exact",
        )
        rows = proj if rows is None else rows.unionByName(proj)
    buckets = rows.groupBy("d", "bucket").agg(F.sum("n_exact").alias("bc"))
    est = (
        rows.join(buckets, ["d", "bucket"])
        .groupBy("tok")
        .agg(F.min("bc").alias("n_est"))
    )
    total = exact.agg(F.sum("n_exact").alias("n_total"))
    return (
        est.join(exact.select("tok", "n_exact"), "tok")
        .crossJoin(F.broadcast(total))  # one row
        .filter(F.col("n_est") * HH_DENOM >= F.col("n_total"))
        .select(
            "tok",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).alias("overcount"),
        )
    )


_CMS_VALUES = ", ".join(f"({d}, {a}, {b})" for d, a, b in CMS_ROWS)
HEAVY_HITTERS_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
), exact AS (
  SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok
), hashed AS (
  SELECT tok, n_exact, {fingerprint_sql('tok')} AS h FROM exact
), proj AS (
  SELECT r.d, ((h.h * r.a + r.b) % {FP_MOD}) % {CMS_W} AS bucket, h.tok, h.n_exact
  FROM hashed h CROSS JOIN (VALUES {_CMS_VALUES}) r(d, a, b)
), buckets AS (
  SELECT d, bucket, CAST(sum(n_exact) AS BIGINT) AS bc FROM proj GROUP BY d, bucket
), est AS (
  SELECT p.tok, min(b.bc) AS n_est
  FROM proj p JOIN buckets b ON p.d = b.d AND p.bucket = b.bucket
  GROUP BY p.tok
), total AS (
  SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM exact
)
SELECT e.tok, x.n_exact, e.n_est, e.n_est - x.n_exact AS overcount
FROM est e JOIN exact x USING (tok) CROSS JOIN total t
WHERE e.n_est * {HH_DENOM} >= t.n_total
"""


# --------------------------------------------------------------------------
# Embedding-space outlier gate
# --------------------------------------------------------------------------

OUTLIER_TOP_DENOM = 10  # flag the top 1/10 of each label by distance


def embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality gate: distance of every vector to its own
    label centroid, flagging the top decile per label as outliers —
    the mislabeled/off-distribution screen run before contrastive
    training (the vector twin of the perplexity filter above).

    Determinism contract: centroids are rounded to 8dp BEFORE the
    distance (so both engines square identical doubles), distances to
    6dp, and the decile cut is pure integer arithmetic
    (10·rank <= n+9 ⟺ rank <= ceil(n/10)) — no float percentile.

    Plan shape: posexplode to (label, dim) → partial+final avg (the
    centroid table is labels×dims rows, shuffle-joined back on the
    same keys) → one keyed sum per vector → one window pass per label.
    """
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    )
    cent = ex.groupBy("label", "dim").agg(F.round(F.avg("x"), 8).alias("c"))
    dist = (
        ex.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 6
            ).alias("dist2")
        )
    )
    from pyspark.sql.window import Window

    wl = Window.partitionBy("label")
    rn = F.row_number().over(wl.orderBy(F.desc("dist2"), "vec_id"))
    return dist.select(
        "vec_id",
        "label",
        "dist2",
        rn.alias("rnk"),
        F.count(F.lit(1)).over(wl).alias("n_label"),
    ).select(
        "vec_id",
        "label",
        "dist2",
        (F.col("rnk") * OUTLIER_TOP_DENOM <= F.col("n_label") + OUTLIER_TOP_DENOM - 1)
        .alias("is_outlier"),
    )


EMBEDDING_OUTLIER_SQL = rf"""
WITH ex AS (
  SELECT vec_id, label, i AS dim, embedding[i + 1]::DOUBLE AS x
  FROM (SELECT vec_id, label, embedding,
               unnest(range(0, len(embedding))) AS i
        FROM embeddings) t
), cent AS (
  SELECT label, dim, round(avg(x), 8) AS c FROM ex GROUP BY label, dim
), dist AS (
  SELECT e.vec_id, e.label, round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist2
  FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, dist2,
       (row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id)
          * {OUTLIER_TOP_DENOM}
        <= count(*) OVER (PARTITION BY label) + {OUTLIER_TOP_DENOM - 1})
         AS is_outlier
FROM dist
"""


# --- DSIR importance resampling --------------------------------------------

DSIR_BUCKETS = 64  # hashed unigram feature space (DSIR's hashed n-grams)
DSIR_TARGET = "src0"  # stand-in target domain (the 'wiki' of this corpus)


def _dsir_occ_unpinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-pin hashed-occurrence builder — tokenize → explode →
    Arrow poly-hash bucket. Named seam for plans/audit.py (ADVICE r11):
    the pinned table reads back as `Scan ExistingRDD`, so shape checks
    on the working subtree (ArrowEval hash required, Window forbidden)
    must run on THIS plan."""
    from spec_search_spark.session import spread

    docs = spread(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.explode("toks").alias("tok"),
        )
        .withColumn("bucket", F.pmod(_poly_hash(F.col("tok")), F.lit(DSIR_BUCKETS)))
        .select("doc_id", "source", "bucket")
    )


def dsir_importance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log importance ratio of a TARGET domain's hashed-unigram
    distribution to the raw corpus distribution, then report the
    per-source selection funnel — the method behind domain-matched
    pretraining mixtures.

    Construction: tokens hash into DSIR_BUCKETS features (same
    poly-hash both engines); Laplace-smoothed bucket probabilities for
    target (docs of DSIR_TARGET) and raw (all docs);
    log w(doc) = Σ_tokens ln(p_target(b)/p_raw(b)); a doc is selected
    when log w > 0 (more target-like than raw). Token-less docs carry
    log w = 0, never selected.

    Plan/scale: the feature table is O(DSIR_BUCKETS) rows — broadcast
    is safe BY CONSTRUCTION (hashing fixes the dimensionality; this is
    DSIR's own trick and the difference from the tf-idf vocab table,
    which grows with the corpus and takes the guarded path). One
    explode, two bucket aggregations, one broadcast join back, one
    per-doc sum, one per-source rollup. The ln-ratio argument is
    assembled with identical operation order in both engines; per-doc
    sums ride the lm_perplexity 6dp-rounding precedent.

    Output: (source, n_docs, n_selected, avg_logw)."""
    # spread + pin: the hashed-occurrence table feeds FOUR consumers
    # (raw buckets, target buckets, totals, per-doc sums), each of
    # which would otherwise re-tokenize and re-hash the corpus on the
    # single-row-group local scan's one core (spread precedes the
    # tokenize so the heavy work lands on every core; guarded no-op at
    # scale). Three int columns — token-count-sized, the same rows the
    # explode already produced.
    occ = _dsir_occ_unpinned(spark, sf_dir).localCheckpoint(eager=True)
    raw = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        occ.filter(F.col("source") == DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    totals = occ.agg(
        F.count(F.lit(1)).alias("n_r"),
        F.count(F.when(F.col("source") == DSIR_TARGET, 1)).alias("n_t"),
    )
    # all DSIR_BUCKETS rows, zero-filled: raw covers every occupied
    # bucket, target left-joins onto it (c_t=0 where the target never
    # hashed there — the Laplace +1 keeps the ratio finite)
    w = (
        raw.join(tgt, "bucket", "left")
        .na.fill({"c_t": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.log(
                ((F.col("c_t") + 1).cast("double") * (F.col("n_r") + DSIR_BUCKETS))
                / ((F.col("c_r") + 1).cast("double") * (F.col("n_t") + DSIR_BUCKETS))
            ).alias("lw"),
        )
    )
    doc_w = (
        occ.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lw").alias("logw"))
    )
    scored = (
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(doc_w, "doc_id", "left")
        .na.fill({"logw": 0.0})
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("logw") > 0, 1)).alias("n_selected"),
        F.round(F.avg("logw"), 6).alias("avg_logw"),
    )


_DSIR_H = _POLY_SQL.format(s="tok")
DSIR_SQL = f"""
WITH occ AS (
  SELECT doc_id, source,
         (({_DSIR_H} % {DSIR_BUCKETS}) + {DSIR_BUCKETS}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, source, unnest(
          CASE WHEN trim(text) = '' THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
        FROM documents) t),
raw AS (SELECT bucket, count(*) AS c_r FROM occ GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS c_t FROM occ
        WHERE source = '{DSIR_TARGET}' GROUP BY bucket),
tot AS (SELECT count(*) AS n_r,
               count(CASE WHEN source = '{DSIR_TARGET}' THEN 1 END) AS n_t
        FROM occ),
w AS (SELECT raw.bucket,
             ln((coalesce(c_t, 0) + 1)::DOUBLE * (n_r + {DSIR_BUCKETS})
                / ((c_r + 1)::DOUBLE * (n_t + {DSIR_BUCKETS}))) AS lw
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN tot),
doc_w AS (SELECT doc_id, sum(lw) AS logw
          FROM occ JOIN w USING (bucket) GROUP BY doc_id)
SELECT d.source, count(*) AS n_docs,
       count(CASE WHEN coalesce(logw, 0) > 0 THEN 1 END) AS n_selected,
       round(avg(coalesce(logw, 0)), 6) AS avg_logw
FROM documents d LEFT JOIN doc_w USING (doc_id)
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# AUC evaluation of a score column — the filter-bias audit
# --------------------------------------------------------------------------


def quality_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the heuristic `quality_score` for separating English
    documents from the rest — the language-bias audit every corpus
    quality filter needs before it silently skews the training mix
    (AUC 0.5 = unbiased, far from 0.5 = the gate is a covert lang-ID).

    Computed as the Mann–Whitney U statistic WITHOUT a global rank:
    scores collapse to the (bounded, 4dp-grid) distinct-score table
    with per-score pos/neg counts — one partial+final agg over the
    corpus — then AUC = Σ(neg_below·pos_c + pos_c·neg_c/2)/(n₁·n₀)
    accumulates over that tiny table. Everything up to the final
    division is exact integer arithmetic (the ×2 trick absorbs the
    half-credit tie term), so the 6dp AUC is one double division of
    exact integers — bit-identical cross-engine.
    """
    from pyspark.sql.window import Window

    from spec_search_spark.functions.text import quality_score

    base = (
        _docs(spark, sf_dir)
        .filter(F.trim("text") != "")
        .select(
            F.round(quality_score(F.col("text")) * 10000).cast("int").alias("q4"),
            (F.col("lang") == "en").alias("pos"),
        )
    )
    per_score = base.groupBy("q4").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("pos_c"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("neg_c"),
    )
    w = Window.orderBy("q4").rowsBetween(Window.unboundedPreceding, -1)
    num2 = per_score.select(
        (
            2 * F.coalesce(F.sum("neg_c").over(w), F.lit(0)) * F.col("pos_c")
            + F.col("pos_c") * F.col("neg_c")
        ).alias("t"),
        "pos_c",
        "neg_c",
    ).groupBy().agg(
        F.sum("t").alias("num2"),
        F.sum("pos_c").alias("n_pos"),
        F.sum("neg_c").alias("n_neg"),
    )
    return num2.select(
        "n_pos",
        "n_neg",
        F.expr("round(cast(num2 as double) / (2.0 * n_pos * n_neg), 6)").alias("auc"),
    )


def _auc_sql() -> str:
    q = quality_score_sql("text")
    return f"""
WITH base AS (
  SELECT CAST(round({q} * 10000) AS INT) AS q4, lang = 'en' AS pos
  FROM documents WHERE trim(text) <> ''
), per_score AS (
  SELECT q4,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_c,
         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS neg_c
  FROM base GROUP BY q4
), acc AS (
  SELECT 2 * coalesce(sum(neg_c) OVER (ORDER BY q4
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * pos_c
         + pos_c * neg_c AS t,
         pos_c, neg_c
  FROM per_score
)
SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
       CAST(sum(neg_c) AS BIGINT) AS n_neg,
       round(CAST(sum(t) AS DOUBLE) / (2.0 * sum(pos_c) * sum(neg_c)), 6) AS auc
FROM acc
"""


# --------------------------------------------------------------------------
# Trigram stupid-backoff LM — held-out scoring so the backoff fires
# --------------------------------------------------------------------------

TRI_FOLDS = 5       # hash folds; fold 0 is the held-out test split
TRI_BACKOFF_NUM, TRI_BACKOFF_DEN = 2, 5  # α = 0.4 as an exact rational


def trigram_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a trigram LM with stupid
    backoff (Brants et al., the web-scale smoothing that needs no
    discount tuning): S(w3|w1w2) = c3/ctx3 if the trigram was seen in
    TRAINING, else α·c2/ctx2, else α²·c1/T, else α³/V — each level an
    exact integer ratio. Unlike `lm_perplexity_scores` (trained and
    scored on the same corpus, so every n-gram is seen), this trains
    on the 80% hash-fold split and scores the held-out 20%, so the
    backoff chain genuinely fires and the per-level hit counts in the
    output prove it.

    Determinism: every scored occurrence snaps ln(level ratio) to
    integer nano-nats BEFORE the per-doc sum (FIXTURES rule 5), so the
    sum is order-independent BIGINT; cross-entropy and perplexity are
    fixed-arity snapped doubles from shared SQL text.

    Plan shape: n-grams built JVM-side (slice+zip_with, no shuffle);
    model tables are vocabulary-keyed and join the test occurrences as
    plain shuffle joins (the vocabulary grows with the corpus — never
    broadcast); the (V, T) scalars ride a one-row broadcast. Scoring
    cost ∝ held-out size; training cost is the two count aggs."""
    tune(spark)
    # NOT spread/pinned (measured, optimization r11): the 5-7 consumers
    # of base/grams are INDEPENDENT subtrees whose single-task scans
    # run concurrently under AQE — wall time equals one scan pass, and
    # adding a spread exchange or eager pins serialized the pipeline
    # (1.5s -> 2.1-2.5s measured at sf0.1).
    base = _tok_arrays(_docs(spark, sf_dir), 3).withColumn(
        "fold",
        F.pmod(
            _poly_hash(F.concat(F.lit("lm3:"), F.col("doc_id").cast("string"))),
            F.lit(TRI_FOLDS),
        ),
    )
    n = F.size("t")
    tri = F.zip_with(
        F.slice("t", 1, n - 2),
        F.zip_with(
            F.slice("t", 2, n - 2),
            F.slice("t", 3, n - 2),
            lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
        ),
        lambda a, bc: F.struct(
            a.alias("w1"), bc.w2.alias("w2"), bc.w3.alias("w3")
        ),
    )
    grams = base.select("doc_id", "fold", F.explode(tri).alias("g")).select(
        "doc_id", "fold", "g.w1", "g.w2", "g.w3"
    )
    train = grams.filter(F.col("fold") != 0)
    test = grams.filter(F.col("fold") == 0)
    c3 = train.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ctx3 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("ctx3"))
    c2 = train.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("c2"))
    ctx2 = train.groupBy("w2").agg(F.count(F.lit(1)).alias("ctx2"))
    toks_train = base.filter(F.col("fold") != 0).select(
        F.explode("t").alias("tok")
    )
    c1 = toks_train.groupBy(F.col("tok").alias("w3")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    scal = toks_train.agg(
        F.count(F.lit(1)).alias("t_total"),
        F.countDistinct("tok").alias("v"),
    )
    a_num, a_den = TRI_BACKOFF_NUM, TRI_BACKOFF_DEN
    joined = (
        test.join(c3.join(ctx3, ["w1", "w2"]), ["w1", "w2", "w3"], "left")
        .join(c2.join(ctx2, ["w2"]), ["w2", "w3"], "left")
        .join(c1, ["w3"], "left")
        .crossJoin(F.broadcast(scal))
    )
    nn = F.expr(
        f"""cast(round(CASE
          WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / ctx3)
          WHEN c2 IS NOT NULL THEN
            ln(CAST({a_num} * c2 AS DOUBLE) / ({a_den} * ctx2))
          WHEN c1 IS NOT NULL THEN
            ln(CAST({a_num} * {a_num} * c1 AS DOUBLE)
               / ({a_den} * {a_den} * t_total))
          ELSE ln(CAST({a_num} * {a_num} * {a_num} AS DOUBLE)
                  / ({a_den} * {a_den} * {a_den} * v))
        END * 1e9) as bigint)"""
    )
    lvl = F.expr(
        "CASE WHEN c3 IS NOT NULL THEN 'tri' WHEN c2 IS NOT NULL THEN 'big'"
        " WHEN c1 IS NOT NULL THEN 'uni' ELSE 'oov' END"
    )
    per = joined.select("doc_id", nn.alias("nn"), lvl.alias("lvl")).groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum(F.expr("CASE WHEN lvl = 'big' THEN 1 ELSE 0 END")).cast(
            "bigint"
        ).alias("n_backoff_bigram"),
        F.sum(F.expr("CASE WHEN lvl = 'uni' THEN 1 ELSE 0 END")).cast(
            "bigint"
        ).alias("n_backoff_unigram"),
        F.sum(F.expr("CASE WHEN lvl = 'oov' THEN 1 ELSE 0 END")).cast(
            "bigint"
        ).alias("n_oov"),
        F.sum("nn").cast("bigint").alias("sum_nn"),
    )
    return per.selectExpr(
        "doc_id",
        "n_trigrams",
        "n_backoff_bigram",
        "n_backoff_unigram",
        "n_oov",
        "cast(round(-sum_nn / (n_trigrams * 1e9) * 1e6) as bigint) / 1e6"
        " AS cross_entropy",
        "cast(round(exp(cast(round(-sum_nn / (n_trigrams * 1e9) * 1e6)"
        " as bigint) / 1e6) * 1e3) as bigint) / 1e3 AS perplexity",
    )


_TRI_H = _POLY_SQL.format(s="'lm3:' || CAST(doc_id AS VARCHAR)")
TRIGRAM_BACKOFF_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         ((({_TRI_H}) % {TRI_FOLDS}) + {TRI_FOLDS}) % {TRI_FOLDS} AS fold,
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
  WHERE trim(text) <> ''
    AND len(regexp_split_to_array(trim(text), '\s+')) >= 3
), grams AS (
  SELECT doc_id, fold, t[i + 1] AS w1, t[i + 2] AS w2, t[i + 3] AS w3
  FROM (SELECT doc_id, fold, t, unnest(range(0, len(t) - 2)) AS i FROM base) x
), train AS (SELECT * FROM grams WHERE fold <> 0),
test AS (SELECT * FROM grams WHERE fold = 0),
c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM train GROUP BY 1, 2, 3),
ctx3 AS (SELECT w1, w2, count(*) AS ctx3 FROM train GROUP BY 1, 2),
c2 AS (SELECT w2, w3, count(*) AS c2 FROM train GROUP BY 1, 2),
ctx2 AS (SELECT w2, count(*) AS ctx2 FROM train GROUP BY 1),
toks AS (
  SELECT unnest(t) AS tok FROM base WHERE fold <> 0
), c1 AS (SELECT tok AS w3, count(*) AS c1 FROM toks GROUP BY 1),
scal AS (SELECT count(*) AS t_total, count(DISTINCT tok) AS v FROM toks),
scored AS (
  SELECT t.doc_id,
         CASE WHEN x3.c3 IS NOT NULL THEN 'tri'
              WHEN x2.c2 IS NOT NULL THEN 'big'
              WHEN x1.c1 IS NOT NULL THEN 'uni' ELSE 'oov' END AS lvl,
         CAST(round(CASE
           WHEN x3.c3 IS NOT NULL THEN ln(CAST(x3.c3 AS DOUBLE) / x3.ctx3)
           WHEN x2.c2 IS NOT NULL THEN
             ln(CAST({TRI_BACKOFF_NUM} * x2.c2 AS DOUBLE)
                / ({TRI_BACKOFF_DEN} * x2.ctx2))
           WHEN x1.c1 IS NOT NULL THEN
             ln(CAST({TRI_BACKOFF_NUM} * {TRI_BACKOFF_NUM} * x1.c1 AS DOUBLE)
                / ({TRI_BACKOFF_DEN} * {TRI_BACKOFF_DEN} * s.t_total))
           ELSE ln(CAST({TRI_BACKOFF_NUM} * {TRI_BACKOFF_NUM} * {TRI_BACKOFF_NUM} AS DOUBLE)
                   / ({TRI_BACKOFF_DEN} * {TRI_BACKOFF_DEN} * {TRI_BACKOFF_DEN} * s.v))
         END * 1e9) AS BIGINT) AS nn
  FROM test t
  LEFT JOIN (SELECT a.w1, a.w2, a.w3, a.c3, b.ctx3
             FROM c3 a JOIN ctx3 b USING (w1, w2)) x3
    ON t.w1 = x3.w1 AND t.w2 = x3.w2 AND t.w3 = x3.w3
  LEFT JOIN (SELECT a.w2, a.w3, a.c2, b.ctx2
             FROM c2 a JOIN ctx2 b USING (w2)) x2
    ON t.w2 = x2.w2 AND t.w3 = x2.w3
  LEFT JOIN c1 x1 ON t.w3 = x1.w3
  CROSS JOIN scal s
), per AS (
  SELECT doc_id, count(*) AS n_trigrams,
         sum(CASE WHEN lvl = 'big' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN lvl = 'uni' THEN 1 ELSE 0 END) AS nu,
         sum(CASE WHEN lvl = 'oov' THEN 1 ELSE 0 END) AS no,
         sum(nn) AS sum_nn
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_trigrams,
       CAST(nb AS BIGINT) AS n_backoff_bigram,
       CAST(nu AS BIGINT) AS n_backoff_unigram,
       CAST(no AS BIGINT) AS n_oov,
       CAST(round(-CAST(sum_nn AS BIGINT) / (n_trigrams * 1e9) * 1e6)
            AS BIGINT) / 1e6 AS cross_entropy,
       CAST(round(exp(CAST(round(-CAST(sum_nn AS BIGINT)
              / (n_trigrams * 1e9) * 1e6) AS BIGINT) / 1e6) * 1e3)
            AS BIGINT) / 1e3 AS perplexity
FROM per
"""


QUERIES = {
    "lm_perplexity_scores": lm_perplexity_scores,
    "dsir_importance_report": dsir_importance_report,
    "boilerplate_ngram_report": boilerplate_ngram_report,
    "heavy_hitters_cms": heavy_hitters_cms,
    "embedding_outlier_report": embedding_outlier_report,
    "quality_auc_by_lang": quality_auc_by_lang,
    "trigram_backoff_scores": trigram_backoff_scores,
}

ORACLES = {
    "lm_perplexity_scores": LM_PERPLEXITY_SQL,
    "dsir_importance_report": DSIR_SQL,
    "boilerplate_ngram_report": BOILERPLATE_SQL,
    "heavy_hitters_cms": HEAVY_HITTERS_SQL,
    "embedding_outlier_report": EMBEDDING_OUTLIER_SQL,
    "quality_auc_by_lang": _auc_sql(),
    "trigram_backoff_scores": TRIGRAM_BACKOFF_SQL,
}
