"""Unigram-LM subword segmentation (Kudo 2018 — the SentencePiece
``unigram`` model): seed a piece vocabulary from substring counts,
score pieces by log-probability, and Viterbi-segment every word into
its maximum-likelihood piece sequence (the E-step whose piece counts
drive SentencePiece's EM prune loop). Completes the tokenizer-training
family beside the BPE merge trainer (text_analysis.bpe_train_merges):
BPE builds the vocab bottom-up by merging, unigram scores a seeded
vocab top-down by segmentation likelihood.

Not in the reference (its text handling stops at chunk+embed,
`/root/reference/indexer.py:29-66`); first-class for the
training-data north star — the tokenizer IS part of the data
pipeline at 100 TB.

Scale shape (the BPE-trainer discipline: work ∝ VOCABULARY, never
corpus, after one corpus scan):
- one distributed scan builds the (word, count) table; everything
  after is vocabulary-bound;
- the Viterbi DP is ROW-LOCAL: the piece-score table is a bounded
  model artifact (≤ SEED_V + |alphabet| rows) collected into a map
  literal, and the whole per-word recurrence folds inside a single
  codegen'd `aggregate` over the word's ≤MAXW positions — zero
  exchanges, zero checkpoints (see _viterbi for the r8
  level-synchronous join form this replaced and why);
- piece scores live in a ≤SEED_V-row map literal (collected bounded
  artifact, the kmeans-centroid class).

Cross-engine determinism: piece scores are INTEGER log-probs
(round((ln(cnt) − ln(total))·10⁶) as BIGINT — the 6-dp rounding that
absorbs libm ulp skew, bm25.py's contract), so the DP argmax compares
exact integers; ties break on the earliest split point (longest last
piece), replayed identically by the unrolled MATERIALIZED-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.text import RE_TOKEN_SPLIT
from spec_search_spark.session import pin, tune

MAXP = 4  # max piece length (seed substrings)
MAXW = 12  # max word length admitted to the DP
SEED_V = 64  # seed vocabulary size (top substrings by weighted count)
TOP_OUT = 30  # emitted pieces


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, wcnt): distinct corpus words with counts — the ONE
    corpus-scale pass."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), RE_TOKEN_SPLIT)).alias("w")
    )
    return (
        toks.select(F.lower("w").alias("word"))
        .filter((F.length("word") > 0) & (F.length("word") <= MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


def _vocab0(words: DataFrame) -> DataFrame:
    """(piece, cnt): seed pieces = top-SEED_V substrings of length
    ≤ MAXP by weighted count, UNION all single characters
    (guaranteeing every word segments)."""
    lens = F.sequence(F.lit(1), F.lit(MAXP))
    subs = words.select(
        "wcnt",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.length("word") - 1),
                    lambda i: F.filter(
                        F.transform(
                            lens, lambda l: F.substr(F.col("word"), i + 1, l)
                        ),
                        # keep only un-truncated slices: the element at
                        # index idx was asked for length idx+1 (substr
                        # silently truncates at word end, which would
                        # duplicate the tail piece at several lengths)
                        lambda p, idx: F.length(p) == idx + 1,
                    ),
                )
            )
        ).alias("piece"),
    )
    cnts = subs.groupBy("piece").agg(F.sum("wcnt").alias("cnt"))
    top = cnts.orderBy(F.desc("cnt"), "piece").limit(SEED_V)
    chars = cnts.filter(F.length("piece") == 1)
    return (
        top.unionByName(chars)
        .groupBy("piece")
        .agg(F.max("cnt").alias("cnt"))
    )


def _score(v0: DataFrame) -> DataFrame:
    """(piece, cnt) → (piece, score_e6): integer log-probs."""
    tot = v0.agg(F.sum("cnt").alias("t"))
    return v0.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.round((F.log("cnt") - F.log("t")) * 1_000_000, 0)
        .cast("bigint")
        .alias("score_e6"),
    )


def _viterbi(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, wcnt, total, seg): max-likelihood segmentation per word
    (seg = pieces joined by '·'), ROW-LOCAL DP.

    The DP over a word's ≤MAXW character positions is independent per
    word once the piece scores are known, and the score table is a
    BOUNDED model artifact (≤ SEED_V top substrings + the corpus
    alphabet — the kmeans-centroid collect class), so the whole
    recurrence runs inside one codegen'd projection: the collected
    scores become a map literal, and `aggregate` folds positions
    j = 1..len(word), each step taking the struct-max over the ≤MAXP
    back-arms (total, −i, seg) — the same comparator as a per-level
    groupBy-max, so ties break identically (earliest split point).

    This replaced the r8 level-synchronous join DP (MAXW rounds of
    union→broadcast-join→argmax, each eagerly localCheckpointed):
    correct and vocabulary-bound, but 13 serially-scheduled jobs per
    Viterbi chain — a fixed ~22s floor for the EM report's two chains
    (VERDICT r8 'what's wrong' #2). Row-local form: ZERO exchanges,
    zero checkpoints, one job when consumed, byte-identical output.
    At 100 TB the words table is corpus-vocabulary-sized and the DP
    stays embarrassingly parallel across its partitions."""
    pieces = vocab.collect()  # bounded: ≤ SEED_V + |alphabet| rows
    score_map = F.create_map(
        *[
            lit
            for r in pieces
            for lit in (F.lit(r["piece"]), F.lit(int(r["score_e6"])))
        ]
    )
    word = F.col("word")

    def step(acc, j):
        # candidates from back-arms i ∈ [max(0, j−MAXP), j−1]
        def cand(i):
            prev = F.element_at(acc, (i + 1).cast("int"))
            piece = word.substr((i + 1).cast("int"), (j - i).cast("int"))
            sc = F.element_at(score_map, piece)
            return F.when(
                prev.isNotNull() & sc.isNotNull(),
                F.struct(
                    (prev["total"] + sc).alias("total"),
                    (-i).cast("bigint").alias("neg_i"),
                    F.when(prev["seg"] == "", piece)
                    .otherwise(F.concat(prev["seg"], F.lit("·"), piece))
                    .alias("seg"),
                ),
            )

        best_j = F.array_max(
            F.filter(
                F.transform(
                    F.sequence(F.greatest(F.lit(0).cast("bigint"), j - MAXP), j - 1),
                    cand,
                ),
                lambda c: c.isNotNull(),
            )
        )
        nxt = F.when(
            best_j.isNotNull(),
            F.struct(
                best_j["total"].alias("total"), best_j["seg"].alias("seg")
            ),
        )
        return F.concat(acc, F.array(nxt))

    init = F.array(
        F.struct(
            F.lit(0).cast("bigint").alias("total"), F.lit("").alias("seg")
        )
    )
    dp = F.aggregate(
        F.sequence(F.lit(1).cast("bigint"), F.length("word").cast("bigint")),
        init,
        step,
    )
    final = F.element_at(dp, (F.length("word") + 1).cast("int"))
    return words.select(
        "word",
        "wcnt",
        final["total"].alias("total"),
        final["seg"].alias("seg"),
    )


def unigram_lm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_OUT pieces by Viterbi-segmented corpus frequency — the
    SentencePiece E-step piece table.

    Output: (piece, n_tokens, prob)."""
    tune(spark)
    # pin the vocabulary-sized word table: the seed-vocab build and the
    # Viterbi projection both read it
    words, _ = pin(_words(spark, sf_dir))
    vocab = _score(_vocab0(words))
    finals = _viterbi(words, vocab)
    segs = finals.select(
        "wcnt", F.explode(F.split("seg", "·")).alias("piece")
    )
    out = segs.groupBy("piece").agg(F.sum("wcnt").alias("n_tokens"))
    tot = out.agg(F.sum("n_tokens").alias("t"))
    return (
        out.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "n_tokens",
            # snap, not round(x, 6): FIXTURES rule 2 — Spark's scaled
            # round and DuckDB's can split on rational ratios
            F.expr(
                "cast(round(n_tokens / cast(t as double) * 1e6) as bigint)"
                " / 1e6"
            ).alias("prob"),
        )
        .orderBy(F.desc("n_tokens"), "piece")
        .limit(TOP_OUT)
    )


def unigram_lm_em_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece EM loop actually turning — one row per
    iteration: the M-step re-scores pieces from the previous Viterbi
    counts (pieces that won no segmentation are PRUNED; single
    characters are floored at count 1, SentencePiece's required-char
    rule) and the corpus re-segments under the new scores. The report
    exposes what the loop changes: the vocabulary shrinks (seed prior
    → segmentation winners) and the corpus log-likelihood under each
    iteration's OWN model is the quantity EM drives. All columns are
    exact integers (piece counts; LL in 10⁻⁶-nat units as the sum of
    the integer Viterbi path scores weighted by word counts), so both
    iterations carry a full value oracle — not just invariants.

    Output: (iteration, vocab_pieces, n_tokens, ll_e6)."""
    tune(spark)
    # words is the vocabulary-sized artifact EVERY later stage reads
    # (seed counts, both Viterbi chains); pin it so the corpus scan +
    # tokenize runs once, not once per consumer. finals1 likewise feeds
    # both the M-step counts and the iteration-1 report row.
    words, _ = pin(_words(spark, sf_dir))
    # v0 is the vocabulary-sized seed artifact with FOUR lazy readers
    # (viterbi-1's score collect, the iteration-1 vocab count, the
    # required-char anti-join, and vocab2's score via keep_chars) —
    # pin it so the substring-explode aggregation over words runs once
    v0, _ = pin(_vocab0(words))

    def em_row(it: int, vocab: DataFrame, finals: DataFrame) -> DataFrame:
        n_pieces = vocab.agg(F.count(F.lit(1)).alias("vocab_pieces"))
        stats = finals.agg(
            F.sum(
                F.col("wcnt") * F.size(F.split("seg", "·"))
            ).alias("n_tokens"),
            F.sum(F.col("wcnt") * F.col("total")).alias("ll_e6"),
        )
        return n_pieces.crossJoin(stats).select(
            F.lit(it).cast("bigint").alias("iteration"),
            F.col("vocab_pieces").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.col("ll_e6").cast("bigint"),
        )

    vocab1 = _score(v0)
    finals1, _ = pin(_viterbi(words, vocab1))
    counts1 = (
        finals1.select("wcnt", F.explode(F.split("seg", "·")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcnt").alias("cnt"))
    )
    keep_chars = (
        v0.filter(F.length("piece") == 1)
        .join(counts1.select("piece"), "piece", "left_anti")
        .select("piece", F.lit(1).cast("bigint").alias("cnt"))
    )
    # vocab2 likewise feeds viterbi-2's collect AND the iteration-2
    # vocab count; pinning it stops the counts1 re-aggregation
    vocab2, _ = pin(_score(counts1.unionByName(keep_chars)))
    finals2 = _viterbi(words, vocab2)
    return (
        em_row(1, vocab1, finals1)
        .unionByName(em_row(2, vocab2, finals2))
        .orderBy("iteration")
    )


def _dp_sql(sfx: str, vocab_name: str) -> str:
    """The unrolled MAXW-level Viterbi chain with suffixed CTE names,
    ending in finals{sfx} — reused by both EM iterations."""
    parts = [
        f""",
best0{sfx} AS (SELECT word, wcnt, 0::BIGINT AS total, '' AS seg FROM words)"""
    ]
    for j in range(1, MAXW + 1):
        arms = []
        for i in range(max(0, j - MAXP), j):
            arms.append(
                f"""
      SELECT b.word, b.wcnt, b.total + v.score_e6 AS total, {i} AS i,
             CASE WHEN b.seg = '' THEN v.piece
                  ELSE b.seg || '·' || v.piece END AS seg
      FROM best{i}{sfx} b JOIN {vocab_name} v
        ON v.piece = substr(b.word, {i} + 1, {j - i})
      WHERE length(b.word) >= {j}"""
            )
        union = "\n      UNION ALL".join(arms)
        parts.append(
            f""",
best{j}{sfx} AS MATERIALIZED (
  SELECT word, wcnt, total, seg FROM (
    SELECT *, row_number() OVER (PARTITION BY word
                                 ORDER BY total DESC, i ASC) AS rn
    FROM ({union})
  ) WHERE rn = 1
)"""
        )
    finals = "\n  UNION ALL ".join(
        f"SELECT wcnt, total, seg FROM best{j}{sfx} WHERE length(word) = {j}"
        for j in range(1, MAXW + 1)
    )
    parts.append(
        f""",
finals{sfx} AS MATERIALIZED (
  {finals}
)"""
    )
    return "".join(parts)


def _out_sql(finals_name: str) -> str:
    return f""",
pieces AS (
  SELECT unnest(string_split(seg, '·')) AS piece, wcnt FROM {finals_name}
),
out AS (
  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS n_tokens
  FROM pieces GROUP BY piece
),
ot AS (SELECT sum(n_tokens) AS t FROM out)
SELECT piece, n_tokens,
       CAST(round(n_tokens / CAST(t AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS prob
FROM out, ot
ORDER BY n_tokens DESC, piece
LIMIT {TOP_OUT}"""


def _em_report_sql() -> str:
    mstep = f""",
counts1 AS MATERIALIZED (
  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt
  FROM (SELECT wcnt, unnest(string_split(seg, '·')) AS piece FROM finals)
  GROUP BY piece
),
keep_chars AS (
  SELECT piece, 1::BIGINT AS cnt FROM vocab0
  WHERE length(piece) = 1 AND piece NOT IN (SELECT piece FROM counts1)
),
v2 AS (SELECT * FROM counts1 UNION ALL SELECT * FROM keep_chars),
tot2 AS (SELECT sum(cnt) AS t FROM v2),
vocab2 AS MATERIALIZED (
  SELECT piece,
         CAST(round((ln(cnt) - ln(t)) * 1000000, 0) AS BIGINT) AS score_e6
  FROM v2, tot2
)"""
    row = """
  SELECT CAST({it} AS BIGINT) AS iteration,
         (SELECT CAST(count(*) AS BIGINT) FROM {vocab}) AS vocab_pieces,
         (SELECT CAST(sum(wcnt * len(string_split(seg, '·'))) AS BIGINT)
          FROM {finals}) AS n_tokens,
         (SELECT CAST(sum(wcnt * total) AS BIGINT)
          FROM {finals}) AS ll_e6"""
    tail = (
        "\n"
        + row.format(it=1, vocab="vocab", finals="finals")
        + "\nUNION ALL"
        + row.format(it=2, vocab="vocab2", finals="finals_2")
        + "\nORDER BY iteration"
    )
    return (
        _head_sql()
        + _dp_sql("", "vocab")
        + mstep
        + _dp_sql("_2", "vocab2")
        + tail
    )


def _head_sql() -> str:
    return f"""
WITH toks AS (
  SELECT lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS word
  FROM documents WHERE trim(text) <> ''
),
words AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS wcnt FROM toks
  WHERE length(word) > 0 AND length(word) <= {MAXW}
  GROUP BY word
),
subs AS (
  SELECT substr(word, i + 1, l) AS piece, sum(wcnt) AS cnt
  FROM words,
       unnest(range(0, length(word))) AS u(i),
       unnest(range(1, {MAXP} + 1)) AS v(l)
  WHERE i + l <= length(word)
  GROUP BY 1
),
top AS (SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece LIMIT {SEED_V}),
chars AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
vocab0 AS (
  SELECT piece, max(cnt) AS cnt
  FROM (SELECT * FROM top UNION ALL SELECT * FROM chars)
  GROUP BY piece
),
tot AS (SELECT sum(cnt) AS t FROM vocab0),
vocab AS MATERIALIZED (
  SELECT piece,
         CAST(round((ln(cnt) - ln(t)) * 1000000, 0) AS BIGINT) AS score_e6
  FROM vocab0, tot
)"""


def _sql() -> str:
    return _head_sql() + _dp_sql("", "vocab") + _out_sql("finals")


QUERIES = {
    "unigram_lm_segmentation": unigram_lm_segmentation,
    "unigram_lm_em_report": unigram_lm_em_report,
}
ORACLES = {
    "unigram_lm_segmentation": _sql(),
    "unigram_lm_em_report": _em_report_sql(),
}
