"""Fuzzy string matching: edit-distance self-join over a name
vocabulary (the character-level sibling of dedup.py's token-level
similarity family; the reference's only string matching is exact cell
equality, `/root/reference/project_search.py:50-52` — this is the
engine extension a catalog-cleaning / entity-resolution user needs).

Scale design, outside-in:

1. **Collapse to the vocabulary first.** Part names repeat heavily
   (64 distinct among 20k rows at sf0.1); matching row-level pairs is
   quadratic in the duplication factor for zero information. The join
   runs over DISTINCT names carrying member counts — the same
   collapse simhash applies to fingerprints.
2. **Lossless blocking, then exact verify.** Candidates come from
   (a) the length filter |len(a)−len(b)| ≤ d (edit distance ≥ length
   difference) and (b) a positional q-gram filter (Gravano et al.,
   VLDB'01): strings within edit distance d share at least
   max(len)−q+1−q·d q-grams aligned within position shift ≤ d. The
   q-gram match count here may double-count a gram matching multiple
   positions — that only ADMITS extra candidates (safe), never drops
   a true pair. Survivors are verified with the exact
   `levenshtein()` builtin; the oracle is the naive banded all-pairs
   join, so the blocked plan must reproduce it bit-for-bit.
3. At 100 TB the q-gram inverted index is the shuffle key (short
   string fragments), the vocabulary is corpus-sublinear, and no
   unblocked pair join exists in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, session_memo, tune

EDIT_D = 2  # max edit distance
QGRAM = 3

# For max(len) ≤ SHORT_LEN the q-gram count bound max(len)−q+1−q·d is
# ≤ 0 — two such strings can be within EDIT_D while sharing ZERO
# q-grams, so the gram index is powerless there and those pairs must be
# enumerated directly (bounded: the ≤SHORT_LEN name subset is a tiny,
# alphabet-bounded slice of any vocabulary).
SHORT_LEN = QGRAM - 1 + QGRAM * EDIT_D


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part-name pairs within edit distance EDIT_D, with
    member counts. Output identical to the naive banded all-pairs
    levenshtein join (the oracle)."""
    tune(spark)
    part = load_table(spark, sf_dir, "part")
    vocab = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("members")
    )
    v = vocab.withColumn("len", F.length("name"))

    # positional q-gram postings over the vocabulary
    grams = v.select(
        "name",
        "len",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(name) - {QGRAM - 1}, 1)),"
                f" i -> substring(name, i, {QGRAM}))"
            )
        ).alias("pos", "gram"),
    )
    ga, gb = grams.alias("a"), grams.alias("b")
    matched = (
        ga.join(
            gb,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.name") < F.col("b.name"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= EDIT_D)
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= EDIT_D),
        )
        .groupBy(
            F.col("a.name").alias("name1"),
            F.col("b.name").alias("name2"),
            F.col("a.len").alias("len1"),
            F.col("b.len").alias("len2"),
        )
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    # q-gram count lower bound: max(len)−q+1−q·d (admits supersets —
    # double-matched grams only add candidates, verified exactly below)
    cand = matched.filter(
        F.col("n_matched")
        >= F.greatest("len1", "len2") - F.lit(QGRAM - 1) - F.lit(QGRAM * EDIT_D)
    ).select("name1", "name2")

    # short-string fallback: pairs the gram bound cannot prune
    sh = v.filter(F.col("len") <= SHORT_LEN)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    short_pairs = sa.join(
        sb,
        (F.col("sa.name") < F.col("sb.name"))
        & (F.abs(F.col("sa.len") - F.col("sb.len")) <= EDIT_D)
        & (F.greatest(F.col("sa.len"), F.col("sb.len")) <= SHORT_LEN),
    ).select(F.col("sa.name").alias("name1"), F.col("sb.name").alias("name2"))

    verified = (
        cand.unionByName(short_pairs)
        .distinct()
        .withColumn("dist", F.levenshtein("name1", "name2"))
        .filter(F.col("dist") <= EDIT_D)
    )
    m1 = vocab.select(F.col("name").alias("name1"), F.col("members").alias("members1"))
    m2 = vocab.select(F.col("name").alias("name2"), F.col("members").alias("members2"))
    return (
        verified.join(m1, "name1")
        .join(m2, "name2")
        .select("name1", "name2", "dist", "members1", "members2")
    )


FUZZY_SQL = f"""
WITH vocab AS (
  SELECT p_name AS name, count(*) AS members FROM part GROUP BY p_name
)
SELECT a.name AS name1, b.name AS name2,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       a.members AS members1, b.members AS members2
FROM vocab a JOIN vocab b
  ON a.name < b.name
 AND abs(length(a.name) - length(b.name)) <= {EDIT_D}
 AND levenshtein(a.name, b.name) <= {EDIT_D}
"""


MAX_ER_ITERS = 12


@session_memo
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part-name vocabulary:
    blocking + verified fuzzy matching (fuzzy_name_pairs) → connected
    components over the match graph (the dedup_clusters min-label
    propagation, here with lexicographic string labels — ASCII names,
    so both engines order identically) → survivorship: the canonical
    record of each entity is its highest-`members` name (min-name
    tiebreak), the master-data rule "keep the variant seen most".

    Scale: inherits the fuzzy join's q-gram blocking (no quadratic
    verify), CC rounds ∝ component diameter (typo clusters are tiny
    stars), survivorship is one window over components. Driver holds
    per-round changed-counts only.

    Output: (entity_id, name, members, cluster_size, is_canonical)."""
    from pyspark.sql import Window

    tune(spark)
    part = load_table(spark, sf_dir, "part")
    vocab = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("members")
    )
    pairs = fuzzy_name_pairs(spark, sf_dir).select("name1", "name2")
    edges, _ = pin(
        pairs.select(F.col("name1").alias("a"), F.col("name2").alias("b")).unionByName(
            pairs.select(F.col("name2").alias("a"), F.col("name1").alias("b"))
        )
    )
    labels, _ = pin(vocab.select("name", F.col("name").alias("label")))
    for _ in range(MAX_ER_ITERS):
        nbr_min = (
            edges.join(labels, edges.b == labels.name)
            .groupBy(F.col("a").alias("name"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels, _ = pin(
            labels.join(nbr_min, "name", "left").select(
                "name",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "name")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"ER components did not converge in {MAX_ER_ITERS} rounds")

    # localCheckpoint truncates the per-round join lineage (the plan
    # text otherwise nests every CC iteration — the graph-pack lesson);
    # memoized per session like dedup_clusters' label table
    labels = labels.localCheckpoint(eager=True)
    clustered = labels.join(vocab, "name").select(
        F.col("label").alias("entity_id"), "name", "members"
    )
    w = Window.partitionBy("entity_id")
    wr = Window.partitionBy("entity_id").orderBy(F.desc("members"), "name")
    return clustered.select(
        "entity_id",
        "name",
        "members",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.row_number().over(wr) == 1).alias("is_canonical"),
    )


ER_SQL = f"""
WITH RECURSIVE vocab AS (
  SELECT p_name AS name, count(*) AS members FROM part GROUP BY p_name
),
pairs AS (
  SELECT a.name AS name1, b.name AS name2
  FROM vocab a JOIN vocab b
    ON a.name < b.name
   AND abs(length(a.name) - length(b.name)) <= {EDIT_D}
   AND levenshtein(a.name, b.name) <= {EDIT_D}
),
edges AS (SELECT name1 AS a, name2 AS b FROM pairs
          UNION ALL SELECT name2, name1 FROM pairs),
reach(a, b) AS (
  SELECT name, name FROM vocab
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clustered AS (
  SELECT r.a AS name, min(r.b) AS entity_id FROM reach r GROUP BY r.a
)
SELECT c.entity_id, c.name, v.members,
       CAST(count(*) OVER (PARTITION BY c.entity_id) AS BIGINT) AS cluster_size,
       (row_number() OVER (PARTITION BY c.entity_id
                           ORDER BY v.members DESC, c.name) = 1) AS is_canonical
FROM clustered c JOIN vocab v USING (name)
"""


# --- Fellegi-Sunter probabilistic linkage scoring ---------------------------

FS_FIELDS = ("p_brand", "p_type", "p_size")

#: shared Laplace-smoothed log2 weight from four integer counts —
#: identical SQL text in both engines, snapped to integer micro-bits.
_FS_W = (
    "cast(round(log2(((CAST({mn} AS DOUBLE) + 1) / (m_den + 2))"
    " / ((CAST({un} AS DOUBLE) + 1) / (u_den + 2))) * 1e6) as bigint)"
)


def fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the fuzzy-name
    candidate blocks: every record pair whose names are within
    EDIT_D edits is scored by the agreement PATTERN of
    (brand, type, size), with match/unmatch weights log2(m/u)
    estimated from the data itself — m from the same-name "duplicate
    proxy" pairs, u from random pairs — the Splink/RecordLinkage
    model this engine's entity_resolution clusters feed into. Output:
    ≤2³ rows, one per agreement pattern γ, with exact pair counts and
    the pattern's total log2 match weight.

    Every probability is an EXACT integer ratio computed without
    enumerating any pair: u_f's agreement count is Σ_v C(c_v,2) over
    the field's value counts (vocabulary-sized state), m_f's is
    Σ_(name,v) C(c,2) over per-name value counts vs Σ_name C(n,2)
    total (group-sized state); C(·,2) sums accumulate in
    DECIMAL(38,0) so they cannot overflow at any corpus size. The
    4 weights/field come from ONE broadcast row via shared SQL text
    (fixed-arity log2, Laplace-smoothed so a degenerate field never
    yields ±inf, snapped to micro-bits); the only data-sized work is
    the blocked pair join, collapsed map-side onto the ≤8 patterns."""
    tune(spark)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("name"), *FS_FIELDS
    )
    c2 = "cast(c * (c - 1) as decimal(38,0)) / 2"
    # u: random-pair agreement per field, from global value counts
    u_parts = []
    for f in FS_FIELDS:
        vc = part.groupBy(f).agg(F.count(F.lit(1)).alias("c"))
        u_parts.append(
            vc.selectExpr(f"sum({c2}) AS u_{f}")
        )
    n_tot = part.groupBy().agg(F.count(F.lit(1)).alias("c")).selectExpr(
        f"{c2} AS u_den"
    )
    # m: same-name duplicate-proxy agreement per field
    grp = part.groupBy("name").agg(F.count(F.lit(1)).alias("c"))
    m_den = grp.selectExpr(f"sum({c2}) AS m_den")
    m_parts = []
    for f in FS_FIELDS:
        gv = part.groupBy("name", f).agg(F.count(F.lit(1)).alias("c"))
        m_parts.append(gv.selectExpr(f"sum({c2}) AS m_{f}"))
    stats = n_tot
    for d in (*u_parts, m_den, *m_parts):
        stats = stats.crossJoin(F.broadcast(d))
    weights = stats.selectExpr(
        *[
            _FS_W.format(mn=f"m_{f}", un=f"u_{f}") + f" AS wa_{f}"
            for f in FS_FIELDS
        ],
        *[
            _FS_W.format(mn=f"(m_den - m_{f})", un=f"(u_den - u_{f})")
            + f" AS wd_{f}"
            for f in FS_FIELDS
        ],
    )
    cand = fuzzy_name_pairs(spark, sf_dir).select("name1", "name2")
    a = part.select(
        F.col("name").alias("name1"),
        *[F.col(f).alias(f"a_{f}") for f in FS_FIELDS],
    )
    b = part.select(
        F.col("name").alias("name2"),
        *[F.col(f).alias(f"b_{f}") for f in FS_FIELDS],
    )
    patterns = (
        cand.join(a, "name1")
        .join(b, "name2")
        .select(
            *[
                (F.col(f"a_{f}") == F.col(f"b_{f}"))
                .cast("int")
                .alias(f"agree_{f}")
                for f in FS_FIELDS
            ]
        )
        .groupBy(*[f"agree_{f}" for f in FS_FIELDS])
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    score = " + ".join(
        f"(CASE WHEN agree_{f} = 1 THEN wa_{f} ELSE wd_{f} END)"
        for f in FS_FIELDS
    )
    return (
        patterns.crossJoin(F.broadcast(weights))
        .selectExpr(
            *[f"agree_{f}" for f in FS_FIELDS],
            "cast(n_pairs as bigint) AS n_pairs",
            f"cast({score} as bigint) / 1e6 AS score_bits",
        )
        .orderBy(*[f"agree_{f}" for f in FS_FIELDS])
    )


def _fs_sql() -> str:
    c2 = "CAST(c * (c - 1) AS DECIMAL(38,0)) / 2"
    u_ctes = ",\n".join(
        f"u_{f} AS (SELECT sum({c2}) AS u_{f} FROM"
        f" (SELECT count(*) AS c FROM part GROUP BY {f}))"
        for f in FS_FIELDS
    )
    m_ctes = ",\n".join(
        f"m_{f} AS (SELECT sum({c2}) AS m_{f} FROM"
        f" (SELECT count(*) AS c FROM part GROUP BY p_name, {f}))"
        for f in FS_FIELDS
    )
    wa = ",\n       ".join(
        _FS_W.format(mn=f"m_{f}", un=f"u_{f}") + f" AS wa_{f}"
        for f in FS_FIELDS
    )
    wd = ",\n       ".join(
        _FS_W.format(mn=f"(m_den - m_{f})", un=f"(u_den - u_{f})")
        + f" AS wd_{f}"
        for f in FS_FIELDS
    )
    agree = ", ".join(
        f"CAST(pa.{f} = pb.{f} AS INT) AS agree_{f}" for f in FS_FIELDS
    )
    score = " + ".join(
        f"(CASE WHEN agree_{f} = 1 THEN wa_{f} ELSE wd_{f} END)"
        for f in FS_FIELDS
    )
    keys = ", ".join(f"agree_{f}" for f in FS_FIELDS)
    return f"""
WITH u_den AS (SELECT {c2} AS u_den FROM (SELECT count(*) AS c FROM part)),
{u_ctes},
m_den AS (SELECT sum({c2}) AS m_den FROM
  (SELECT count(*) AS c FROM part GROUP BY p_name)),
{m_ctes},
stats AS (
  SELECT * FROM u_den
  CROSS JOIN u_{FS_FIELDS[0]} CROSS JOIN u_{FS_FIELDS[1]}
  CROSS JOIN u_{FS_FIELDS[2]} CROSS JOIN m_den
  CROSS JOIN m_{FS_FIELDS[0]} CROSS JOIN m_{FS_FIELDS[1]}
  CROSS JOIN m_{FS_FIELDS[2]}
),
weights AS (
  SELECT {wa},
       {wd}
  FROM stats
),
vocab AS (SELECT DISTINCT p_name AS name FROM part),
cand AS (
  SELECT a.name AS name1, b.name AS name2
  FROM vocab a JOIN vocab b
    ON a.name < b.name
   AND abs(length(a.name) - length(b.name)) <= {EDIT_D}
   AND levenshtein(a.name, b.name) <= {EDIT_D}
),
patterns AS (
  SELECT {keys}, count(*) AS n_pairs FROM (
    SELECT {agree}
    FROM cand c
    JOIN part pa ON pa.p_name = c.name1
    JOIN part pb ON pb.p_name = c.name2
  ) GROUP BY {keys}
)
SELECT {keys}, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST({score} AS BIGINT) / 1e6 AS score_bits
FROM patterns CROSS JOIN weights
ORDER BY {keys}
"""


QUERIES = {
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "fs_linkage_scores": fs_linkage_scores,
    "entity_resolution": entity_resolution,
}

ORACLES = {
    "fuzzy_name_pairs": FUZZY_SQL,
    "fs_linkage_scores": _fs_sql(),
    "entity_resolution": ER_SQL,
}
