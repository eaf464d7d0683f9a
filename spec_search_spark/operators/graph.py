"""Graph analytics over the near-dup candidate graph: PageRank
centrality of documents inside their similarity neighborhoods (which
duplicates are the "hubs" a survivor-selection policy should prefer) —
the second iterative-graph operator next to dedup's connected
components (`dedup.py`), sharing the same LSH edge set.

Determinism across engines is the interesting problem: float PageRank
sums neighbor contributions in nondeterministic order, so Spark and
DuckDB can differ in the last ulp and a rounded comparison is fragile
(the q11 lesson). This implementation instead defines FIXED-POINT
PageRank: scores are bigint micro-units (SCALE = 1e12), every division
is integer `div`, every sum is an exact bigint sum — the algorithm is
bit-identical in any engine and the oracle comparison is exact, not
tolerance-based. Fixed iteration count keeps the oracle expressible as
unrolled CTEs (no recursion, no convergence test).

Scale: per iteration the edge table shuffles twice (join scores on
src, re-aggregate on dst) — the canonical distributed-PageRank shape;
scores/degrees are node-sized, edges dominate. The single driver-side
scalar is the node COUNT (one long). Iterations are a Python loop over
DataFrames — the lazy plan unrolls exactly like the SQL CTEs do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.operators.dedup import _minhash_lsh_sql, minhash_lsh_candidates
from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, session_memo, tune

SCALE = 1_000_000_000_000  # bigint micro-units: 1.0 == 1e12
DAMP_NUM = 85  # damping 0.85 as an integer percentage
PR_ITERS = 3


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (SCALE-scaled bigints, `div` arithmetic,
    PR_ITERS unrolled rounds) over the undirected MinHash-LSH candidate
    graph. Vertices = docs with ≥1 candidate edge (undirected ⇒ no
    dangling mass). Returns (doc_id, deg, pr_fixed)."""
    tune(spark)
    edges, deg = _edges_deg(spark, sf_dir)
    n_nodes = deg.count()  # bounded driver scalar (one long)
    base = SCALE // n_nodes
    teleport = (15 * base) // 100

    pr = deg.select("doc_id", F.lit(base).cast("bigint").alias("pr"))
    for i in range(PR_ITERS):
        contrib = (
            edges.join(pr.join(deg, "doc_id"), edges.a == F.col("doc_id"))
            .select(F.col("b").alias("dst"), F.expr("pr div deg").alias("c"))
        )
        s = contrib.groupBy(F.col("dst").alias("doc_id")).agg(F.sum("c").alias("s"))
        pr = deg.join(s, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(teleport)
                + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div 100")
            ).cast("bigint").alias("pr"),
        )
        if i < PR_ITERS - 1:
            # break the growing lineage: each round reads the
            # materialized previous scores, not the whole replayed plan
            pr, _ = pin(pr)
    return (
        deg.join(pr, "doc_id")
        .select("doc_id", "deg", F.col("pr").alias("pr_fixed"))
        .orderBy("doc_id")
    )


def _pagerank_sql() -> str:
    ctes = [
        # MATERIALIZED: the round CTEs each reference edges — inlined,
        # DuckDB recomputes the full LSH candidate join per round
        f"pairs AS MATERIALIZED ({_minhash_lsh_sql()})",
        "edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM pairs"
        " UNION ALL SELECT doc2, doc1 FROM pairs)",
        "deg AS (SELECT a AS doc_id, COUNT(*) AS deg FROM edges GROUP BY a)",
        "n AS (SELECT COUNT(*) AS c FROM deg)",
        f"pr0 AS (SELECT doc_id, CAST({SCALE} // c AS BIGINT) AS pr FROM deg, n)",
    ]
    for i in range(PR_ITERS):
        prev = f"pr{i}"
        cur = f"pr{i + 1}"
        ctes.append(
            f"""{cur} AS (
  SELECT d.doc_id,
         CAST((15 * ({SCALE} // n.c)) // 100
              + ({DAMP_NUM} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
  FROM deg d CROSS JOIN n
  LEFT JOIN (SELECT e.b AS doc_id, SUM(p.pr // dg.deg) AS s
             FROM edges e
             JOIN {prev} p ON p.doc_id = e.a
             JOIN deg dg ON dg.doc_id = e.a
             GROUP BY e.b) s ON s.doc_id = d.doc_id)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT d.doc_id, d.deg, p.pr AS pr_fixed
FROM deg d JOIN pr{PR_ITERS} p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@session_memo
def _edges_deg(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Materialized undirected edge set (both directions) + degree table
    of the LSH candidate graph, memoized per (session, corpus) — shared
    by PageRank and triangle counting, like dedup's postings memo."""
    pairs = minhash_lsh_candidates(spark, sf_dir)
    # localCheckpoint, not cache: a cached edge table still CARRIES
    # the whole postings→signature→banding lineage, and every
    # downstream graph query pays Catalyst re-analysis of that tree
    # (measured ~6s per triangle call on a 576-edge graph).
    # Checkpointing truncates the lineage to the materialized
    # blocks. local (block-manager) form is right for one-app
    # sessions; a cluster deployment would use reliable
    # checkpointing for executor-loss tolerance.
    edges = (
        pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
        .unionByName(pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    return edges, deg


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the LSH
    candidate graph (how clique-ish the near-dup neighborhoods are — a
    dense block of mutual candidates is one template family, a sparse
    one is chained borderline matches).

    Scale design — degree-ordered node-iterator (the MapReduce triangle
    classic): orient every undirected edge from its (deg, id)-smaller
    endpoint to the larger, so each triangle is counted exactly once
    and every wedge pivot has out-degree O(sqrt(m)) — the quadratic
    per-hub wedge blowup of the naive enumeration cannot happen no
    matter how skewed the degree distribution is. Wedges from oriented
    out-neighbor pairs, closed by an equi-join back against the
    oriented edge set. The oracle is the naive one-direction 3-join
    (exact same count — orientation is a counting bijection, not an
    approximation) plus the exact wedge formula sum(deg·(deg−1)/2).

    Returns one row: (n_triangles, n_wedges, clustering) with
    clustering = round(3·T/W, 6) — a single rounded division, safe
    cross-engine.
    """
    tune(spark)
    und, deg_tbl = _edges_deg(spark, sf_dir)
    edges = und.select(F.col("a").alias("doc1"), F.col("b").alias("doc2"))
    deg = deg_tbl.select(F.col("doc_id").alias("v"), "deg")

    # orient: (deg, id) total order, smaller endpoint -> larger
    da = deg.select(F.col("v").alias("doc1"), F.col("deg").alias("d1"))
    db = deg.select(F.col("v").alias("doc2"), F.col("deg").alias("d2"))
    # deg is node-sized — no broadcast hint (nodes grow with the
    # corpus); AQE picks broadcast at test scale, shuffle join at 100 TB
    oriented = (
        edges.join(da, "doc1")
        .join(db, "doc2")
        .filter(
            (F.col("d1") < F.col("d2"))
            | ((F.col("d1") == F.col("d2")) & (F.col("doc1") < F.col("doc2")))
        )
        .select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    )
    o, _ = pin(oriented)

    w1 = o.select(F.col("src"), F.col("dst").alias("v"))
    w2 = o.select(F.col("src"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "src").filter(F.col("v") < F.col("w"))
    closed = wedges.join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")).unionByName(
            o.select(F.col("dst").alias("v"), F.col("src").alias("w"))
        ),
        ["v", "w"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    wed = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("bigint").alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("clustering"),
    )


def _triangles_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_lsh_sql()}),
und AS (SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL SELECT doc2, doc1 FROM pairs),
deg AS (SELECT a AS v, COUNT(*) AS deg FROM und GROUP BY a),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.doc1 = e1.doc2 AND e2.doc2 > e1.doc2
  JOIN pairs e3 ON e3.doc1 = e1.doc1 AND e3.doc2 = e2.doc2
),
wed AS (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT n_triangles, n_wedges,
       round(3.0 * n_triangles / n_wedges, 6) AS clustering
FROM tri, wed
"""


MAX_DEPTH = 3


def recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability (min hop count ≤ MAX_DEPTH) from the smallest
    candidate-graph vertex, written as an ANSI recursive CTE and
    executed by Catalyst's UnionLoop — Spark 4's WITH RECURSIVE is the
    third iterative-graph execution strategy here next to the unrolled
    DataFrame loops (PageRank) and the fixpoint min-label loop (CC),
    exercising the engine's SQL-level recursion instead of driver-side
    iteration.

    Scale: each recursion level is one equi-join of the frontier
    against the edge list (the same per-iteration shape as the
    DataFrame PageRank). Spark's recursion only supports UNION ALL
    (no recursive UNION-distinct yet), so without care the working
    table would carry one row per PATH — deg^depth on a dense
    near-dup cluster. The SELECT DISTINCT inside the recursive step
    dedups each frontier, bounding every level to ≤ |V| rows (total
    ≤ |V|·(depth+1)); the final min(depth) then collapses the
    remaining cross-level revisits. The oracle is the same recursion
    (same DISTINCT placement) in DuckDB over its own candidate CTE.
    """
    tune(spark)
    edges, _ = _edges_deg(spark, sf_dir)
    edges.createOrReplaceTempView("lsh_edges_view")
    return spark.sql(f"""
      WITH RECURSIVE reach(doc_id, depth) AS (
        SELECT CAST(min(a) AS BIGINT), 0 FROM lsh_edges_view
        UNION ALL
        SELECT DISTINCT e.b, r.depth + 1
        FROM reach r JOIN lsh_edges_view e ON e.a = r.doc_id
        WHERE r.depth < {MAX_DEPTH}
      )
      SELECT doc_id, CAST(min(depth) AS INT) AS depth
      FROM reach GROUP BY doc_id
    """)


def _reachability_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
und AS (SELECT doc1 AS a, doc2 AS b FROM pairs
        UNION ALL SELECT doc2, doc1 FROM pairs),
reach(doc_id, depth) AS (
  SELECT CAST(min(a) AS BIGINT), 0 FROM und
  UNION ALL
  SELECT DISTINCT e.b, r.depth + 1
  FROM reach r JOIN und e ON e.a = r.doc_id
  WHERE r.depth < {MAX_DEPTH}
)
SELECT doc_id, CAST(min(depth) AS INT) AS depth
FROM reach GROUP BY doc_id
"""


LPA_ITERS = 4


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after LPA_ITERS rounds of synchronous label
    propagation over the LSH candidate graph (Raghavan et al. 2007) —
    the third graph algorithm on the shared edge set, and the
    community-detection complement to dedup's connected components: CC
    answers "which docs are transitively linked at all", LPA splits a
    big weak component into its dense template families.

    Determinism: labels are doc_ids; each round every vertex takes the
    MOST FREQUENT neighbor label, ties broken by smallest label — pure
    integer count + min, so synchronous rounds are bit-identical in
    both engines (the usual LPA tie-randomization is replaced by the
    deterministic min rule). Fixed round count keeps the oracle an
    unrolled-CTE chain.

    Scale: per round one shuffle joining labels onto edges (edge-
    dominated, like PageRank) and one (vertex, label)-keyed partial
    agg; the argmax window partitions on the vertex — node-sized state,
    never edge-sized.
    """
    from pyspark.sql.window import Window

    tune(spark)
    edges, deg = _edges_deg(spark, sf_dir)
    labels = deg.select(F.col("doc_id").alias("v"), F.col("doc_id").alias("lbl"))
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(LPA_ITERS):
        nb = edges.join(
            labels.withColumnRenamed("v", "b"), "b"
        ).select(F.col("a").alias("v"), "lbl")
        cnt = nb.groupBy("v", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("community")
    )


def _lpa_sql() -> str:
    head = f"""
WITH pairs AS MATERIALIZED ({_minhash_lsh_sql()}),
edges AS MATERIALIZED (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION ALL SELECT doc2 AS a, doc1 AS b FROM pairs
),
l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM edges)"""
    cte = ""
    prev = "l0"
    for t in range(1, LPA_ITERS + 1):
        cte += f""",
l{t} AS MATERIALIZED (
  SELECT v, lbl FROM (
    SELECT e.a AS v, l.lbl, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.lbl) AS rn
    FROM edges e JOIN {prev} l ON l.v = e.b
    GROUP BY e.a, l.lbl) x
  WHERE rn = 1
)"""
        prev = f"l{t}"
    return (
        head
        + cte
        + f"""
SELECT lbl AS community, count(*) AS n_members
FROM {prev} GROUP BY lbl ORDER BY community"""
    )


SP_ROUNDS = 4  # Bellman-Ford relaxation rounds (min-cost ≤ 4 edges)


def weighted_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest paths over the LSH candidate
    graph (SP_ROUNDS Bellman-Ford relaxations — min cost over paths of
    ≤ {K} edges): the fourth iterative-graph member beside PageRank /
    BFS / LPA, and the one that needs edge WEIGHTS — here the
    data-derived cost |n_chars(a) − n_chars(b)| + 1 (near-dup edges
    between similar-length docs are cheap), joined from the documents
    table onto the shared edge set. BFS answers "how many hops"; this
    answers "how dissimilar is the cheapest chain", the quantity a
    dedup-cluster triage actually ranks by.

    Exactness: distances are pure BIGINT sums/mins, so both engines
    agree bit-for-bit; the oracle is the identical unrolled relaxation
    chain. Scale: each round is one frontier⋈edges equi-join + one
    vertex-keyed min — the PageRank per-iteration shape; state is
    node-sized, never path-sized (relaxation collapses per round,
    unlike an enumerate-paths recursion)."""
    tune(spark)
    edges, deg = _edges_deg(spark, sf_dir)
    nchars = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
    )
    # edge-sized artifact consumed once per relaxation round: truncate
    # the lineage like _edges_deg does, or every round re-analyzes the
    # LSH tree (measured: 58s -> ~8s for the 4-round loop)
    wedges = (
        edges.join(
            nchars.select(F.col("doc_id").alias("a"), F.col("n_chars").alias("ca")),
            "a",
        )
        .join(
            nchars.select(F.col("doc_id").alias("b"), F.col("n_chars").alias("cb")),
            "b",
        )
        .select(
            "a", "b",
            (F.abs(F.col("ca") - F.col("cb")) + 1).cast("bigint").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    # source = the max-degree vertex (min id on ties): the hub of a
    # dense near-dup family, so the relaxation genuinely fans out
    # (the min-id vertex can sit in a 2-node component)
    src = (
        deg.orderBy(F.desc("deg"), F.asc("doc_id"))
        .limit(1)
        .select("doc_id", F.lit(0).cast("bigint").alias("dist"))
    )
    dist = src
    for _ in range(SP_ROUNDS):
        relaxed = (
            dist.join(wedges, dist.doc_id == wedges.a)
            .select(F.col("b").alias("doc_id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


def _weighted_sp_sql() -> str:
    # MATERIALIZED: the round CTEs each reference wedges — inlined,
    # DuckDB would re-run the whole minhash pipeline per round
    ctes = [
        f"pairs AS MATERIALIZED ({_minhash_lsh_sql()})",
        "und AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM pairs"
        " UNION ALL SELECT doc2, doc1 FROM pairs)",
        "wedges AS MATERIALIZED (SELECT u.a, u.b,"
        " CAST(abs(da.n_chars - db.n_chars) + 1 AS BIGINT) AS w"
        " FROM und u JOIN documents da ON da.doc_id = u.a"
        " JOIN documents db ON db.doc_id = u.b)",
        "deg AS (SELECT a AS doc_id, count(*) AS deg FROM und GROUP BY a)",
        "d0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(0 AS BIGINT) AS dist FROM deg"
        " ORDER BY deg DESC, doc_id LIMIT 1)",
    ]
    for i in range(SP_ROUNDS):
        prev, cur = f"d{i}", f"d{i + 1}"
        ctes.append(
            f"""{cur} AS (
  SELECT doc_id, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT doc_id, dist FROM {prev}
    UNION ALL
    SELECT e.b AS doc_id, p.dist + e.w AS dist
    FROM {prev} p JOIN wedges e ON e.a = p.doc_id
  ) GROUP BY doc_id)"""
        )
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT doc_id, dist FROM d{SP_ROUNDS}"


# --- k-core decomposition (bounded synchronous peel) -------------------------

K_CORE = 2  # minimum in-subgraph degree to stay in the core: the 2-core
# (cycle core) is the smallest non-trivial core and the largest that is
# non-EMPTY on the sparse sf0.01 candidate graph — a k that returned 0
# rows would make the oracle match vacuous at test scale
KC_ITERS = 4  # synchronous peel rounds (fixed => unrolled-CTE oracle)


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the MinHash-LSH candidate graph: survivors of
    KC_ITERS synchronous peel rounds (drop every node whose degree
    WITHIN the remaining subgraph is < K_CORE, recompute, repeat) —
    the dense-neighborhood extractor a dedup-cluster triage uses to
    separate tight duplicate cliques from stringy chains (the
    reference's similarity neighborhoods, `/root/reference/app.py:48-61`,
    have no graph layer at all; north-star dedup analytics).

    Determinism: pure integer degree counting on the shared
    `_edges_deg` edge set; a FIXED round count (not run-to-
    convergence) keeps the oracle expressible as unrolled CTEs, the
    `label_propagation_communities` pattern. Output is every surviving
    doc with its in-core degree after the final peel (degree is
    REcomputed over the final survivor set, so the contract is
    well-defined whether or not the peel has converged).

    Scale: each round is two semi joins of the edge table against the
    node-sized survivor set plus one partial+final degree count —
    never path- or pair-quadratic state; survivors are materialized
    per round to cut the growing lineage (the PageRank pattern).
    """
    tune(spark)
    edges, deg = _edges_deg(spark, sf_dir)
    alive = deg.filter(F.col("deg") >= K_CORE).select("doc_id")
    for _ in range(KC_ITERS):
        alive, _ = pin(alive)
        ealive = edges.join(
            alive.select(F.col("doc_id").alias("a")), "a", "semi"
        ).join(alive.select(F.col("doc_id").alias("b")), "b", "semi")
        alive = (
            ealive.groupBy(F.col("a").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= K_CORE)
            .select("doc_id")
        )
    alive, _ = pin(alive)
    efinal = edges.join(
        alive.select(F.col("doc_id").alias("a")), "a", "semi"
    ).join(alive.select(F.col("doc_id").alias("b")), "b", "semi")
    return (
        efinal.groupBy(F.col("a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .orderBy("doc_id")
    )


def _kcore_sql() -> str:
    ctes = [
        # MATERIALIZED: the round CTEs each reference edges — inlined,
        # DuckDB recomputes the full LSH candidate join per round
        f"pairs AS MATERIALIZED ({_minhash_lsh_sql()})",
        "edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM pairs"
        " UNION ALL SELECT doc2, doc1 FROM pairs)",
        "deg AS (SELECT a AS doc_id, COUNT(*) AS deg FROM edges GROUP BY a)",
        f"a0 AS (SELECT doc_id FROM deg WHERE deg >= {K_CORE})",
    ]
    for i in range(KC_ITERS):
        prev, cur = f"a{i}", f"a{i + 1}"
        ctes.append(
            f"""{cur} AS (
  SELECT e.a AS doc_id FROM edges e
  JOIN {prev} x ON x.doc_id = e.a
  JOIN {prev} y ON y.doc_id = e.b
  GROUP BY e.a HAVING COUNT(*) >= {K_CORE})"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT e.a AS doc_id, COUNT(*) AS core_deg
FROM edges e
JOIN a{KC_ITERS} x ON x.doc_id = e.a
JOIN a{KC_ITERS} y ON y.doc_id = e.b
GROUP BY e.a
ORDER BY e.a
"""


HITS_ITERS = 3  # authority updates (hub updates interleave: a h a h a)


@session_memo
def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→part purchase edges (c, p), localCheckpointed
    like _edges_deg: truncate the join+distinct lineage so every HITS
    round plans against the materialized edge blocks, not the replayed
    scan."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the customer→part purchase bipartite graph:
    authority(part) = Σ hub(customer) over purchase edges, hub =
    Σ authority, sum-normalized each half-step — 'which parts do the
    broadest buyers concentrate on', the link-analysis complement to
    `graph_pagerank` for DIRECTED/bipartite structure (PageRank's
    random walk needs out-edges everywhere; HITS is the classic
    choice on query→document / buyer→item graphs).

    Same fixed-point determinism contract as PageRank: scores are
    bigint units of SCALE, every normalization is (score · SCALE) div
    total with DECIMAL(38,0)/HUGEINT intermediates (overflow-safe per
    the _LR_MOMS width rule — a raw authority is ≤ in-degree · SCALE),
    so the walk is bit-identical in both engines, unrolled to
    {HITS_ITERS} authority updates.

    Scale: edges = one distinct over the orders⋈lineitem join; each
    half-step is one keyed join + partial/final sum over the edge
    table (the distributed-HITS canonical shape); score tables are
    node-sized; a per-round `pin` cuts the growing lineage.

    Output: top 10 (p_partkey, auth_fixed) by authority."""
    tune(spark)
    edges = _purchase_edges(spark, sf_dir)
    h = edges.select("c").distinct().select(
        "c", F.lit(SCALE).cast("bigint").alias("h")
    )
    a = None
    for i in range(HITS_ITERS):
        ar = (
            edges.join(h, "c")
            .groupBy("p")
            .agg(F.sum(F.expr("cast(h as decimal(38,0))")).alias("ar"))
        )
        ta = ar.groupBy().agg(F.sum("ar").alias("ta"))
        a, _ = pin(
            ar.crossJoin(F.broadcast(ta)).selectExpr(
                "p", f"cast((ar * {SCALE}) div ta as bigint) AS a"
            )
        )
        if i < HITS_ITERS - 1:
            hr = (
                edges.join(a, "p")
                .groupBy("c")
                .agg(F.sum(F.expr("cast(a as decimal(38,0))")).alias("hr"))
            )
            th = hr.groupBy().agg(F.sum("hr").alias("th"))
            h, _ = pin(
                hr.crossJoin(F.broadcast(th)).selectExpr(
                    "c", f"cast((hr * {SCALE}) div th as bigint) AS h"
                )
            )
    return (
        a.selectExpr("cast(p as bigint) AS p_partkey", "a AS auth_fixed")
        .orderBy(F.desc("auth_fixed"), F.asc("p_partkey"))
        .limit(10)
    )


def _hits_sql() -> str:
    ctes = [
        "edges AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,"
        " l_partkey AS p FROM orders JOIN lineitem"
        " ON l_orderkey = o_orderkey)",
        f"h0 AS (SELECT c, CAST({SCALE} AS HUGEINT) AS h FROM"
        " (SELECT DISTINCT c FROM edges))",
    ]
    for i in range(1, HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS (SELECT p, sum(h) AS ar
  FROM edges JOIN h{i - 1} USING (c) GROUP BY p)"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (SELECT p,
  CAST(CAST(ar AS HUGEINT) * {SCALE} // (SELECT sum(ar) FROM a{i}r)
       AS BIGINT) AS a
  FROM a{i}r)"""
        )
        if i < HITS_ITERS:
            ctes.append(
                f"""h{i}r AS (SELECT c, sum(a) AS hr
  FROM edges JOIN a{i} USING (p) GROUP BY c)"""
            )
            ctes.append(
                f"""h{i} AS MATERIALIZED (SELECT c,
  CAST(CAST(hr AS HUGEINT) * {SCALE} // (SELECT sum(hr) FROM h{i}r)
       AS BIGINT) AS h
  FROM h{i}r)"""
            )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(p AS BIGINT) AS p_partkey, a AS auth_fixed
FROM a{HITS_ITERS}
ORDER BY auth_fixed DESC, p_partkey ASC
LIMIT 10
"""


QUERIES = {
    "graph_pagerank": graph_pagerank,
    "hits_hubs_authorities": hits_hubs_authorities,
    "kcore_decomposition": kcore_decomposition,
    "weighted_shortest_paths": weighted_shortest_paths,
    "graph_triangles": graph_triangles,
    "recursive_reachability": recursive_reachability,
    "label_propagation_communities": label_propagation_communities,
}

ORACLES = {
    "graph_pagerank": _pagerank_sql(),
    "hits_hubs_authorities": _hits_sql(),
    "kcore_decomposition": _kcore_sql(),
    "weighted_shortest_paths": _weighted_sp_sql(),
    "graph_triangles": _triangles_sql(),
    "recursive_reachability": _reachability_sql(),
    "label_propagation_communities": _lpa_sql(),
}
