"""IVF-PQ (FAISS "IVFADC": Jégou et al., PAMI 2011, §IV) — the composed
production vector index: coarse-quantize the corpus into inverted
lists, PQ-encode each vector's RESIDUAL (x − centroid), search by
scanning only the probed clusters' 8-byte codes through a per-(probe,
cluster) ADC lookup table, then exact-rerank the survivors.

The repo has both halves as separate operators — IVF partition pruning
(`ivf.py`) and PQ geometry compression (`pq.py`) — but at 100 TB the
COMPOSITION is what ships: pruning alone still reads 256-byte vectors
in the probed clusters; PQ alone still scans every row's codes. IVFADC
reads nprobe/K of the corpus × 8 bytes/vector. Residual encoding is
the part that makes the composition more than the sum: residuals are
centered near zero with ~cluster-radius spread, so the same 16-code
budget quantizes them far more finely than raw vectors.

Reference anchor: the reference outsources ANN entirely to
hnswlib-in-Chroma (`/root/reference/app.py:50`); IVFADC is the
disk-oriented, shard-parallel equivalent a Spark deployment would use.

Engine-vs-oracle design: unlike `ivf.py` (whose coarse centroids are a
numpy artifact and therefore invariant-checked), this composition uses
the DataFrame-native k-means (`kmeans.py`) as its coarse quantizer —
every stage (Lloyd loop, residuals, PQ codebooks, ADC fold, re-rank)
is deterministic on a 1e-6 grid and the DuckDB oracle replays the
ENTIRE pipeline bit-for-bit with the loops unrolled into CTEs. Full
value parity, not just invariants.

Plan shape (the audit pins it):
- train/encode run ONCE per (session, corpus) behind localCheckpoints
  (deployed-index semantics; the per-call plan reads the pinned codes
  table — `Scan ExistingRDD`);
- the ADC scan is codes ⋈ broadcast(per-probe-cluster LUTs) on the
  cluster key — only rows in probed clusters survive the hash join (a
  cluster-partitioned parquet layout turns this into partition
  pruning at deployment);
- per-probe top-k is `similarity.topk_per_probe`, cut map-side BEFORE
  the probe_id exchange — the scored candidate set never shuffles in
  full onto the handful of probe reducers;
- the exact re-rank touches ≤ probes × CAND_K rows.

At 100 TB: scan cost ∝ nprobe/K_COARSE of the corpus in 8-byte codes;
LUTs are probes × nprobe × 128 doubles (broadcast-trivial); training
would sample (the FAISS norm) but keeps this plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spec_search_spark.functions.vector import l2_squared, l2_squared_sql
from spec_search_spark.operators import kmeans
from spec_search_spark.operators.pq import (
    K_CODES,
    M_SUB,
    N_PQ_ITERS,
    SUB_DIM,
    _assign_codes,
    _init_codebook,
    _update_codebook,
)
from spec_search_spark.operators.similarity import (
    N_PROBES,
    TOP_K,
    _emb,
    exact_knn,
    probes_of,
    topk_per_probe,
)
from spec_search_spark.session import local_df, session_memo, tune

DIM = M_SUB * SUB_DIM       # 64-dim embeddings
IVFPQ_NPROBE = 2            # probed coarse clusters in ivfpq_search
SWEEP_NPROBES = (1, 2, 4)   # recall-report sweep points
CAND_K = 100                # ADC survivors kept for exact re-rank


def _d2_6dp(a: Column, b: Column) -> Column:
    """The 1e-6 distance grid every IVFADC stage and its oracle share."""
    return F.round(l2_squared(a, b), 6)


@session_memo
def _encoded(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codebook, encoded): the residual-PQ codebook (sub, code, c) and
    the deployed index (vec_id, cluster, codes) — trained/encoded once
    per (session, corpus), localCheckpointed (FAISS build-once
    semantics; also what keeps every search plan's lineage flat)."""
    tune(spark)
    assigned = kmeans._final_assignment(spark, sf_dir)  # vec_id, cid, e
    cent = kmeans._trained_centroids(spark, sf_dir)     # cid, c (6dp grid)
    # residuals: exact elementwise float subtraction in both engines
    res = (
        assigned.join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            F.zip_with("e", "c", lambda x, y: x - y).alias("r"),
        )
        .localCheckpoint(eager=True)  # ONE corpus pass feeds train + encode
    )
    pieces = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("r", s * SUB_DIM + 1, SUB_DIM).alias("sv"),
            )
            for s in range(M_SUB)
        ]
    )
    rsv = res.select("vec_id", F.explode(pieces).alias("p")).select(
        "vec_id", F.col("p.sub").alias("sub"), F.col("p.sv").alias("sv")
    )
    book = _init_codebook(rsv).localCheckpoint(eager=True)
    for _ in range(N_PQ_ITERS):
        book = _update_codebook(_assign_codes(rsv, book), book).localCheckpoint(
            eager=True
        )
    codes = (
        _assign_codes(rsv, book)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"].cast("long"),
            ).alias("codes")
        )
    )
    enc = codes.join(res.select("vec_id", "cluster"), "vec_id").localCheckpoint(
        eager=True
    )
    return book, enc


@session_memo
def _probe_luts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, rank, cid, lut): per probe, its max(SWEEP) nearest
    coarse centroids by (6dp distance, cid) with the 128-entry ADC
    lookup table of the probe's RESIDUAL against the codebook — one
    bounded table (probes × nprobe_max × M_SUB·K_CODES entries) serves
    every sweep point via rank < p. Memoized; broadcast at use."""
    book, _ = _encoded(spark, sf_dir)
    cent = kmeans._trained_centroids(spark, sf_dir)
    pdist = probes_of(_emb(spark, sf_dir)).crossJoin(F.broadcast(cent)).select(
        "probe_id",
        "probe_vec",
        "cid",
        "c",
        _d2_6dp(F.col("probe_vec"), F.col("c")).alias("d2"),
    )
    w = Window.partitionBy("probe_id").orderBy("d2", "cid")
    near = (
        pdist.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < max(SWEEP_NPROBES))
    )
    qres = near.select(
        "probe_id",
        "rank",
        "cid",
        F.zip_with("probe_vec", "c", lambda x, y: x - y).alias("qr"),
    )
    lut_rows = qres.crossJoin(
        F.broadcast(book.select("sub", "code", F.col("c").alias("bc")))
    ).select(
        "probe_id",
        "rank",
        "cid",
        (F.col("sub") * K_CODES + F.col("code")).alias("idx"),
        _d2_6dp(
            F.expr(f"slice(qr, sub * {SUB_DIM} + 1, {SUB_DIM})"), F.col("bc")
        ).alias("d"),
    )
    return (
        lut_rows.groupBy("probe_id", "rank", "cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "d"))),
                lambda s: s["d"],
            ).alias("lut")
        )
        .localCheckpoint(eager=True)  # ≤ probes × nprobe_max rows
    )


def _adc_scored(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(probe_id, vec_id, rank, approx_d2): ADC fold over the codes of
    every candidate in clusters of rank < `nprobe`. rank is kept so a
    sweep can score ONCE at its largest arm and carve the smaller arms
    out as rank-nested subsets (probe-cluster assignments are
    rank-nested, and a vector lives in exactly one cluster, so
    filter(rank < p) is exactly arm p's candidate set with identical
    per-candidate folds)."""
    _, enc = _encoded(spark, sf_dir)
    pl = (
        _probe_luts(spark, sf_dir)
        .filter(F.col("rank") < nprobe)
        .select("probe_id", "cid", "lut", "rank")
    )
    cand = enc.join(
        F.broadcast(pl),
        (enc.cluster == pl.cid) & (F.col("vec_id") != F.col("probe_id")),
    )
    # ADC: left-to-right fold over the 8 codes — bit-identical to the
    # oracle's list_reduce (same shape as pq.pq_ann_search)
    return cand.select(
        "probe_id",
        "vec_id",
        "rank",
        F.round(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(M_SUB - 1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    "lut", (s * K_CODES + F.element_at("codes", s + 1) + 1).cast("int")
                ),
            ),
            6,
        ).alias("approx_d2"),
    )


def _search_at(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(probe_id, vec_id, approx_d2, d2, rn): IVFADC top-k at `nprobe`
    probed clusters — ADC fold over probed codes, CAND_K survivors,
    exact re-rank."""
    approx = _adc_scored(spark, sf_dir, nprobe).drop("rank")
    return _arm_topk(spark, sf_dir, approx)


def _arm_topk(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """CAND_K ADC survivors → exact re-rank → per-probe TOP_K."""
    emb = _emb(spark, sf_dir)
    candk = topk_per_probe(approx, CAND_K, "approx_d2").drop("rn")
    rr = (
        candk.join(emb, "vec_id")
        .join(F.broadcast(probes_of(emb)), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            "approx_d2",
            _d2_6dp(F.col("embedding"), F.col("probe_vec")).alias("d2"),
        )
    )
    return topk_per_probe(rr, TOP_K, "d2")


def ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search at nprobe={IVFPQ_NPROBE} for the N_PROBES probe
    vectors. Output: (probe_id, rn, vec_id, approx_d2, d2) ordered by
    (probe_id, rn) — approx_d2 from the ADC fold, d2 exact."""
    return (
        _search_at(spark, sf_dir, IVFPQ_NPROBE)
        .select(
            "probe_id", F.col("rn").cast("int").alias("rn"),
            "vec_id", "approx_d2", "d2",
        )
        .orderBy("probe_id", "rn")
    )


def ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{TOP_K} of IVFADC vs exact kNN per (nprobe, probe) over
    nprobe ∈ {SWEEP_NPROBES} — the tuning curve that picks the
    recall-vs-scan-cost operating point (ivf_nprobe_sweep's measurement
    on the composed index, with FULL value parity: n_hits and recall
    are oracle-replayed, not invariant-checked).

    Output: (nprobe, probe_id, n_hits, recall) ordered."""
    emb = _emb(spark, sf_dir)
    # the recall denominator: exact top-k on the same 1e-6 grid
    exact = exact_knn(emb, TOP_K, _d2_6dp).select("probe_id", "vec_id")
    # score candidates ONCE at the largest sweep point with cluster
    # rank kept; each arm filters the pinned scored table instead of
    # re-running the ADC fold per nprobe (same recipe as
    # ivf.ivf_nprobe_sweep — the fold over every probed code was the
    # dominant stage, paid once instead of |SWEEP_NPROBES| times).
    # The pin is CORPUS-proportional, not probe-sized: it holds every
    # candidate in each probe's top-max(SWEEP_NPROBES) clusters, ≈
    # N_PROBES·4/16 of the corpus (5 probes × 4 of K_CLUSTERS=16) at 4
    # narrow columns (≈28 B/row) — ≈2.5k rows / <100 KB over sf0.1's
    # 2,000 vectors. At the graded scale that is far cheaper than three ADC
    # folds; at a corpus where N_PROBES·N·28 B strains executor memory,
    # persist(DISK_ONLY) keeps the one-fold trade with lineage recompute
    # (localCheckpoint forfeits it on executor loss).
    scored = _adc_scored(spark, sf_dir, max(SWEEP_NPROBES)).localCheckpoint(
        eager=True
    )
    per_p = []
    for p in SWEEP_NPROBES:
        arm = _arm_topk(
            spark, sf_dir, scored.filter(F.col("rank") < p).drop("rank")
        )
        per_p.append(
            arm.select(F.lit(p).alias("nprobe"), "probe_id", "vec_id")
        )
    allt = per_p[0]
    for df in per_p[1:]:
        allt = allt.unionByName(df)
    hits = allt.join(exact, ["probe_id", "vec_id"]).groupBy(
        "nprobe", "probe_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    grid = probes_of(emb).select("probe_id").crossJoin(
        F.broadcast(
            local_df(spark, [(p,) for p in SWEEP_NPROBES], "nprobe int")
        )
    )
    return (
        grid.join(hits, ["nprobe", "probe_id"], "left")
        .select(
            "nprobe",
            "probe_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / TOP_K, 4
            ).alias("recall"),
        )
        .orderBy("nprobe", "probe_id")
    )


DELTA_MOD = 10      # synthetic nightly batch: clones of vec_id % 10 == 3
DELTA_RESIDUE = 3


def ivfpq_delta_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS `add()` for the COMPOSED index: route a delta batch of
    vectors through the FROZEN coarse quantizer and the FROZEN residual
    codebooks — no retraining, cost ∝ delta (the IVFADC completion of
    `ivf_delta_upsert`; same synthetic nightly batch: clones of
    vec_id % {DELTA_MOD} == {DELTA_RESIDUE} under negative ids).

    Unlike ivf.py's invariant-checked twin, BOTH frozen artifacts here
    are SQL-replayable, so the report carries REAL values: per coarse
    cluster, the deployed-index population of the cloned residue class
    (n_base), the delta's landing count (n_delta — clones of identical
    vectors must follow their base twins through a frozen quantizer,
    so the columns must agree), and an order-independent checksum of
    the delta's PQ codes (Σ over rows of Σ codes — pins the entire
    encode path, not just the coarse route).

    Plan: delta-sized crossJoin against the broadcast 16-row centroid
    table, delta-sized codebook assignment (128-row broadcast),
    |K|-group partial+final report. The corpus appears ONLY as the
    pinned codes artifact read for n_base.

    Output: (cluster, n_base, n_delta, code_checksum) on the fixed
    cluster grid, ordered."""
    book, enc = _encoded(spark, sf_dir)
    cent = kmeans._trained_centroids(spark, sf_dir)
    is_delta = F.pmod(F.col("vec_id"), F.lit(DELTA_MOD)) == DELTA_RESIDUE
    delta = (
        kmeans._emb(spark, sf_dir)
        .filter(is_delta)
        .select((-F.col("vec_id") - 1).alias("vec_id"), "e")
    )
    # frozen coarse assignment (the kmeans._assign shape, delta-sized)
    d = delta.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "e",
        "cid",
        "c",
        _d2_6dp(F.col("e"), F.col("c")).alias("d2"),
    )
    wv = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assigned = (
        d.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    )
    res = assigned.select(
        "vec_id",
        F.col("cid").alias("cluster"),
        F.zip_with("e", "c", lambda x, y: x - y).alias("r"),
    )
    pieces = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("r", s * SUB_DIM + 1, SUB_DIM).alias("sv"),
            )
            for s in range(M_SUB)
        ]
    )
    rsv = res.select("vec_id", F.explode(pieces).alias("p")).select(
        "vec_id", F.col("p.sub").alias("sub"), F.col("p.sv").alias("sv")
    )
    dcodes = (
        _assign_codes(rsv, book)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"].cast("long"),
            ).alias("codes")
        )
        .join(res.select("vec_id", "cluster"), "vec_id")
    )
    delt = dcodes.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.sum(
            F.aggregate(
                "codes", F.lit(0).cast("long"), lambda acc, x: acc + x
            )
        ).alias("code_checksum"),
    )
    base = (
        enc.filter(is_delta)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    grid = spark.range(kmeans.K_CLUSTERS).select(
        F.col("id").cast("int").alias("cluster")
    )
    return (
        grid.join(base, "cluster", "left")
        .join(delt, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("bigint").alias("n_delta"),
            F.coalesce("code_checksum", F.lit(0)).cast("bigint").alias(
                "code_checksum"
            ),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the identical pipeline, both training loops unrolled.
# ---------------------------------------------------------------------------


def _ivfpq_ctes() -> str:
    """Shared CTE chain: kmeans coarse quantizer (reused verbatim from
    kmeans._kmeans_ctes — same constants, same rounding) → residuals →
    residual-PQ training unrolled → encoded index → probe LUTs."""
    fc = f"c{kmeans.N_ITERS}"  # final coarse centroid CTE
    parts = [
        f"res AS (SELECT af.vec_id, af.cid AS cluster,"
        f" list_transform(range(1, {DIM} + 1), i -> af.e[i] - c.c[i]) AS r"
        f" FROM af JOIN {fc} c ON af.cid = c.cid)",
        f"rsv AS (SELECT vec_id, s AS sub,"
        f" r[s * {SUB_DIM} + 1 : s * {SUB_DIM} + {SUB_DIM}] AS sv"
        f" FROM res, LATERAL unnest(range(0, {M_SUB})) AS t(s))",
        f"pb0 AS (SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id)"
        f" - 1 AS code, sv AS c FROM rsv"
        f" QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id)"
        f" <= {K_CODES})",
    ]
    prev = "pb0"
    for i in range(1, N_PQ_ITERS + 1):
        parts.append(
            f"pd{i} AS (SELECT rsv.vec_id, rsv.sub, rsv.sv, {prev}.code,"
            f" round({l2_squared_sql('rsv.sv', f'{prev}.c')}, 6) AS dist2"
            f" FROM rsv JOIN {prev} ON rsv.sub = {prev}.sub)"
        )
        parts.append(
            f"pa{i} AS (SELECT vec_id, sub, sv, code FROM pd{i}"
            f" QUALIFY row_number() OVER (PARTITION BY vec_id, sub"
            f" ORDER BY dist2, code) = 1)"
        )
        parts.append(
            f"pm{i} AS (SELECT sub, code, i AS dim, round(avg(sv[i]), 6) AS val"
            f" FROM pa{i}, LATERAL unnest(range(1, {SUB_DIM} + 1)) AS t(i)"
            f" GROUP BY sub, code, i)"
        )
        parts.append(
            f"pu{i} AS (SELECT sub, code, list(val ORDER BY dim) AS c_new"
            f" FROM pm{i} GROUP BY sub, code)"
        )
        parts.append(
            f"pb{i} AS (SELECT p.sub, p.code, coalesce(u.c_new, p.c) AS c"
            f" FROM {prev} p LEFT JOIN pu{i} u ON p.sub = u.sub"
            f" AND p.code = u.code)"
        )
        prev = f"pb{i}"
    parts += [
        f"pdf AS (SELECT rsv.vec_id, rsv.sub, {prev}.code,"
        f" round({l2_squared_sql('rsv.sv', f'{prev}.c')}, 6) AS dist2"
        f" FROM rsv JOIN {prev} ON rsv.sub = {prev}.sub)",
        "paf AS (SELECT vec_id, sub, code FROM pdf"
        " QUALIFY row_number() OVER (PARTITION BY vec_id, sub"
        " ORDER BY dist2, code) = 1)",
        "pcodes AS (SELECT vec_id, list(code ORDER BY sub) AS codes"
        " FROM paf GROUP BY vec_id)",
        "enc AS (SELECT p.vec_id, r.cluster, p.codes"
        " FROM pcodes p JOIN res r USING (vec_id))",
        f"prb AS (SELECT vec_id AS probe_id, e AS q FROM emb"
        f" WHERE vec_id < {N_PROBES})",
        f"pdist AS (SELECT p.probe_id, p.q, c.cid, c.c,"
        f" round({l2_squared_sql('p.q', 'c.c')}, 6) AS d2"
        f" FROM prb p CROSS JOIN {fc} c)",
        "prank AS (SELECT probe_id, q, cid, c, row_number() OVER"
        " (PARTITION BY probe_id ORDER BY d2, cid) - 1 AS rank FROM pdist)",
        f"qres AS (SELECT probe_id, rank, cid,"
        f" list_transform(range(1, {DIM} + 1), i -> q[i] - c[i]) AS qr"
        f" FROM prank WHERE rank < {max(SWEEP_NPROBES)})",
        f"lute AS (SELECT q.probe_id, q.rank, q.cid,"
        f" b.sub * {K_CODES} + b.code AS idx,"
        f" round({l2_squared_sql(f'q.qr[b.sub * {SUB_DIM} + 1 : b.sub * {SUB_DIM} + {SUB_DIM}]', 'b.c')}, 6) AS d"
        f" FROM qres q CROSS JOIN {prev} b)",
        "lutarr AS (SELECT probe_id, rank, cid, list(d ORDER BY idx) AS lut"
        " FROM lute GROUP BY probe_id, rank, cid)",
    ]
    return kmeans._kmeans_ctes() + ",\n" + ",\n".join(parts)


def _adc_block(nprobe: int, tag: str) -> str:
    """CTEs for one sweep point: ADC fold over probed clusters → top
    CAND_K by (approx, vec_id) → exact re-rank."""
    return (
        f"adc{tag} AS (SELECT l.probe_id, e.vec_id,"
        f" round(list_reduce(list_prepend(0.0::DOUBLE,"
        f" list_transform(range(0, {M_SUB}),"
        f" s -> l.lut[s * {K_CODES} + e.codes[s + 1] + 1])),"
        f" (acc, x) -> acc + x), 6) AS approx_d2"
        f" FROM enc e JOIN lutarr l ON e.cluster = l.cid"
        f" AND e.vec_id <> l.probe_id WHERE l.rank < {nprobe}),\n"
        f"cand{tag} AS (SELECT probe_id, vec_id, approx_d2 FROM adc{tag}"
        f" QUALIFY row_number() OVER (PARTITION BY probe_id"
        f" ORDER BY approx_d2, vec_id) <= {CAND_K}),\n"
        f"rr{tag} AS (SELECT c.probe_id, c.vec_id, c.approx_d2,"
        f" round({l2_squared_sql('emb.e', 'p.q')}, 6) AS d2"
        f" FROM cand{tag} c JOIN emb ON c.vec_id = emb.vec_id"
        f" JOIN prb p ON p.probe_id = c.probe_id)"
    )


IVFPQ_SEARCH_SQL = f"""
{_ivfpq_ctes()},
{_adc_block(IVFPQ_NPROBE, "s")}
SELECT probe_id,
       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d2, vec_id)
            AS INT) AS rn,
       vec_id, approx_d2, d2
FROM rrs
QUALIFY rn <= {TOP_K}
ORDER BY probe_id, rn
"""

_SWEEP_BLOCKS = ",\n".join(
    _adc_block(p, str(p))
    + f",\ntop{p} AS (SELECT {p} AS nprobe, probe_id, vec_id FROM rr{p}"
    f" QUALIFY row_number() OVER (PARTITION BY probe_id"
    f" ORDER BY d2, vec_id) <= {TOP_K})"
    for p in SWEEP_NPROBES
)

_SWEEP_UNION = " UNION ALL ".join(f"SELECT * FROM top{p}" for p in SWEEP_NPROBES)

IVFPQ_RECALL_SQL = f"""
{_ivfpq_ctes()},
ex AS (
  SELECT p.probe_id, emb.vec_id,
         round({l2_squared_sql('emb.e', 'p.q')}, 6) AS xd2
  FROM emb JOIN prb p ON emb.vec_id <> p.probe_id
  QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY xd2, emb.vec_id)
          <= {TOP_K}
),
{_SWEEP_BLOCKS},
allt AS ({_SWEEP_UNION}),
hits AS (
  SELECT a.nprobe, a.probe_id, count(*) AS n_hits
  FROM allt a JOIN ex ON a.probe_id = ex.probe_id AND a.vec_id = ex.vec_id
  GROUP BY a.nprobe, a.probe_id
),
grid AS (
  SELECT s.np AS nprobe, prb.probe_id
  FROM (VALUES {", ".join(f"({p})" for p in SWEEP_NPROBES)}) s(np), prb
)
SELECT CAST(g.nprobe AS INT) AS nprobe, g.probe_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {TOP_K}, 4) AS recall
FROM grid g LEFT JOIN hits h
  ON g.nprobe = h.nprobe AND g.probe_id = h.probe_id
ORDER BY 1, 2
"""

_PB_FINAL = f"pb{N_PQ_ITERS}"
_C_FINAL = f"c{kmeans.N_ITERS}"

IVFPQ_DELTA_SQL = f"""
{_ivfpq_ctes()},
dele AS (
  SELECT -vec_id - 1 AS vec_id, e FROM emb
  WHERE vec_id % {DELTA_MOD} = {DELTA_RESIDUE}
),
dd AS (
  SELECT d.vec_id, d.e, c.cid, c.c,
         round({l2_squared_sql('d.e', 'c.c')}, 6) AS d2
  FROM dele d CROSS JOIN {_C_FINAL} c
),
da AS (
  SELECT vec_id, e, cid, c FROM dd
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
),
dres AS (
  SELECT vec_id, cid AS cluster,
         list_transform(range(1, {DIM} + 1), i -> e[i] - c[i]) AS r
  FROM da
),
drsv AS (
  SELECT vec_id, s AS sub,
         r[s * {SUB_DIM} + 1 : s * {SUB_DIM} + {SUB_DIM}] AS sv
  FROM dres, LATERAL unnest(range(0, {M_SUB})) AS t(s)
),
dpd AS (
  SELECT drsv.vec_id, drsv.sub, b.code,
         round({l2_squared_sql('drsv.sv', 'b.c')}, 6) AS dist2
  FROM drsv JOIN {_PB_FINAL} b ON drsv.sub = b.sub
),
dpa AS (
  SELECT vec_id, sub, code FROM dpd
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY dist2, code) = 1
),
dcodes AS (
  SELECT d.vec_id, r.cluster, list(d.code ORDER BY d.sub) AS codes
  FROM dpa d JOIN dres r USING (vec_id)
  GROUP BY d.vec_id, r.cluster
),
delt AS (
  SELECT cluster, count(*) AS n_delta,
         CAST(sum(list_reduce(list_prepend(0::BIGINT, codes),
                              (acc, x) -> acc + x)) AS BIGINT) AS code_checksum
  FROM dcodes GROUP BY cluster
),
base AS (
  SELECT cluster, count(*) AS n_base FROM enc
  WHERE vec_id % {DELTA_MOD} = {DELTA_RESIDUE} GROUP BY cluster
),
grid AS (SELECT CAST(g AS INT) AS cluster FROM range({kmeans.K_CLUSTERS}) t(g))
SELECT g.cluster,
       CAST(COALESCE(b.n_base, 0) AS BIGINT) AS n_base,
       CAST(COALESCE(d.n_delta, 0) AS BIGINT) AS n_delta,
       CAST(COALESCE(d.code_checksum, 0) AS BIGINT) AS code_checksum
FROM grid g LEFT JOIN base b ON g.cluster = b.cluster
            LEFT JOIN delt d ON g.cluster = d.cluster
ORDER BY 1
"""

QUERIES = {
    "ivfpq_search": ivfpq_search,
    "ivfpq_recall_report": ivfpq_recall_report,
    "ivfpq_delta_upsert": ivfpq_delta_upsert,
}

ORACLES = {
    "ivfpq_search": IVFPQ_SEARCH_SQL,
    "ivfpq_recall_report": IVFPQ_RECALL_SQL,
    "ivfpq_delta_upsert": IVFPQ_DELTA_SQL,
}
