"""Operator smoke + semantics tests on sf0.001 (the oracle harness
tools/selfcheck.py covers value-level parity; these check shapes,
invariants, and the non-oracle ops)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_all_queries_well_formed():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert len(qs) >= 40
    assert set(os_) <= set(qs)
    # every registered query carries a DuckDB value oracle: former
    # rows-only ops were converted to SQL-expressible (poly-hash
    # embedder) or self-verifying invariant outputs in round 2
    assert set(qs) == set(os_)


def test_semantic_search_topk_sorted(spark, sf_dir):
    from spec_search_spark.operators.similarity import semantic_search

    rows = semantic_search(spark, sf_dir, query="fast merge join order", k=5).collect()
    assert len(rows) == 5
    dists = [r["dist2"] for r in rows]
    assert dists == sorted(dists)
    assert all(r["id"] for r in rows)


def test_index_build_ids_unique_and_embedded(spark, sf_dir):
    from spec_search_spark.operators.similarity import build_index

    idx = build_index(spark, sf_dir)
    n = idx.count()
    assert n == idx.select("id").distinct().count()
    row = idx.first()
    assert len(row["embedding"]) == 64


def test_chunk_recursive_covers_documents(spark, sf_dir):
    from spec_search_spark.operators.text_analysis import chunk_recursive

    out = chunk_recursive(spark, sf_dir)
    per_doc = out.groupBy("doc_id").agg(F.count("*").alias("n"))
    assert per_doc.filter(F.col("n") < 1).count() == 0
    assert out.filter(F.length("chunk") > 120).count() == 0


def test_memoized_queries_are_idempotent(spark, sf_dir):
    """Queries backed by per-session memo tables (shingle postings,
    graph edges, bucketed copies, IVF centroids) must return identical
    results when called twice in one session — the driver calls each
    query through one long-lived SparkSession, so a stale or
    half-initialized memo would silently corrupt the second read."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("minhash_lsh_candidates", "bucketed_join_revenue", "graph_triangles"):
        first = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        second = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        assert first == second, name


def test_balanced_shards_are_balanced_and_complete(spark, sf_dir):
    """Shard sizes must differ by at most 1, cover every doc exactly
    once, and grank must be a permutation of [0, n)."""
    from spec_search_spark.operators.pipeline_ops import N_SHARDS, balanced_shards

    out = balanced_shards(spark, sf_dir).collect()
    n = len(out)
    assert len({r["doc_id"] for r in out}) == n
    granks = sorted(r["grank"] for r in out)
    assert granks == list(range(n))
    sizes = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert set(sizes) <= set(range(N_SHARDS))
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_triplet_mining_hardness(spark, sf_dir):
    """Every mined negative must be a different label than its anchor,
    every positive the same label, and neg_sim must be the max over the
    anchor's in-bucket different-label candidates."""
    from spec_search_spark.operators.similarity import triplet_mining, _bucket_expr, _emb

    trip = {r["anchor_id"]: r for r in triplet_mining(spark, sf_dir).collect()}
    emb = {
        r["vec_id"]: (r["label"], r["bucket"])
        for r in _emb(spark, sf_dir)
        .withColumn("bucket", _bucket_expr(F.col("embedding")))
        .select("vec_id", "label", "bucket")
        .collect()
    }
    for anchor_id, r in trip.items():
        a_label, a_bucket = emb[anchor_id]
        p_label, p_bucket = emb[r["pos_id"]]
        n_label, n_bucket = emb[r["neg_id"]]
        assert p_label == a_label and p_bucket == a_bucket
        assert n_label != a_label and n_bucket == a_bucket
        assert r["neg_sim"] >= r["pos_sim"] - 2.0  # sims live in [-1, 1]


def _write_embeddings(tmp_path, rows):
    """Write a synthetic embeddings.parquet matching the driver schema
    (vec_id int64, embedding list<float>, label int32)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_triplet_mining_degenerate_buckets(spark, tmp_path):
    """Edge cases for the per-bucket Arrow kernel: a one-vector corpus
    (n<2 path) and a single-label corpus (no valid anchor path) must
    both yield ZERO rows through a typed empty frame — Arrow rejects
    object-dtype empties, so a wrong dtype here crashes the collect,
    not just mismatches."""
    from spec_search_spark.operators.similarity import DEFAULT_DIM, triplet_mining

    dim = DEFAULT_DIM

    def vec(seed):
        # near-identical vectors: same hyperplane sign pattern, so all
        # rows share one LSH bucket and the kernel sees a real n>=2 group
        return [1.0 + 1e-3 * ((seed * 7 + j) % 5) for j in range(dim)]

    # one vector total -> every bucket has n < 2
    one = tmp_path / "one"
    one.mkdir()
    out = triplet_mining(spark, _write_embeddings(one, [(1, vec(1), 0)]))
    assert out.collect() == []
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint", "double", "bigint", "double",
    ]

    # many vectors, all one label -> no anchor has a different-label mate
    mono = tmp_path / "mono"
    mono.mkdir()
    rows = [(i, vec(i), 0) for i in range(12)]
    assert triplet_mining(spark, _write_embeddings(mono, rows)).collect() == []

    # sanity: adding a second label yields triplets with correct dtypes
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    rows = [(i, vec(i), i % 2) for i in range(12)]
    got = triplet_mining(spark, _write_embeddings(mixed, rows)).collect()
    assert len(got) > 0
    for r in got:
        assert isinstance(r["anchor_id"], int) and isinstance(r["pos_sim"], float)


def test_rank_walk_matches_percentile_bitwise(spark):
    """_percentiles_rank_walk claims BIT-compatibility with Spark's
    single-state `percentile` (same interpolation formula, same
    casts). Pin it with == on raw doubles — no rounding — across
    distributions with ties, negatives, singletons, and a two-value
    edge."""
    from pyspark.sql import functions as F

    from spec_search_spark.operators.scalar_sql import _percentiles_rank_walk

    qs = [0.1, 0.25, 0.5, 0.77, 0.9, 0.99]
    datasets = {
        "ties": [1, 1, 1, 2, 2, 3, 5, 5, 5, 5, 8],
        "negatives": [-7, -3, -3, 0, 4, 4, 11, 200],
        "singleton": [42],
        "two": [10, 20],
        "spread": [((i * 2654435761) % 10007) - 5000 for i in range(500)],
    }
    for name, vals in datasets.items():
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        walk = {
            r["q"]: r["value"]
            for r in _percentiles_rank_walk(df, [], "v", qs).collect()
        }
        arr = ", ".join(str(q) for q in qs)
        exact = df.agg(F.expr(f"percentile(v, array({arr}))").alias("p")).first()["p"]
        for q, want in zip(qs, exact):
            assert walk[q] == want, (name, q, walk[q], want)


def test_interval_overlap_grid_is_lossless(spark, sf_dir):
    """Grid bucketing must find EXACTLY the pairs the naive theta join
    finds — cells are a candidate generator, not an approximation."""
    from pyspark.sql import functions as F

    from spec_search_spark.operators.windows import (
        CLICK_SPAN_US,
        ERROR_SPAN_US,
        ERROR_USER_MOD,
        interval_overlap_join,
    )
    from spec_search_spark.operators.windows import _t

    grid = {
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in interval_overlap_join(spark, sf_dir).collect()
    }
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), us.alias("a_s"),
        (us + F.lit(CLICK_SPAN_US)).alias("a_e"),
    )
    b = ev.filter(
        (F.col("event_type") == "error") & (F.col("user_id") % ERROR_USER_MOD == 0)
    ).select(
        F.col("event_id").alias("b_id"), us.alias("b_s"),
        (us + F.lit(ERROR_SPAN_US)).alias("b_e"),
    )
    naive = {
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in a.crossJoin(b)
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select(
            "a_id", "b_id",
            (F.least("a_e", "b_e") - F.greatest("a_s", "b_s")).alias("overlap_us"),
        )
        .collect()
    }
    assert grid == naive and len(grid) > 0


def test_multimodal_real_codec_seam(spark):
    """The codec seam must be proven by a real decoder, not only the
    oracle fake: REAL_DECODE_AVAILABLE is probed (not assumed), BMP and
    WAV files built by the fixture packers round-trip through the same
    mapInPandas kernel the fake path uses, and unknown magic fails
    loudly."""
    import pytest as _pytest

    from spec_search_spark.operators.multimodal import (
        DECODED_SCHEMA,
        REAL_DECODE_AVAILABLE,
        make_bmp,
        make_wav,
        real_decode,
        real_decode_media_batch,
    )

    assert REAL_DECODE_AVAILABLE  # pure-Python header codec always probes ok
    w, h, nf, _cs = real_decode(make_bmp(7, 3, seed=5))
    assert (w, h, nf) == (7, 3, 1)
    rate, ch, ns, _cs = real_decode(make_wav(44100, 1, 10))
    assert (rate, ch, ns) == (44100, 1, 10)
    with _pytest.raises(ValueError):
        real_decode(b"JUNKDATA" * 10)

    df = spark.createDataFrame(
        [(1, "image", make_bmp(5, 4)), (2, "audio", make_wav(16000, 2, 8))],
        "doc_id long, media_type string, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in df.mapInPandas(real_decode_media_batch, DECODED_SCHEMA).collect()
    }
    assert (rows[1]["width"], rows[1]["height"], rows[1]["n_frames"]) == (5, 4, 1)
    # BMP stride: rows pad to 4 bytes -> 5px*3B=15 -> 16; 54 + 16*4 = 118
    assert rows[1]["n_bytes"] == 118
    assert (rows[2]["width"], rows[2]["height"], rows[2]["n_frames"]) == (16000, 2, 8)
    assert rows[2]["n_bytes"] == 44 + 8 * 2 * 2


def test_tfidf_vocab_broadcast_fallback(spark, sf_dir, monkeypatch):
    """tfidf_top_terms guards its document-frequency broadcast with
    BROADCAST_VOCAB_MAX (the vocabulary grows with corpus size): with
    the cap forced to 0 the shuffle-join fallback must produce exactly
    the broadcast path's rows."""
    from spec_search_spark.operators import dedup, pipeline_ops

    base = sorted(map(tuple, pipeline_ops.tfidf_top_terms(spark, sf_dir).collect()))
    monkeypatch.setattr(dedup, "BROADCAST_VOCAB_MAX", 0)
    fell_back = sorted(map(tuple, pipeline_ops.tfidf_top_terms(spark, sf_dir).collect()))
    assert fell_back == base


def test_jaccard_prefix_filter_is_lossless_and_reducing(spark, sf_dir):
    """The AllPairs prefix filter (jaccard_strict_pairs) must (a) keep
    the pair output identical to the exhaustive inverted-index join at
    the same threshold and (b) index strictly fewer postings than the
    full index (the whole point)."""
    from spec_search_spark.operators.dedup import (
        JACCARD_STRICT_THRESHOLD,
        _jaccard_prefix_len,
        hashed_shingle_postings,
        jaccard_strict_pairs,
    )

    s = hashed_shingle_postings(spark, sf_dir).select("doc_id", "h")
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    n_prefix = (
        sizes.select(
            F.sum(
                F.least(
                    _jaccard_prefix_len("n_shingles", JACCARD_STRICT_THRESHOLD),
                    F.col("n_shingles"),
                )
            )
        )
        .collect()[0][0]
    )
    n_full = s.count()
    assert n_prefix < n_full

    # exhaustive reference join at the strict threshold
    a, b = s.alias("a"), s.alias("b")
    ref = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1")), "doc1")
        .join(sizes.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2")), "doc2")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common")), 4),
        )
        .filter(F.col("jaccard") >= JACCARD_STRICT_THRESHOLD)
    )
    expect = {(r["doc1"], r["doc2"], r["n_common"]) for r in ref.collect()}
    got = {
        (r["doc1"], r["doc2"], r["n_common"])
        for r in jaccard_strict_pairs(spark, sf_dir).collect()
    }
    assert got == expect


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    """LSH recall sanity: every pair with very high true Jaccard should
    appear in the banded candidates (4 bands × 4 rows, j≥0.9 ⇒
    P[miss] = (1-j^4)^4 ≈ 0.03; the sf0.001 set has few such pairs)."""
    from spec_search_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    jac = {
        (r["doc1"], r["doc2"])
        for r in ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9).collect()
    }
    cand = {(r["doc1"], r["doc2"]) for r in minhash_lsh_candidates(spark, sf_dir).collect()}
    missed = jac - cand
    assert len(missed) <= max(1, len(jac) // 5), f"LSH missed too many: {missed}"


def test_shingles_short_docs_yield_empty(spark):
    """Docs with <3 tokens (incl. empty/whitespace-only) must produce
    zero shingles, matching the oracle's end-exclusive range — the
    unguarded sequence(0, size-3) stepped DOWN to [0,-1] and crashed."""
    from spec_search_spark.operators.dedup import _shingles_from_toks, _tokens

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four"), (5, "   ")],
        "doc_id int, text string",
    )
    out = (
        df.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select("doc_id", _shingles_from_toks(F.col("toks")).alias("sh"))
        .collect()
    )
    by_id = {r["doc_id"]: r["sh"] for r in out}
    assert by_id[1] == [] and by_id[2] == [] and by_id[3] == [] and by_id[5] == []
    assert by_id[4] == ["one two three", "two three four"]


def test_asof_never_matches_future_purchase(spark, sf_dir):
    from spec_search_spark.operators.windows import asof_join_purchase

    out = asof_join_purchase(spark, sf_dir)
    bad = out.filter(
        F.col("purchase_ts").isNotNull() & (F.col("purchase_ts") > F.col("click_ts"))
    ).count()
    assert bad == 0


def test_sessionize_bounds(spark, sf_dir):
    from spec_search_spark.operators.windows import sessionize

    rows = sessionize(spark, sf_dir).collect()
    assert all(1 <= r["n_sessions"] <= r["n_events"] for r in rows)


def test_streaming_hourly_matches_batch(spark, sf_dir):
    """Structured Streaming twin of hourly_event_rollup over the same
    parquet produces identical totals (foreachBatch-free memory sink)."""
    from spec_search_spark.streaming.incremental import hourly_stream_counts

    batch = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in __import__("spec_search_spark.operators.windows", fromlist=["x"])
        .hourly_event_rollup(spark, sf_dir)
        .collect()
    }
    stream = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in hourly_stream_counts(spark, sf_dir).collect()
    }
    assert stream == batch


def test_entry_contract():
    import __spark_entry__ as e
    from spec_search_spark.session import get_spark

    df = e.entry(get_spark("tests-entry", master="local[4]"))
    assert df.count() >= 0


@pytest.mark.parametrize("name", ["q1_pricing_summary", "knn_exact", "dedup_exact"])
def test_queries_run_at_sf0001(spark, sf_dir, name):
    import __spark_entry__ as e

    assert e.queries()[name](spark, sf_dir).count() >= 0


def test_multiprobe_dominates_single_bucket(spark, sf_dir):
    """More probed buckets ⇒ superset of candidates ⇒ at every (probe,
    rank) the multi-probe distance is ≤ the single-bucket distance."""
    from spec_search_spark.operators.similarity import (
        ann_lsh_bucketed,
        ann_lsh_multiprobe,
    )

    single = {
        (r["probe_id"], r["rn"]): r["dist2"]
        for r in ann_lsh_bucketed(spark, sf_dir).collect()
    }
    multi = {
        (r["probe_id"], r["rn"]): r["dist2"]
        for r in ann_lsh_multiprobe(spark, sf_dir).collect()
    }
    assert multi  # non-empty
    for key, d_single in single.items():
        assert key in multi and multi[key] <= d_single + 1e-9, (key, multi.get(key), d_single)


def test_ann_recall_report_is_consistent(spark, sf_dir):
    """recall = hits/k, hits ≤ min(n_exact, n_approx), one row per
    probe — and the approx arm agrees with ann_lsh_bucketed's output."""
    from spec_search_spark.operators.similarity import (
        N_PROBES,
        TOP_K,
        ann_lsh_bucketed,
        ann_recall_report,
    )

    rows = ann_recall_report(spark, sf_dir).collect()
    assert [r.probe_id for r in rows] == list(range(N_PROBES))
    n_appx = {}
    for r in ann_lsh_bucketed(spark, sf_dir).collect():
        n_appx[r.probe_id] = n_appx.get(r.probe_id, 0) + 1
    for r in rows:
        assert r.n_exact <= TOP_K
        assert r.n_approx == n_appx.get(r.probe_id, 0)
        assert 0 <= r.n_hits <= min(r.n_exact, r.n_approx)
        assert abs(r.recall_at_k - round(r.n_hits / TOP_K, 4)) < 1e-12


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """Every near-dup candidate pair must land in ONE cluster, and the
    cluster id must be the min doc_id of its members."""
    from spec_search_spark.operators.dedup import dedup_clusters, minhash_lsh_candidates

    labels = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, sf_dir).collect()}
    for r in minhash_lsh_candidates(spark, sf_dir).collect():
        assert labels[r["doc1"]] == labels[r["doc2"]], r
    members: dict[int, list[int]] = {}
    for doc, c in labels.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs), (c, min(docs))


def test_bitext_mining_matches_direct_reference(spark, sf_dir):
    import numpy as np

    from spec_search_spark.catalog import load_table
    from spec_search_spark.operators.similarity import bitext_mining_pairs
    from pyspark.sql import functions as F

    rows = bitext_mining_pairs(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    embs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
        if r["vec_id"] in docs
    }
    a_ids = sorted(i for i in embs if docs[i] == "en")
    b_ids = sorted(i for i in embs if docs[i] != "en")

    def cu(i, j):
        x, y = embs[i], embs[j]
        c = float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))
        import math

        return int(math.copysign(math.floor(abs(c * 1e6) + 0.5), c))

    best_a = {
        i: max(((cu(i, j), -j) for j in b_ids))
        for i in a_ids
    }
    best_b = {
        j: max(((cu(i, j), -i) for i in a_ids))
        for j in b_ids
    }
    expected = {
        (i, -nb): c / 1e6
        for i, (c, nb) in best_a.items()
        if -best_b[-nb][1] == i
    }
    got = {(r["a_id"], r["b_id"]): r["cos_6"] for r in rows}
    assert set(got) == set(expected)
    for k, v in got.items():
        assert abs(v - expected[k]) < 1.5e-6
    # mutuality => each side appears at most once
    assert len({a for a, _ in got}) == len(got)
    assert len({b for _, b in got}) == len(got)
    for r in rows:
        assert r["b_lang"] != "en" and r["b_lang"] == docs[r["b_id"]]


def test_asof_cogroup_bucket_with_no_purchases(spark, tmp_path):
    """A cogroup bucket holding clicks but ZERO purchases must emit the
    clicks with null purchase columns (the explicit empty-right guard —
    ADVICE r11: merge_asof(by=) with an empty right frame is an
    untested pandas-version edge)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spec_search_spark.operators.windows import asof_join_cogroup

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    us = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    # user 1: clicks only -> its bucket has an EMPTY purchases side;
    # user 2: click after purchase -> a matched row in another bucket
    rows = [
        (1, us(0), 1, "click", 0.0, "{}"),
        (2, us(5), 1, "click", 0.0, "{}"),
        (3, us(1), 2, "purchase", 9.5, "{}"),
        (4, us(2), 2, "click", 0.0, "{}"),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    out = {
        r["click_id"]: r
        for r in asof_join_cogroup(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 4}
    for cid in (1, 2):  # the purchase-free bucket
        assert out[cid]["purchase_id"] is None
        assert out[cid]["purchase_ts"] is None
        assert out[cid]["purchase_value"] is None
    assert out[4]["purchase_id"] == 3
    assert out[4]["purchase_value"] == 9.5


_TIE_CASES = st.lists(
    st.tuples(
        st.integers(0, 3),  # probe_id
        st.integers(0, 40),  # vec_id
        st.integers(0, 4),  # dist: few values, so ties are common
    ),
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=_TIE_CASES, k=st.integers(1, 6))
# a tie straddling rank k, and a probe with fewer than k candidates
@example(rows=[(0, 5, 1), (0, 3, 2), (0, 1, 2), (0, 9, 2), (1, 4, 0)], k=3)
@settings(max_examples=25, deadline=None)
def test_topk_per_probe_matches_lexsort(spark, rows, k):
    """topk_per_probe keeps, per probe, the first k rows by (dist,
    vec_id) with rn = 1..k — numpy's lexsort((vec_id, dist)) per probe."""
    import numpy as np

    from spec_search_spark.operators.similarity import topk_per_probe
    from spec_search_spark.session import local_df

    scored = local_df(spark, rows, "probe_id int, vec_id bigint, dist double")
    got = sorted(
        tuple(r)
        for r in topk_per_probe(scored, k, "dist")
        .select("probe_id", "vec_id", "dist", "rn")
        .collect()
    )
    want = []
    arr = np.array(rows, dtype=np.int64).reshape(-1, 3)
    for p in np.unique(arr[:, 0]):
        mine = arr[arr[:, 0] == p]
        order = np.lexsort((mine[:, 1], mine[:, 2]))[:k]
        want += [(int(p), int(v), float(d), rn) for rn, (_, v, d) in enumerate(mine[order], 1)]
    assert got == sorted(want)
