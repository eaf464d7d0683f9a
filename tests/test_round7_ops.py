"""Round-7 additions: streaming twins for the round-6 monitors
(embedding drift, ROC-AUC model gate) equal their batch ops exactly,
and the adaptive rank walk picks identical values on both plan shapes
(value parity vs the DuckDB oracles is covered by tools/selfcheck.py)."""

from __future__ import annotations

import os


def test_stream_embedding_drift_equals_batch(spark, sf_dir):
    from spec_search_spark.operators.drift import embedding_drift_monitor
    from spec_search_spark.streaming.incremental import (
        stream_embedding_drift_query,
    )

    batch = embedding_drift_monitor(spark, sf_dir).collect()
    stream = stream_embedding_drift_query(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_stream_roc_auc_equals_batch(spark, sf_dir):
    from spec_search_spark.operators.ml import roc_auc_doc_model
    from spec_search_spark.streaming.incremental import stream_roc_auc_query

    batch = roc_auc_doc_model(spark, sf_dir).collect()
    stream = stream_roc_auc_query(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_adaptive_rank_walk_same_values_both_shapes(spark, sf_dir):
    """The small-table local window and the bucketed two-phase walk
    must be value-identical — the threshold only changes the plan."""
    from spec_search_spark.operators.rank_stats import (
        mad_outlier_orders,
        mannwhitney_priority_revenue,
    )

    def both(fn):
        prev = os.environ.get("SPARK_GRAFT_RANK_SMALL_MAX")
        try:
            os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = "0"
            big = fn(spark, sf_dir).collect()
            os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = str(10**12)
            small = fn(spark, sf_dir).collect()
        finally:
            if prev is None:
                os.environ.pop("SPARK_GRAFT_RANK_SMALL_MAX", None)
            else:
                os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = prev
        return big, small

    for fn in (mannwhitney_priority_revenue, mad_outlier_orders):
        big, small = both(fn)
        assert [tuple(r) for r in big] == [tuple(r) for r in small]


def test_stratified_sample_same_values_both_shapes(spark, sf_dir):
    from spec_search_spark.operators.text_analysis import (
        stratified_quality_sample,
    )

    prev = os.environ.get("SPARK_GRAFT_RANK_SMALL_MAX")
    try:
        os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = "0"
        big = sorted(
            tuple(r) for r in stratified_quality_sample(spark, sf_dir).collect()
        )
        os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = str(10**12)
        small = sorted(
            tuple(r) for r in stratified_quality_sample(spark, sf_dir).collect()
        )
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_RANK_SMALL_MAX", None)
        else:
            os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = prev
    assert big == small


def test_bpe_train_merges_matches_python(spark, sf_dir):
    """Independent reference: the same greedy weighted BPE loop in
    plain python strings (str.replace is leftmost-non-overlapping like
    both engines' replace()); every merge must re-segment — pairs are
    pairwise distinct and each round's selection reflects the previous
    round's replace."""
    from collections import Counter

    from spec_search_spark.operators.text_analysis import (
        BPE_TRAIN_MERGES,
        bpe_train_merges,
    )

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    words = Counter()
    for t in texts:
        t = t.strip()
        if t:
            import re

            for w in re.split(r"\s+", t):
                words[w] += 1
    state = list(words.items())
    merges = []
    rendered = {}
    for i in range(1, BPE_TRAIN_MERGES + 1):
        cnt: Counter = Counter()
        for m, c in state:
            for j in range(len(m) - 1):
                cnt[m[j : j + 2]] += c
        if not cnt:
            break
        pair = min(cnt, key=lambda p: (-cnt[p], p))
        rend = "".join(
            "[" + rendered[ch] + "]" if ch in rendered else ch for ch in pair
        )
        merges.append((i, rend, cnt[pair]))
        rendered[chr(i)] = rend
        if i < BPE_TRAIN_MERGES:
            state = [(m.replace(pair, chr(i)), c) for m, c in state]
    got = [(r.merge_idx, r.pair, r.n) for r in bpe_train_merges(spark, sf_dir).collect()]
    assert got == merges
    assert len({p for _, p, _ in got}) == len(got)  # every merge re-segments


def test_bpe_distributed_path_equals_driver_path(spark, sf_dir):
    """Force the distributed loop (SPARK_GRAFT_BPE_DRIVER_MAX=0) and
    pin it to the default driver-side path's result."""
    from spec_search_spark.operators.text_analysis import bpe_train_merges

    from spec_search_spark.operators.text_analysis import _bpe_train

    default = [tuple(r) for r in bpe_train_merges(spark, sf_dir).collect()]
    prev = os.environ.get("SPARK_GRAFT_BPE_DRIVER_MAX")
    try:
        os.environ["SPARK_GRAFT_BPE_DRIVER_MAX"] = "0"
        _bpe_train.cache_clear()  # else the memoized driver-path result returns
        forced = [tuple(r) for r in bpe_train_merges(spark, sf_dir).collect()]
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_BPE_DRIVER_MAX", None)
        else:
            os.environ["SPARK_GRAFT_BPE_DRIVER_MAX"] = prev
        _bpe_train.cache_clear()  # drop the distributed-path memo too
    assert forced == default
    assert len(default) > 0


def test_retrieval_eval_matches_python(spark, sf_dir):
    """Independent reference: MRR/DCG/nDCG/recall@K recomputed with a
    plain python walk using the same conventions (left-to-right double
    fold for L2, 4dp rounding, vec_id tiebreak, micro-snapped log2
    discounts)."""
    import math
    from collections import Counter

    from spec_search_spark.operators.similarity import (
        N_PROBES,
        TOP_K,
        retrieval_eval_report,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    vecs = {r.vec_id: ([float(x) for x in r.embedding], r.label) for r in rows}
    n_lab = Counter(lab for _, lab in vecs.values())

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    expect = []
    for pid in sorted(v for v in vecs if v < N_PROBES):
        pv, plab = vecs[pid]
        scored = sorted(
            (round(l2(v, pv), 4), vid, lab)
            for vid, (v, lab) in vecs.items()
            if vid != pid
        )
        hits = frr = 0
        dcg = 0
        for rank, (_, vid, lab) in enumerate(scored[:TOP_K], 1):
            if lab == plab:
                hits += 1
                if not frr:
                    frr = rank
                dcg += round(1e6 / math.log2(rank + 1))
        n_rel = n_lab[plab] - 1
        idcg = sum(
            round(1e6 / math.log2(i + 1))
            for i in range(1, min(TOP_K, n_rel) + 1)
        )
        expect.append(
            (
                pid,
                n_rel,
                hits,
                round(1e6 / frr) if frr else 0,
                dcg,
                idcg,
                round(dcg / idcg * 1e6) / 1e6 if idcg else 0.0,
                round(hits / min(TOP_K, n_rel) * 1e6) / 1e6 if n_rel else 0.0,
            )
        )
    got = [tuple(r) for r in retrieval_eval_report(spark, sf_dir).collect()]
    assert got == expect


def test_t_closeness_matches_python(spark, sf_dir):
    """Independent reference: ordered-attribute EMD per QI group via
    exact integer cumulative counts, same 6dp snap and threshold."""
    from collections import Counter, defaultdict

    from spec_search_spark.operators.pii import T_CLOSE_T, t_closeness_report

    rows = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )

    def idx(b):
        return 1 if b < 0 else (2 if b < 5000 else 3)

    groups = defaultdict(Counter)
    glob = Counter()
    for r in rows:
        i = idx(r.c_acctbal)
        groups[(r.c_nationkey, r.c_mktsegment)][i] += 1
        glob[i] += 1
    n = sum(glob.values())
    g1, q2 = glob[1], glob[1] + glob[2]
    ts, above_g, above_r = [], 0, 0
    for cnt in groups.values():
        n_g = sum(cnt.values())
        a1, p2 = cnt[1], cnt[1] + cnt[2]
        num = abs(a1 * n - g1 * n_g) + abs(p2 * n - q2 * n_g)
        t6 = round(num / (n_g * n * 2) * 1e6) / 1e6
        ts.append(t6)
        if t6 > T_CLOSE_T:
            above_g += 1
            above_r += n_g
    got = t_closeness_report(spark, sf_dir).collect()[0]
    assert got.n_groups == len(groups)
    assert got.t_closeness_6 == max(ts)
    assert got.n_groups_above_t == above_g
    assert got.n_rows_above_t == above_r


def test_bpe_segment_stats_matches_python(spark, sf_dir):
    """Independent reference: apply the python-trained merges to every
    (source, word) occurrence and re-derive the per-source counts."""
    import re
    from collections import Counter, defaultdict

    from spec_search_spark.operators.text_analysis import (
        _bpe_trained_merges,
        bpe_segment_stats,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    merges = _bpe_trained_merges(spark, sf_dir)
    per = defaultdict(lambda: [0, 0, 0])  # n_tokens, chars, syms
    cache = {}
    for r in rows:
        t = r.text.strip()
        if not t:
            continue
        for w in re.split(r"\s+", t):
            if w not in cache:
                m = w
                for i, raw, _rend, _n in merges:
                    m = m.replace(raw, chr(i))
                cache[w] = len(m)
            p = per[r.source]
            p[0] += 1
            p[1] += len(w)
            p[2] += cache[w]
    got = bpe_segment_stats(spark, sf_dir).collect()
    assert [r.source for r in got] == sorted(per)
    for r in got:
        n, ch, sy = per[r.source]
        assert (r.n_tokens, r.n_chars, r.n_symbols) == (n, ch, sy)
        assert r.chars_per_symbol_6 == (round(ch / sy * 1e6) / 1e6 if sy else None)
        assert r.n_symbols <= r.n_chars  # merges never lengthen


def test_hits_matches_python(spark, sf_dir):
    """Independent reference: the same fixed-point HITS walk in plain
    python integer arithmetic over the collected edge set."""
    from collections import defaultdict

    from spec_search_spark.operators.graph import (
        HITS_ITERS,
        SCALE,
        hits_hubs_authorities,
    )

    o = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    edges = set()
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        if r.l_orderkey in o:
            edges.add((o[r.l_orderkey], r.l_partkey))
    h = {c: SCALE for c, _ in edges}
    a = {}
    for i in range(HITS_ITERS):
        ar = defaultdict(int)
        for c, p in edges:
            ar[p] += h[c]
        ta = sum(ar.values())
        a = {p: (v * SCALE) // ta for p, v in ar.items()}
        if i < HITS_ITERS - 1:
            hr = defaultdict(int)
            for c, p in edges:
                hr[c] += a[p]
            th = sum(hr.values())
            h = {c: (v * SCALE) // th for c, v in hr.items()}
    expect = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.p_partkey, r.auth_fixed) for r in hits_hubs_authorities(spark, sf_dir).collect()]
    assert got == expect


def test_skyline_matches_bruteforce_both_shapes(spark, sf_dir):
    """Independent reference: O(n²) dominance check in python; both
    the local-window and bucketed strict-prefix-max shapes must agree."""
    from spec_search_spark.operators.relational import skyline_customers

    # recompute exactly as the op does (integer cents per order)
    import collections

    agg = collections.defaultdict(lambda: [0, 0])
    for r in (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        a = agg[r.o_custkey]
        a[0] += round(r.o_totalprice * 100)
        a[1] += 1
    pts = [(k, s, n) for k, (s, n) in agg.items()]
    expect = sorted(
        [
            (k, s, n)
            for k, s, n in pts
            if not any(
                s2 >= s and n2 >= n and (s2 > s or n2 > n)
                for _, s2, n2 in pts
            )
        ],
        key=lambda t: (-t[1], t[0]),
    )
    for force in (None, "0"):
        prev = os.environ.get("SPARK_GRAFT_RANK_SMALL_MAX")
        try:
            if force is not None:
                os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = force
            got = [tuple(r) for r in skyline_customers(spark, sf_dir).collect()]
        finally:
            if prev is None:
                os.environ.pop("SPARK_GRAFT_RANK_SMALL_MAX", None)
            else:
                os.environ["SPARK_GRAFT_RANK_SMALL_MAX"] = prev
        assert got == expect


def test_misra_gries_matches_python_exact(spark, sf_dir):
    """Independent reference: the final output must equal the EXACT
    heavy-hitter set (the MG sketch only bounds the candidate pass;
    the recount makes the result exact by construction)."""
    import re
    from collections import Counter

    from spec_search_spark.operators.sketches import (
        MG_K,
        misra_gries_heavy_hitters,
    )

    cnt = Counter()
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ):
        t = r.text.strip()
        if t:
            cnt.update(re.split(r"\s+", t))
    n_total = sum(cnt.values())
    expect = sorted(
        ((t, n) for t, n in cnt.items() if n * MG_K > n_total),
        key=lambda kv: (-kv[1], kv[0]),
    )
    got = [(r.tok, r.n) for r in misra_gries_heavy_hitters(spark, sf_dir).collect()]
    assert got == expect
    assert len(got) > 0


def test_bcubed_matches_python(spark, sf_dir):
    """Independent reference: B-cubed P/R/F1 recomputed from the
    collected cluster assignments and exact-text gold groups."""
    from collections import Counter

    from spec_search_spark.operators.dedup import (
        dedup_bcubed_eval,
        dedup_clusters,
    )

    pred = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    gold = {}
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        gold[r.doc_id] = r.text
    cells = Counter((pred[d], gold[d]) for d in pred)
    nl = Counter()
    ng = Counter()
    for (c, g), n in cells.items():
        nl[c] += n
        ng[g] += n
    nd = sum(cells.values())
    sp = sum(round(n * n * 1e6 / nl[c]) for (c, g), n in cells.items())
    sr = sum(round(n * n * 1e6 / ng[g]) for (c, g), n in cells.items())
    got = dedup_bcubed_eval(spark, sf_dir).collect()[0]
    assert got.n_docs == nd
    assert got.n_pred_clusters == len(nl)
    assert got.n_gold_groups == len(ng)
    assert got.bcubed_precision_6 == round(sp / nd) / 1e6
    assert got.bcubed_recall_6 == round(sr / nd) / 1e6
    assert got.bcubed_f1_6 == round(2.0 * sp * sr / (sp + sr) / nd) / 1e6
    # sanity: exact-dup gold is a refinement target — recall of a
    # candidate-graph clustering over exact groups should be high
    assert got.bcubed_recall_6 > 0.5


def test_stream_t_closeness_equals_batch(spark, sf_dir):
    from spec_search_spark.operators.pii import t_closeness_report
    from spec_search_spark.streaming.incremental import (
        stream_t_closeness_query,
    )

    batch = t_closeness_report(spark, sf_dir).collect()
    stream = stream_t_closeness_query(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_rbo_matches_python(spark, sf_dir):
    """Independent reference: truncated RBO@K recomputed from python
    rankings with the same conventions."""
    from spec_search_spark.operators.similarity import (
        N_PROBES,
        RBO_P,
        TOP_K,
        ann_lsh_bucketed,
        rbo_ann_vs_exact,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    exact = {}
    for pid in sorted(v for v in vecs if v < N_PROBES):
        ranked = sorted(
            (round(l2(v, vecs[pid]), 4), vid)
            for vid, v in vecs.items()
            if vid != pid
        )[:TOP_K]
        exact[pid] = {vid: i + 1 for i, (_, vid) in enumerate(ranked)}
    approx = {}
    for r in ann_lsh_bucketed(spark, sf_dir).collect():
        approx.setdefault(r.probe_id, {})[r.vec_id] = r.rn
    ideal = round(1e9 * sum(RBO_P ** (d - 1) for d in range(1, TOP_K + 1)))
    expect = []
    for pid in sorted(exact):
        sc = n = 0
        for vid, ra in exact[pid].items():
            rb = approx.get(pid, {}).get(vid)
            if rb is not None:
                n += 1
                m = max(ra, rb)
                sc += round(
                    1e9 * sum(RBO_P ** (d - 1) / d for d in range(m, TOP_K + 1))
                )
        expect.append((pid, n, round(sc / ideal * 1e6) / 1e6))
    got = [tuple(r) for r in rbo_ann_vs_exact(spark, sf_dir).collect()]
    assert got == expect
    assert any(n > 0 for _, n, _ in got)


def test_anisotropy_matches_python(spark, sf_dir):
    """Independent reference: pair cosines, bins, shares and the mean
    recomputed in python with the same snapping."""
    import math

    from spec_search_spark.operators.drift import (
        ANISO_BINS,
        embedding_anisotropy_report,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    from collections import defaultdict

    hist = defaultdict(lambda: [0, 0])
    n = st = 0
    for k in sorted(v // 2 for v in vecs if v % 2 == 0):
        if 2 * k in vecs and 2 * k + 1 in vecs:
            c6 = round(cos(vecs[2 * k], vecs[2 * k + 1]) * 1_000_000)
            b = min(ANISO_BINS - 1, max(0, (c6 + 1_000_000) * ANISO_BINS // 2_000_000))
            hist[b][0] += 1
            hist[b][1] += c6
            n += 1
            st += c6
    got = embedding_anisotropy_report(spark, sf_dir).collect()
    assert [r.bin for r in got] == list(range(ANISO_BINS))  # full spine
    for r in got:
        np_, _s = hist.get(r.bin, (0, 0))
        assert r.n_pairs == np_
        assert r.share_6 == round(np_ / n * 1e6) / 1e6
        assert r.mean_cos_micro == round(st / n)
        assert r.lo_6 == r.bin * 2_000_000 // ANISO_BINS - 1_000_000
