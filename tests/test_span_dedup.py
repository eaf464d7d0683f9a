"""Span-level exact substring dedup invariants (value-level parity vs
the DuckDB oracle is covered by tools/selfcheck.py; these pin the
structural claims the merge step makes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spec_search_spark.operators.span_dedup import (
    K_WINDOW,
    dup_spans_merged,
    span_dup_ratio,
)


def test_spans_are_maximal_and_disjoint(spark, sf_dir):
    rows = dup_spans_merged(spark, sf_dir).collect()
    assert rows, "test corpus contains duplicated spans by construction"
    by_doc: dict = {}
    for r in rows:
        assert r["span_len"] == r["span_end"] - r["span_start"] + 1
        assert r["span_len"] >= K_WINDOW
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            # maximal merge: next span starts strictly beyond a K-window
            # gap, else the islands step would have fused them
            assert s2 > e1 + 1, f"overlapping/adjacent spans {s1,e1} {s2,e2}"


def test_ratio_bounds_and_gate(spark, sf_dir):
    df = span_dup_ratio(spark, sf_dir)
    bad = df.filter(
        (F.col("dup_ratio") < 0)
        | (F.col("dup_ratio") > 1)
        | (F.col("dup_tok") > F.col("n_tok"))
        | (F.col("keep") != (F.col("dup_ratio") <= 0.5))
    ).count()
    assert bad == 0
    # every doc in the corpus appears exactly once (left join keeps
    # zero-dup docs)
    from spec_search_spark.catalog import load_table

    assert df.count() == load_table(df.sparkSession, sf_dir, "documents").count()


def test_short_docs_produce_no_windows(spark):
    # a doc shorter than K tokens must yield zero spans and ratio 0 —
    # the guarded sequence() path (dedup.py's downward-step pitfall)
    from spec_search_spark.operators.span_dedup import _tokens, _window_hits  # noqa: F401

    df = spark.createDataFrame(
        [(1, "one two"), (2, "")], ["doc_id", "text"]
    ).select("doc_id", _tokens(F.col("text")).alias("tk"))
    sizes = {r["doc_id"]: r["n"] for r in df.select("doc_id", F.size("tk").alias("n")).collect()}
    assert sizes == {1: 2, 2: 0}


def test_window_hits_memo_is_stable_and_per_corpus(spark, sf_dir):
    # the memoized postings artifact must return identical hit sets on
    # repeated calls (same session+corpus key) — downstream consumers
    # (dup_spans_merged, span_dup_ratio) share it, so instability here
    # would silently desynchronize the pair
    from spec_search_spark.operators.span_dedup import _window_hits
    from spec_search_spark.session import _MEMO

    h1 = _window_hits(spark, sf_dir)
    h2 = _window_hits(spark, sf_dir)
    assert h2 is h1, "second call must hit the memo, not rebuild"
    name = f"{_window_hits.__module__}.{_window_hits.__qualname__}"
    key = (spark.sparkContext.applicationId, name, sf_dir)
    assert key in _MEMO
    n1 = h1.count()
    assert n1 > 0
    # the artifact feeds both consumers: their doc coverage must agree
    docs_with_spans = {
        r["doc_id"]
        for r in dup_spans_merged(spark, sf_dir).select("doc_id").distinct().collect()
    }
    docs_with_hits = {r["doc_id"] for r in h1.select("doc_id").distinct().collect()}
    assert docs_with_spans == docs_with_hits
