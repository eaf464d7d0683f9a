"""Unit/property tests for the pure functions (chunker, embedder, A1,
type sniffing) — the test strategy SURVEY.md §5 prescribes for the
non-SQL-expressible pieces."""

from __future__ import annotations

import re
import string

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spec_search_spark.functions.text import FP_BASE, FP_MOD, split_text_recursive
from spec_search_spark.functions.vector import (
    EMBED_SIGN_BIT,
    _embed_matrix,
    _votes_batch,
    embed_text_local,
)


# --- recursive chunker properties (reference params indexer.py:62-66) ------

TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " \n.,!?",
    min_size=0,
    max_size=5000,
)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_chunks_within_size(text):
    for c in split_text_recursive(text, size=1000, overlap=200):
        assert 0 < len(c) <= 1000


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_chunks_cover_content(text):
    """Every non-separator character sequence survives chunking:
    concatenated chunks contain the original text's non-whitespace
    characters in order (overlap may duplicate, never drop)."""
    chunks = split_text_recursive(text, size=1000, overlap=200)
    if not text:
        assert chunks == []
        return
    joined = "".join(chunks)
    orig = "".join(text.split())
    # subsequence check: every non-ws char of the original appears in
    # order in the concatenation
    it = iter(joined)
    assert all(ch in it for ch in orig)


@given(TEXT)
@settings(max_examples=100, deadline=None)
def test_short_text_single_chunk(text):
    if 0 < len(text) <= 1000:
        assert split_text_recursive(text, size=1000, overlap=200) == [text]


def test_chunker_prefers_paragraph_boundaries():
    text = "para one is here.\n\n" + "word " * 300 + "\n\nlast para."
    chunks = split_text_recursive(text, size=200, overlap=50)
    assert all(len(c) <= 200 for c in chunks)
    assert chunks[0].startswith("para one")


# --- embedder ---------------------------------------------------------------

def test_embed_deterministic_and_unit_norm():
    a = embed_text_local("the quick brown fox", 64)
    b = embed_text_local("the quick brown fox", 64)
    assert a == b
    assert len(a) == 64
    n = sum(x * x for x in a) ** 0.5
    assert abs(n - 1.0) < 1e-5


def test_embed_distinguishes_texts():
    a = embed_text_local("alpha beta gamma", 64)
    b = embed_text_local("delta epsilon zeta", 64)
    assert a != b


def test_embed_empty_is_zero():
    assert all(x == 0.0 for x in embed_text_local("", 64))


# The per-row fold the distinct-token kernel replaced, kept as its
# reference: lower the whole text, split on the six ASCII whitespace
# characters, fold each token's code points one by one.
_REF_WS = re.compile(r"[ \t\n\r\f\x0b]+")


def _ref_votes(text, dim: int) -> np.ndarray:
    votes = np.zeros(dim, dtype=np.int64)
    if isinstance(text, str) and text:
        for tok in _REF_WS.split(text.lower()):
            if not tok:
                continue
            h = 0
            for ch in tok:
                h = (h * FP_BASE + ord(ch)) % FP_MOD
            votes[h % dim] += 1 if (h >> EMBED_SIGN_BIT) & 1 else -1
    return votes


# oversampled: the split set, look-alike separators that must NOT split
# (U+0085, U+00A0, \x1c-\x1f), final-sigma contexts, case mappings that
# change length, non-BMP code points and a formula
_WS = [" ", "\t", "\n", "\r", "\f", "\x0b"]
_PIECES = _WS + [
    "\x85", "\xa0", "\x1c", "\x1d", "\x1e", "\x1f",
    "Σ", "σ", "ς", "ΑΣ", "Σ.", ".",
    "İ", "ß", "ﬁ", "\U0001F600", "\U00010348",
    "=SUM(A1:A2)", "word", "Word",
]
_EMBED_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.text(),
    st.lists(st.one_of(st.sampled_from(_PIECES), st.text(max_size=4)), max_size=12).map(
        "".join
    ),
    st.tuples(
        st.sampled_from(_WS), st.lists(st.sampled_from(_PIECES), max_size=6), st.sampled_from(_WS)
    ).map(lambda t: t[0] + "".join(t[1]) + t[2]),
)


@given(st.lists(_EMBED_TEXT, max_size=12), st.sampled_from([1, 7, 64]))
@settings(max_examples=300, deadline=None)
def test_votes_batch_matches_per_row_fold(texts, dim):
    got = _votes_batch(texts, dim)
    assert got.shape == (len(texts), dim) and got.dtype == np.int64
    for row, t in zip(got, texts):
        assert (row == _ref_votes(t, dim)).all(), t


@given(_EMBED_TEXT.filter(lambda t: t is not None))
@settings(max_examples=200, deadline=None)
def test_embed_text_local_is_matrix_row(text):
    assert embed_text_local(text, 64) == list(_embed_matrix([text], 64)[0])


def test_embed_udfs_across_arrow_batches(spark):
    """Three-row Arrow batches mixing ASCII, non-ASCII and null rows:
    the index build's embedding equals the driver-side embedder row by
    row, and the votes→sig fast path equals emb_sig of the array UDF."""
    from pyspark.sql import functions as F

    from spec_search_spark.functions.vector import (
        emb_sig,
        make_embed_sig_udf,
        make_embed_udf,
    )
    from spec_search_spark.operators.similarity import build_index_df

    texts = [
        "quarterly revenue by region",
        "ΑΣ Σ. σς İstanbul Straße ﬁle \U0001F600 =SUM(A1:A2)",
        None,
        "",
        "  leading and trailing\twhitespace\x0b",
        "no\x85split\xa0on\x1cthese",
        " ".join(["Σigma word ß"] * 20),  # several chunks
        "plain ascii text " * 12,
        None,
        "İ",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "docs", len(t or "")) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        rows = build_index_df(docs).select("chunk", "embedding").collect()
        chunks = [r["chunk"] for r in rows] + [None, None]
        frame = spark.createDataFrame([(c,) for c in chunks], "chunk string").repartition(2)
        sigs = frame.select(
            make_embed_sig_udf(64)(F.col("chunk")).alias("direct"),
            emb_sig(make_embed_udf(64)(F.col("chunk"))).alias("via_array"),
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    assert len(rows) > sum(1 for t in texts if t)  # null/empty dropped, long docs split
    for r in rows:
        assert list(r["embedding"]) == embed_text_local(r["chunk"], 64), r["chunk"]
    assert len(sigs) == len(chunks)
    for r in sigs:
        assert r["direct"] == r["via_array"]


# --- A1 letters & type sniffing (need Spark) --------------------------------

@pytest.mark.parametrize(
    "idx,expected",
    [(0, "A"), (1, "B"), (25, "Z"), (26, "AA"), (27, "AB"), (51, "AZ"), (52, "BA"), (701, "ZZ")],
)
def test_a1_letter_correct_base26(spark, idx, expected):
    from pyspark.sql import functions as F

    from spec_search_spark.functions.sheets import a1_letter

    row = spark.range(1).select(a1_letter(F.lit(idx)).alias("a1")).first()
    assert row["a1"] == expected, f"idx {idx}"


@pytest.mark.parametrize(
    "value,expected",
    [
        ("42", "integer"),
        ("-7", "integer"),
        ("3.14", "float"),
        ("1.0E-7", "float"),
        ("true", "boolean"),
        ("No", "boolean"),
        ("2023-05-12", "date"),
        ("12/5/2023", "date"),
        ("hello", "string"),
        ("12 monkeys", "string"),
    ],
)
def test_sniff_type(spark, value, expected):
    from pyspark.sql import functions as F

    from spec_search_spark.functions.sheets import sniff_type

    row = spark.range(1).select(sniff_type(F.lit(value)).alias("t")).first()
    assert row["t"] == expected, value


# --- lossless-blocking properties (pure Python, no Spark) -------------------


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=14),
        min_size=2,
        max_size=8,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_fuzzy_qgram_blocking_is_lossless(names):
    """Every pair within EDIT_D must be admitted by the candidate rule
    used in operators.fuzzy (shared q-gram with position shift <= d and
    count >= the Gravano bound, OR both strings short): a pair the
    blocking drops while levenshtein says <= d would be a silent
    correctness hole."""
    from spec_search_spark.operators.fuzzy import EDIT_D, QGRAM, SHORT_LEN

    def grams(s):
        n = max(len(s) - QGRAM + 1, 1)
        return [(i, s[i : i + QGRAM]) for i in range(n)]

    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if abs(len(a) - len(b)) > EDIT_D:
                continue
            if _levenshtein(a, b) > EDIT_D:
                continue
            # the pair qualifies — the blocking must admit it
            if max(len(a), len(b)) <= SHORT_LEN:
                continue  # short-string block admits it
            matched = sum(
                1
                for pa, ga in grams(a)
                for pb, gb in grams(b)
                if ga == gb and abs(pa - pb) <= EDIT_D
            )
            bound = max(len(a), len(b)) - (QGRAM - 1) - QGRAM * EDIT_D
            assert matched >= max(bound, 1), (a, b, matched, bound)


@given(st.integers(min_value=1, max_value=10_000))
@settings(max_examples=300, deadline=None)
def test_jaccard_prefix_len_matches_exact_rational_ceil(n):
    """The SQL integer form of |x| - ceil(t*|x|) + 1 must equal the
    exact Fraction computation for every set size."""
    import math
    from fractions import Fraction

    from spec_search_spark.operators.dedup import JACCARD_STRICT_THRESHOLD

    frac = Fraction(str(JACCARD_STRICT_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    sql_form = n - ((num * n + den - 1) // den) + 1
    exact = n - math.ceil(frac * n) + 1
    assert sql_form == exact
