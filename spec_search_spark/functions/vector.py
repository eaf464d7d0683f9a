"""Vector functions: distances as Catalyst higher-order-function
expressions, plus a deterministic embedding pandas_udf.

The reference delegates both to ChromaDB (L2 over HNSW, implicit
MiniLM embedding — `/root/reference/app.py:50-52`, `:35-36`). Here:

- distances are pure SQL higher-order functions (``zip_with`` +
  ``aggregate``) → JVM-side, whole-stage-codegen'd, no Python in the
  hot path. Elements are cast to double FIRST so Spark and the DuckDB
  oracle fold the identical IEEE sequence.
- the embedder is a seeded hash-projection (SURVEY.md §7 "embedding
  determinism"): dependency-free, stable across runs/processes, unit
  norm, fixed dim. It is the documented swap point for a real model
  (sentence-transformers via the same pandas_udf signature — see
  :func:`make_model_embed_udf`). Runs as an Arrow-batched pandas_udf —
  the scalable path for any real model too.
- one kernel, :func:`_embed_matrix`, serves every embedder entry point
  (both UDFs and :func:`embed_text_local`): each DISTINCT token of a
  batch is hashed once with the SAME polynomial fold as
  ``functions.text.fingerprint`` (FP_BASE/FP_MOD), which makes the
  whole embedding pipeline SQL-expressible: integer bucket votes, an
  exact integer sum-of-squares norm, and ONE float32 rounding per
  component — DuckDB reproduces every component bit-for-bit via
  :func:`embedding_sql_ctes`, so the V1/V2 queries get full value
  oracles instead of rows-only checks.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spec_search_spark.functions.text import FP_BASE, FP_MOD, poly_hash_batch

DEFAULT_DIM = 64  # matches the test `embeddings` table; reference uses 384
EMBED_SIGN_BIT = 20  # vote sign = this bit of the token hash (h < 2^31)


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def l2_squared(a: Column, b: Column) -> Column:
    """Σ (a_i - b_i)² via zip_with+aggregate (codegen'd, no UDF)."""
    diffs = F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(l2_squared(a, b))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# DuckDB-side oracle builders: the same left-to-right fold, so both engines
# produce bit-identical doubles (modulo final rounding in the queries).
# ---------------------------------------------------------------------------

def l2_squared_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({a}, {b}), z -> "
        f"(z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({a}, {b}), z -> z[1]::DOUBLE * z[2]::DOUBLE)), "
        f"(acc, x) -> acc + x)"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    return (
        f"({dot_sql(a, b)}) / "
        f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
    )


# ---------------------------------------------------------------------------
# Deterministic hash-projection embedder (the MiniLM stand-in).
# ---------------------------------------------------------------------------

def _votes_batch(texts: list, dim: int) -> np.ndarray:
    """(N × dim) int64 vote matrix: each token votes ±1 into bucket
    ``h % dim``, sign = bit EMBED_SIGN_BIT of its hash ``h``.

    Tokens are the runs between the six ASCII whitespace characters
    (not str.split()'s Unicode set), folded by str.lower() and hashed
    over code points by :func:`poly_hash_batch`. The batch is split
    ONCE in Arrow and dictionary-encoded, so each DISTINCT token is
    lowered and hashed once (10k perfbench chunks: 188k tokens, 195
    distinct), and one bincount scatters all votes into their (row,
    bucket) cells — exact, since |votes| ≤ tokens per text ≪ 2^53.
    Splitting before lowering is exact: str.lower() never creates or
    removes ASCII whitespace, which is not case-ignorable, so the
    final-sigma context stops at a token edge. Nulls and non-strings
    embed as the empty text (the zero vector)."""
    n = len(texts)
    toks = pc.ascii_split_whitespace(
        pa.array([t if isinstance(t, str) else None for t in texts], pa.string())
    )
    enc = pc.dictionary_encode(pc.list_flatten(toks))
    h = poly_hash_batch([t.lower() for t in enc.dictionary.to_pylist()])
    sign = np.where((h >> EMBED_SIGN_BIT) & 1, 1.0, -1.0)
    sign[pc.utf8_length(enc.dictionary).to_numpy() == 0] = 0.0  # no token
    codes = enc.indices.to_numpy()
    cell = pc.list_parent_indices(toks).to_numpy() * dim + (h % dim)[codes]
    votes = np.bincount(cell, weights=sign[codes], minlength=n * dim)
    return votes.astype(np.int64).reshape(n, dim)


def _embed_matrix(texts: list, dim: int) -> np.ndarray:
    """(N × dim) float32 unit-norm embeddings — the one normalize every
    entry point shares.

    Exactness contract with the SQL mirror: votes are int64, the
    squared norm is an exact integer sum, and the only rounding is the
    final float64-division → float32 cast per component — a single
    IEEE rounding both engines perform identically. Zero-vote rows
    stay all-zero."""
    votes = _votes_batch(texts, dim)
    nrm = np.sqrt((votes * votes).sum(axis=1).astype(np.float64))
    nrm[nrm == 0] = 1.0
    return (votes.astype(np.float64) / nrm[:, None]).astype(np.float32)


def make_embed_udf(dim: int = DEFAULT_DIM):
    """Arrow-batched pandas_udf: text column → array<float> embedding
    (whole batch through the distinct-token vote kernel)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return pd.Series(list(_embed_matrix(texts.tolist(), dim)), index=texts.index)

    return embed


def embed_text_local(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Driver-side helper for probe vectors (same function as the UDF)."""
    return [float(x) for x in _embed_matrix([text], dim)[0]]


def make_embed_sig_udf(dim: int = DEFAULT_DIM):
    """text → emb_sig string DIRECTLY from the kernel's float32 matrix —
    the index-build fast path. Bit-identical to
    emb_sig(make_embed_udf()(t)) but skips materializing the float32
    array column and the 64-element transform+concat JVM expression per
    row.

    Rounding contract: the scaled components round half-away-from-zero
    (copysign(floor(|v|+0.5))), matching Spark round() (BigDecimal
    HALF_UP = away from zero on ties) and DuckDB round() on these
    values — |v| ≤ 1e6 is exact in float64, so no double-rounding."""

    @F.pandas_udf(T.StringType())
    def embed_sig(texts: pd.Series) -> pd.Series:
        vals = _embed_matrix(texts.tolist(), dim).astype(np.float64) * 1e6
        ints = np.copysign(np.floor(np.abs(vals) + 0.5), vals).astype(np.int64)
        sigs = [",".join(map(str, row)) for row in ints.tolist()]
        return pd.Series(sigs, index=texts.index)

    return embed_sig


def make_model_embed_udf(load_model, batch_size: int = 256):
    """The real-model swap point (reference: MiniLM-384 via Chroma,
    `/root/reference/app.py:35-36`, `indexer.py:11`): wrap any encoder
    exposing ``.encode(list[str]) -> ndarray`` in the SAME pandas_udf
    surface as :func:`make_embed_udf`.

    Iterator-of-series form so `load_model()` runs ONCE per python
    worker (not per batch) — the standard Spark pattern for shipping a
    heavyweight model to executors. `load_model` must be picklable
    (e.g. a module-level function that imports sentence_transformers).

    (`Iterator` must be importable from THIS module's globals for
    PySpark to recognize the iterator-of-batches signature — a
    function-local import made typehint resolution fail with
    UNSUPPORTED_SIGNATURE; caught by tests/test_model_swap.py.)
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = load_model()
        for texts in batches:
            cleaned = [t if isinstance(t, str) else "" for t in texts]
            out = []
            for i in range(0, len(cleaned), batch_size):
                vecs = model.encode(cleaned[i : i + batch_size])
                out.extend(np.asarray(v, dtype=np.float32) for v in vecs)
            yield pd.Series(out, index=texts.index)

    return embed


# ---------------------------------------------------------------------------
# Canon-safe projection + full SQL mirror of the embedding pipeline.
# ---------------------------------------------------------------------------

def emb_sig(col: Column) -> Column:
    """Canon-safe projection of an embedding column: comma-joined
    per-component scaled ints round(c·10⁶). Integers render identically
    in every engine (float→string formatting does not), and the driver
    harness's pandas canonicalizer can sort/factorize strings but
    crashes on ndarray cells — so registered queries expose THIS, never
    the raw array<float>."""
    return F.concat_ws(
        ",",
        F.transform(
            col,
            lambda x: F.round(x.cast("double") * 1e6, 0).cast("bigint").cast("string"),
        ),
    )


def emb_sig_sql_agg(comp_cte: str = "__comp") -> str:
    """DuckDB aggregate mirroring :func:`emb_sig` over the (id, d, c)
    component rows produced by :func:`embedding_sql_ctes`."""
    return (
        f"SELECT id, string_agg(CAST(round(c::DOUBLE * 1000000) AS BIGINT)::VARCHAR, "
        f"',' ORDER BY d) AS emb_sig FROM {comp_cte} GROUP BY id"
    )


def embedding_sql_ctes(
    chunks_cte: str, id_col: str, text_col: str, dim: int = DEFAULT_DIM
) -> str:
    """DuckDB CTE chain recomputing :func:`_embed_matrix` for every
    ({id_col}, {text_col}) row of `chunks_cte` — bit-for-bit.

    Emits CTEs __toks/__hashed/__votes/__norms/__grid/__comp; consumers
    read __comp(id, d, c) where c is the REAL (float32) component for
    dimension d (0..dim-1, zero-vote buckets included). All arithmetic
    before the final REAL cast is exact integer in both engines.

    The bit-for-bit claim holds for ASCII text without vertical tab:
    RE2's '\\s' omits \\x0b, and on non-ASCII DuckDB's lower() and
    ord() over regexp_extract_all can diverge from str.lower() over
    code points (e.g. lower('ΑΣ') keeps the medial sigma).
    """
    poly = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(regexp_extract_all(tok, '[\\s\\S]'), c -> ord(c)::BIGINT)), "
        f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
    )
    return f"""
__toks AS (
  SELECT {id_col} AS id,
         unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS tok
  FROM {chunks_cte} WHERE trim(coalesce({text_col}, '')) <> ''
),
__hashed AS (SELECT id, {poly} AS h FROM __toks),
__votes AS (
  SELECT id, h % {dim} AS d,
         sum(CASE WHEN (h >> {EMBED_SIGN_BIT}) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT AS v
  FROM __hashed GROUP BY id, d
),
__norms AS (SELECT id, sqrt((sum(v * v))::DOUBLE) AS nrm FROM __votes GROUP BY id),
__grid AS (SELECT {id_col} AS id, d FROM {chunks_cte}, range({dim}) t(d)),
__comp AS (
  SELECT g.id, g.d,
         CASE WHEN n.nrm IS NULL OR n.nrm = 0 THEN CAST(0 AS REAL)
              ELSE CAST(coalesce(v.v, 0)::DOUBLE / n.nrm AS REAL) END AS c
  FROM __grid g
  LEFT JOIN __votes v ON v.id = g.id AND v.d = g.d
  LEFT JOIN __norms n ON n.id = g.id
)"""
