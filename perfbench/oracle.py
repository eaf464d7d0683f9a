"""Reference answers computed outside Spark: DuckDB over the generated
parquet, and an exact numpy top-k for semantic search."""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np

from spec_search_spark.catalog import TABLES
from spec_search_spark.functions.text import chunk_fixed_sql
from spec_search_spark.functions.sheets import sniff_type_sql
from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.operators.text_analysis import CHUNK_OVERLAP, CHUNK_SIZE


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per table present in ``data_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def chunk_count(con) -> int:
    n = chunk_fixed_sql(CHUNK_SIZE, CHUNK_OVERLAP)["n_chunks"]
    return con.sql(
        f"SELECT CAST(sum({n}) AS BIGINT) FROM documents"
        " WHERE text IS NOT NULL AND text <> ''"
    ).fetchone()[0]


def nonempty_cells(con) -> int:
    return con.sql(
        "SELECT count(*) FROM documents WHERE text IS NOT NULL AND text <> ''"
    ).fetchone()[0]


def _a1(col: int) -> str:
    return chr(65 + col) if col < 26 else chr(64 + col // 26) + chr(65 + col % 26)


def search_cells(con, term: str) -> str:
    """The observation ``SheetAgentToolkit.search_cells(term)`` must give:
    the count of corpus cells containing ``term`` and the first one in
    grid order."""
    n, first = con.execute(
        "SELECT count(*), min(doc_id) FROM documents WHERE contains(text, ?)", [term]
    ).fetchone()
    if not n:
        return "n=0 first=None"
    f = first // CELLS_PER_FILE
    cell = f"{_a1(first % COLS_PER_ROW)}{(first % CELLS_PER_FILE) // COLS_PER_ROW + 2}"
    return f"n={n} first={f}_{100 + f}_{cell}_0"


def sniff_type(con, value: str) -> str:
    return con.execute(f"SELECT {sniff_type_sql('$1')}", [value]).fetchone()[0]


def table_top(con, k: int) -> str:
    return con.execute(
        "SELECT string_agg(printf('%s|%d|%.2f', p_name, p_size, p_retailprice), ';'"
        " ORDER BY p_retailprice DESC, p_partkey) FROM"
        " (SELECT * FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT ?)",
        [k],
    ).fetchone()[0]


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def exact_topk(ids: list[str], emb: np.ndarray, probe: list[float], k: int):
    """Exact L2 top-k as ``similarity.search_index`` defines it: the
    squared distance folded left to right in float64 over float32
    components, rounded to 6 dp, ties broken by id."""
    p = np.asarray(probe, dtype=np.float64)
    e = emb.astype(np.float64)
    acc = np.zeros(len(ids))
    for j in range(e.shape[1]):
        d = e[:, j] - p[j]
        acc = acc + d * d
    coarse = np.round(acc, 6)
    # only rows that can still reach the top k after exact rounding
    cut = np.partition(coarse, k - 1)[k - 1] + 2e-6
    cand = [(_round6(float(acc[i])), ids[i]) for i in np.flatnonzero(coarse <= cut)]
    cand.sort(key=lambda t: (t[0], t[1]))
    return [(i, d) for d, i in cand[:k]]


# -- order-insensitive result comparison (same canonical form as the
#    repository's oracle self-check)


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{(0.0 if v == 0.0 else v):.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def matches_sql(con, sql: str, cols: list[str], rows: list) -> str | None:
    """``None`` when ``rows`` (columns ``cols``) equal the result of
    ``sql``, else a one-line reason."""
    rel = con.sql(sql)
    if sorted(rel.columns) != sorted(cols):
        return f"columns {cols} != {rel.columns}"
    want = rel.fetchall()
    if len(want) != len(rows):
        return f"{len(rows)} rows != {len(want)}"
    if _norm_rows(cols, rows) != _norm_rows(rel.columns, want):
        return "values differ"
    return None
