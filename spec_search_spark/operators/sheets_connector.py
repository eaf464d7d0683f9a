"""The sheets CONNECTOR pipeline: the reference ingestion (Drive
folder → per-sheet cell grids → unpivot, `/root/reference/
indexer.py:20-57`) reading the sheet store (sources/sheets_source.py)
instead of a pre-built grid DataFrame — S1/S2/S3/S4/S6 as engine
surface.

The fixture directory is derived DETERMINISTICALLY from the
``documents`` table (same placement arithmetic as
sheets_pipeline.build_grid: CELLS_PER_FILE / COLS_PER_ROW), so the
DuckDB oracle recomputes the expected unpivot straight from
``documents`` — the connector read path gets a full value oracle.

Scale: the fixture builder is a test harness (driver-side, bounded by
the local corpus); the READ path is the engine part — ``read_sheets``,
Spark's native JSON scan (the store coalesced to ~cores partitions,
file-level pruning on ``_metadata.file_name``), then a posexplode
unpivot identical to cell_grid_unpivot. The stream slot reads through
``read_sheets_stream``, Spark's file stream source with the same
decode.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.functions.sheets import (
    a1_letter,
    a1_letter_sql,
    cell_row_number,
    composite_id,
    deep_link,
)
from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.session import tune
from spec_search_spark.sources.sheets_source import (
    SHEET_SUFFIX,
    read_records,
    read_sheets,
    read_sheets_stream,
)

TAB_NAME = "data"


def _write_fixture(
    sf_dir: str, out_dir: str, prefix: str, header: list[str] | None = None
) -> str:
    """Materialize documents.parquet as a directory of sheet JSON files
    ``{prefix}_{fid:03d}`` (one per CELLS_PER_FILE docs, grid layout
    identical to sheets_pipeline.build_grid), each tab led by ``header``
    when one is given. Deterministic: same input → same bytes, so
    rebuilding is idempotent."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    files: dict[int, dict[int, dict[int, str]]] = {}
    for doc_id, text in docs:
        fid = int(doc_id) // CELLS_PER_FILE
        row = (int(doc_id) % CELLS_PER_FILE) // COLS_PER_ROW
        col = int(doc_id) % COLS_PER_ROW
        files.setdefault(fid, {}).setdefault(row, {})[col] = text
    os.makedirs(out_dir, exist_ok=True)
    for fid, rows in sorted(files.items()):
        name = f"{prefix}_{fid:03d}"
        values = [header] if header else []
        values += [
            [rows[r].get(c) for c in range(max(rows[r]) + 1)]
            for r in range(max(rows) + 1)
        ]
        doc = {
            "file_id": fid,
            "file_name": name,
            "tabs": [
                {"sheet_id": 100 + fid, "tab_name": TAB_NAME, "values": values}
            ],
        }
        with open(os.path.join(out_dir, f"{name}{SHEET_SUFFIX}"), "w") as fh:
            json.dump(doc, fh)
    return out_dir


def build_sheets_fixture(sf_dir: str, out_dir: str) -> str:
    """The connector's sheet store: ``sheet_NNN`` files, no header."""
    return _write_fixture(sf_dir, out_dir, "sheet")


def fixture_dir_for(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"spark_graft_sheets_{base}")


def sheets_source_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+V3 through the connector: list sheet files → grid rows →
    posexplode unpivot with full provenance (same output contract as
    cell_grid_unpivot, plus file_name/tab_name source metadata)."""
    tune(spark)
    fixture = build_sheets_fixture(sf_dir, fixture_dir_for(sf_dir))
    grid_rows = read_sheets(spark, fixture)
    cells = grid_rows.select(
        "file_id",
        "file_name",
        "sheet_id",
        "tab_name",
        "row_idx",
        F.posexplode("cells").alias("col_idx", "cell_text"),
    ).filter(F.col("cell_text").isNotNull() & (F.col("cell_text") != ""))
    return cells.select(
        "file_id",
        "file_name",
        "sheet_id",
        "tab_name",
        a1_letter(F.col("col_idx")).alias("col_letter"),
        cell_row_number(F.col("row_idx")).alias("sheet_row"),
        composite_id(
            F.col("file_id"), F.col("sheet_id"), F.col("col_idx"), F.col("row_idx"), F.lit(0)
        ).alias("cell_id"),
        deep_link(
            F.col("file_id"), F.col("sheet_id"), F.col("col_idx"), F.col("row_idx")
        ).alias("link"),
        F.col("cell_text"),
    )


def build_records_fixture(sf_dir: str, out_dir: str) -> str:
    """Records-mode fixture (S3): same grid placement, but every tab
    carries a HEADER row of fixed column names c00..c29 ahead of the
    data rows — the ``get_all_records`` shape
    (`/root/reference/project_search.py:45-49`)."""
    header = [f"c{c:02d}" for c in range(COLS_PER_ROW)]
    return _write_fixture(sf_dir, out_dir, "records", header)


def sheets_records_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 through the connector: header-schema records scan — the
    first grid row names the columns, each later row becomes a record
    of strings (short rows padded with '')."""
    tune(spark)
    base = fixture_dir_for(sf_dir) + "_records"
    build_records_fixture(sf_dir, base)
    return read_records(spark, base)


def _records_sql() -> str:
    # one record per 30 consecutive docs (one grid row); column c_j =
    # the doc at offset j, '' where the tail file runs short — matching
    # the reader's padding.
    cols = ",\n       ".join(
        f"coalesce(max(CASE WHEN doc_id % {COLS_PER_ROW} = {c} THEN text END), '') "
        f"AS c{c:02d}"
        for c in range(COLS_PER_ROW)
    )
    return f"""
SELECT {cols}
FROM documents
GROUP BY doc_id // {COLS_PER_ROW}
"""


_A1 = a1_letter_sql(f"(doc_id % {COLS_PER_ROW})")
SHEETS_SOURCE_SQL = f"""
SELECT doc_id // {CELLS_PER_FILE} AS file_id,
       'sheet_' || lpad((doc_id // {CELLS_PER_FILE})::VARCHAR, 3, '0') AS file_name,
       100 + doc_id // {CELLS_PER_FILE} AS sheet_id,
       '{TAB_NAME}' AS tab_name,
       {_A1} AS col_letter,
       CAST((doc_id % {CELLS_PER_FILE}) // {COLS_PER_ROW} + 2 AS INT) AS sheet_row,
       (doc_id // {CELLS_PER_FILE})::VARCHAR || '_' ||
       (100 + doc_id // {CELLS_PER_FILE})::VARCHAR || '_' ||
       {_A1} || ((doc_id % {CELLS_PER_FILE}) // {COLS_PER_ROW} + 2)::VARCHAR || '_0'
         AS cell_id,
       'https://docs.google.com/spreadsheets/d/' || (doc_id // {CELLS_PER_FILE})::VARCHAR ||
       '/edit#gid=' || (100 + doc_id // {CELLS_PER_FILE})::VARCHAR ||
       '&range=' || {_A1} || ((doc_id % {CELLS_PER_FILE}) // {COLS_PER_ROW} + 2)::VARCHAR
         AS link,
       text AS cell_text
FROM documents
WHERE text IS NOT NULL AND text <> ''
"""


STREAM_WAVES_TARGET = 8  # feed arrival pacing: the correctness property
# under test is that the stream source neither drops nor replays a file
# across SEVERAL distinct arrival epochs — a property of the epoch
# machinery, not of the epoch COUNT. r8 paced 2 files/wave, so the wave
# count grew with the fixture (42 serial micro-batches at sf0.1), and
# every micro-batch pays a fixed floor (offset and commit log writes,
# file listing, one job). Pacing a FIXED number of waves keeps the
# multi-epoch proof at every scale factor with scale-invariant drain
# time.


def feed_files_in_waves(fixture: str, feed: str, q, per_wave: int) -> int:
    """Copy sheet files into the feed directory in waves, draining the
    stream between waves — genuine arrival, so each wave is (at least)
    one micro-batch. Returns the number of waves."""
    import shutil

    os.makedirs(feed, exist_ok=True)
    files = sorted(f for f in os.listdir(fixture) if f.endswith(SHEET_SUFFIX))
    waves = 0
    for i in range(0, len(files), per_wave):
        for f in files[i : i + per_wave]:
            # copy under a hidden name, then rename: a running query
            # never lists a half-copied file
            tmp = os.path.join(feed, f".{f}.tmp")
            shutil.copy(os.path.join(fixture, f), tmp)
            os.replace(tmp, os.path.join(feed, f))
        q.processAllAvailable()
        waves += 1
    return waves


def sheets_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sheet store's streaming READ path: ``read_sheets_stream``
    over a feed directory that files ARRIVE in (STREAM_WAVES_TARGET
    waves, stream drained between waves — see the pacing note at
    STREAM_WAVES_TARGET), then folded to per-file grid statistics.

    Oracle: the fixture layout is deterministic arithmetic over
    `documents` (same placement as sheets_source_unpivot), so DuckDB
    recomputes rows-per-file and non-empty-cells-per-file without the
    connector. Equality proves every file was ingested exactly once
    across the arrival waves — the source neither drops nor replays a
    file."""
    import tempfile as _tf
    import uuid as _uuid

    tune(spark)
    fixture = build_sheets_fixture(sf_dir, fixture_dir_for(sf_dir))
    name = f"sheets_stream_{_uuid.uuid4().hex[:8]}"
    feed = _tf.mkdtemp(prefix="sheets_feed_")
    stream = read_sheets_stream(spark, feed)
    ckpt = _tf.mkdtemp(prefix="ckpt_sheets_src_")
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        n_files = len(
            [f for f in os.listdir(fixture) if f.endswith(SHEET_SUFFIX)]
        )
        per_wave = max(2, -(-n_files // STREAM_WAVES_TARGET))
        feed_files_in_waves(fixture, feed, q, per_wave)
    finally:
        q.stop()
        # the rows live in the memory table, not in either directory
        shutil.rmtree(feed, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = spark.table(name)
    live = F.size(F.filter("cells", lambda c: c.isNotNull() & (c != "")))
    return rows.groupBy("file_id", "file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(live).cast("bigint").alias("n_cells"),
    )


SHEETS_STREAM_SQL = f"""
SELECT doc_id // {CELLS_PER_FILE} AS file_id,
       'sheet_' || lpad((doc_id // {CELLS_PER_FILE})::VARCHAR, 3, '0') AS file_name,
       CAST(max((doc_id % {CELLS_PER_FILE}) // {COLS_PER_ROW}) + 1 AS BIGINT)
         AS n_rows,
       CAST(count(CASE WHEN text IS NOT NULL AND text <> '' THEN 1 END) AS BIGINT)
         AS n_cells
FROM documents
GROUP BY doc_id // {CELLS_PER_FILE}
"""


QUERIES = {
    "sheets_source_unpivot": sheets_source_unpivot,
    "sheets_records_scan": sheets_records_scan,
    "sheets_stream_scan": sheets_stream_scan,
}

ORACLES = {
    "sheets_source_unpivot": SHEETS_SOURCE_SQL,
    "sheets_records_scan": _records_sql(),
    "sheets_stream_scan": SHEETS_STREAM_SQL,
}
