"""The sheet store — the engine-surface form of the reference's
Drive/Sheets ingestion (S1 folder listing
`/root/reference/indexer.py:80-90`, S2/S3 full-sheet scans
`indexer.py:20-32` / `project_search.py:45`, S4 ranged scan
`sheet_creator_tool.py:55-68`, S6 write-back sink
`sheet_creator_tool.py:83-96`), over local fixtures instead of the
network API (auth is an I/O-adapter concern, not engine surface).

Fixture layout (the local stand-in for a Drive folder): a directory of
``{file_name}.sheet.json`` files, one per spreadsheet::

    {"file_id": 0, "file_name": "sheet_000", "tabs": [
        {"sheet_id": 100, "tab_name": "data", "values": [[...], ...]}]}

Batch read — ``read_sheets`` is Spark's native JSON scan with the fixed
file schema (FILE_SCHEMA, multiLine, FAILFAST: a truncated file fails
the read instead of vanishing), then ``explode(tabs)`` and
``posexplode(values)`` — one output row per grid row::

    file_id bigint, file_name string, sheet_id bigint, tab_name string,
    row_idx int, cells array<string>

The data is decoded in its native format inside the engine: no Python
worker, no plan round trip, and an empty store is an empty frame.
``sheet=`` is an equality on ``_metadata.file_name``, which prunes the
scan to that one file; ``range_="B2:D5"`` (S4) keeps the row window and
slices cells to the column window. ``read_records`` (S3,
``get_all_records`` semantics) names the columns after the first row
of the first file and pads short rows with ''.

Write — the ``sheets`` Python DataSource:
``df.write.format("sheets").mode("overwrite").save(dir)`` accepts the
grid row shape and writes the fixture layout back: executors write
temp JSON parts (parallel, cell-count work), commit() merges parts
into per-file documents on the driver (serial work ∝ file count, not
cell count) and is atomic per file: parts land in a temp dir, and each
final document is written to a hidden temp name beside its target and
``os.replace``d onto it in commit, so a crash mid-write leaves the old
file whole (Spark's listing skips names starting with ``.``). An
overwrite removes the files it did not rewrite only after every new
document is in place, so a failed commit loses no file.

Streaming write — ``df.writeStream.format("sheets")`` upserts each
micro-batch into the sheet files at row granularity (overlay), with
per-epoch commit markers so a replayed batchId after restart is a
no-op (the vestigial `/index-file` webhook of `app.py:252-259` as a
real incremental sink).

Streaming read — ``read_sheets_stream`` is Spark's file stream source
over the ``*.sheet.json`` files of one directory, with the same schema,
options and grid projection as ``read_sheets``. A file is new by its
path: the source records every path it has delivered in the
checkpoint's file log, so arrival order, name order and restarts
neither drop nor replay a file. A feed directory that does not exist
yet is an empty feed: the reader creates it, because Spark refuses a
missing stream directory, and the glob path ``{dir}/*.sheet.json``
that it would accept lists every file as its own root, which past 32
files is a Spark listing job on every trigger (5.7 s against 1.9 s for
the sf0.1 stream slot on 4 vCPUs). ``maxFileAge`` is pinned far
beyond any real feed's age: with Spark's 7-day default a file whose
mtime is older than the newest seen file by more than that is skipped
without a trace, and a sheet copied in with its original mtime (a
synced folder, ``cp -p``) can be months older than the feed's newest.
Both readers pass ``ignoreMissingFiles``: a file deleted between the
listing and the read is skipped, not fatal (per read, not per session,
so a missing parquet file elsewhere still fails loudly).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SHEET_SUFFIX = ".sheet.json"

GRID_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("file_name", StringType()),
        StructField("sheet_id", LongType()),
        StructField("tab_name", StringType()),
        StructField("row_idx", IntegerType()),
        StructField("cells", ArrayType(StringType())),
    ]
)

#: what a ``.sheet.json`` file holds — the native scan's fixed schema
FILE_SCHEMA = (
    "file_id bigint, file_name string, tabs array<struct<"
    "sheet_id bigint, tab_name string, values array<array<string>>>>"
)

_RANGE_RE = re.compile(r"^([A-Z]+)(\d+):([A-Z]+)(\d+)$")

#: byte cap per partition of a full-store ``read_sheets``: the store is
#: coalesced to ~cores partitions unless that would put more than this
#: many bytes into one, so a store far bigger than cores × cap splits
#: by size (≈ total_bytes / cap partitions), not into a few giant
#: serial reads.
_PARTITION_BYTES_CAP = 128 * 1024 * 1024

#: the stream source's ``maxFileAge``: ~100 years, so no arrival is
#: ever too old to be read (see the module docstring).
_STREAM_MAX_FILE_AGE = "36500d"

#: reader options shared by the batch and the stream scan
_JSON_OPTIONS = {"multiLine": True, "mode": "FAILFAST", "ignoreMissingFiles": True}


def _col_to_idx(letters: str) -> int:
    """A1 letters → 0-based column index (inverse of functions.sheets
    a1_letter; 'A'→0, 'Z'→25, 'AA'→26)."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _parse_range(spec: str) -> tuple[int, int, int, int]:
    """'B2:D5' → (row_lo, row_hi, col_lo, col_hi) all 0-based inclusive."""
    m = _RANGE_RE.fullmatch(spec.strip())
    if not m:
        raise ValueError(f"bad A1 range {spec!r} (expected e.g. 'B2:D5')")
    c1, r1, c2, r2 = m.groups()
    return int(r1) - 1, int(r2) - 1, _col_to_idx(c1), _col_to_idx(c2)


def _list_sheet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(SHEET_SUFFIX)
    )


def _grid(files: DataFrame) -> DataFrame:
    """Sheet documents → grid rows: ``explode(tabs)``, then
    ``posexplode(values)`` — the one projection both readers share."""
    tabs = files.select("file_id", "file_name", F.explode("tabs").alias("tab"))
    return tabs.select(
        "file_id",
        "file_name",
        F.col("tab.sheet_id").alias("sheet_id"),
        F.col("tab.tab_name").alias("tab_name"),
        F.posexplode("tab.values").alias("row_idx", "cells"),
    )


def read_sheets(
    spark: SparkSession,
    path: str,
    sheet: str | None = None,
    range_: str | None = None,
) -> DataFrame:
    """Grid rows of every sheet file under ``path`` (or only of the
    file ``{sheet}.sheet.json``), optionally cut to an A1 ``range_``."""
    files = (
        spark.read.schema(FILE_SCHEMA)
        .options(**_JSON_OPTIONS)
        .option("pathGlobFilter", f"*{SHEET_SUFFIX}")
        .json(path)
    )
    if sheet is not None:
        files = files.filter(F.col("_metadata.file_name") == f"{sheet}{SHEET_SUFFIX}")
    else:
        # one wave of tasks, more only when the bytes need them: Spark's
        # 4 MB per-file open-cost estimate would split a store of small
        # sheets into many small tasks, and every task of a Python stage
        # fused downstream (the embedder) costs ~0.2 s of worker CPU
        # (pandas UDF, 4-vCPU host). The size comes from the listing the
        # scan already holds.
        size = files._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        par = spark.sparkContext.defaultParallelism
        files = files.coalesce(max(par, -(-size // _PARTITION_BYTES_CAP)))
    grid = _grid(files)
    if range_ is None:
        return grid
    r_lo, r_hi, c_lo, c_hi = _parse_range(range_)
    return grid.filter(F.col("row_idx").between(r_lo, r_hi)).withColumn(
        "cells", F.slice("cells", c_lo + 1, c_hi - c_lo + 1)
    )


def read_sheets_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming grid rows of the sheet files that arrive under
    ``path``: each file once, in the micro-batch after it appears."""
    os.makedirs(path, exist_ok=True)
    files = (
        spark.readStream.schema(FILE_SCHEMA)
        .options(**_JSON_OPTIONS)
        .option("maxFileAge", _STREAM_MAX_FILE_AGE)
        .option("pathGlobFilter", f"*{SHEET_SUFFIX}")
        .json(path)
    )
    return _grid(files)


def read_records(spark: SparkSession, path: str) -> DataFrame:
    """S3 header-schema scan: the first row of the first tab of the
    first file names the columns; every later row of every tab is one
    record of strings, short rows padded with ''."""
    files = _list_sheet_files(path)
    if not files:
        raise ValueError("read_records needs at least one sheet file")
    with open(files[0]) as fh:
        header = [str(h) for h in json.load(fh)["tabs"][0]["values"][0]]
    rows = read_sheets(spark, path).filter(F.col("row_idx") > 0)
    return rows.select(
        *(
            F.coalesce(F.get("cells", j), F.lit("")).alias(name)
            for j, name in enumerate(header)
        )
    )


@dataclass
class SheetsCommitMessage(WriterCommitMessage):
    part_path: str


def _write_part(tmp_dir: str, iterator) -> SheetsCommitMessage:
    os.makedirs(tmp_dir, exist_ok=True)
    part = os.path.join(tmp_dir, f"part_{uuid.uuid4().hex}.json")
    rows = [
        {
            "file_id": r["file_id"],
            "file_name": r["file_name"],
            "sheet_id": r["sheet_id"],
            "tab_name": r["tab_name"],
            "row_idx": r["row_idx"],
            "cells": list(r["cells"]) if r["cells"] is not None else [],
        }
        for r in iterator
    ]
    with open(part, "w") as fh:
        json.dump(rows, fh)
    return SheetsCommitMessage(part_path=part)


def _collect_parts(messages) -> dict:
    """part files → {(file_id, file_name): {(sheet_id, tab): {row_idx: cells}}}"""
    files: dict[tuple[int, str], dict] = {}
    for m in messages:
        if m is None:
            continue
        with open(m.part_path) as fh:
            for r in json.load(fh):
                tab = files.setdefault((r["file_id"], r["file_name"]), {}).setdefault(
                    (r["sheet_id"], r["tab_name"]), {}
                )
                tab[r["row_idx"]] = r["cells"]
    return files


def _merge_into_dir(path: str, files: dict, overlay: bool) -> None:
    """Write per-file sheet documents. With overlay=True, new rows are
    merged over the rows of an existing same-named file (row-level
    upsert — the incremental-indexing shape); otherwise the file is
    replaced wholesale."""
    for (file_id, file_name), tabs in sorted(files.items()):
        target = os.path.join(path, f"{file_name}{SHEET_SUFFIX}")
        merged: dict[tuple[int, str], dict] = {}
        if overlay and os.path.exists(target):
            with open(target) as fh:
                old = json.load(fh)
            for t in old["tabs"]:
                merged[(t["sheet_id"], t["tab_name"])] = dict(enumerate(t["values"]))
        for key, rows in tabs.items():
            merged.setdefault(key, {}).update(rows)
        doc = {
            "file_id": file_id,
            "file_name": file_name,
            "tabs": [
                {
                    "sheet_id": sheet_id,
                    "tab_name": tab_name,
                    # dense row list in row_idx order (missing rows
                    # between written ones become empty rows)
                    "values": [
                        rows.get(i, [])
                        for i in range(max(rows.keys(), default=-1) + 1)
                    ],
                }
                for (sheet_id, tab_name), rows in sorted(merged.items())
            ],
        }
        # hidden temp name, then one rename: a failed dump never leaves
        # a truncated document at the target
        tmp = os.path.join(path, f".{file_name}{SHEET_SUFFIX}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, target)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)


class SheetsWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sheets sink requires a path")
        self.overwrite = overwrite
        self.tmp_dir = os.path.join(self.path, f"_sheets_tmp_{uuid.uuid4().hex}")

    def write(self, iterator):
        return _write_part(self.tmp_dir, iterator)

    def commit(self, messages):
        import shutil

        files = _collect_parts(messages)
        # new documents first, then the stale ones: a commit that fails
        # part-way loses no file
        _merge_into_dir(self.path, files, overlay=False)
        if self.overwrite:
            keep = {f"{file_name}{SHEET_SUFFIX}" for _fid, file_name in files}
            for old in _list_sheet_files(self.path):
                if os.path.basename(old) not in keep:
                    os.remove(old)
        shutil.rmtree(self.tmp_dir, ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.tmp_dir, ignore_errors=True)


class SheetsStreamWriter(DataSourceStreamWriter):
    """Streaming sheet sink: each micro-batch upserts its rows into the
    sheet files (row-level overlay, like repeated write_values calls in
    the reference's agent loop). Epoch markers make re-commits after a
    restart idempotent: a batchId whose marker exists is dropped, so
    replayed epochs don't double-apply."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sheets sink requires a path")
        self.tmp_dir = os.path.join(self.path, f"_sheets_stream_tmp_{uuid.uuid4().hex}")

    def write(self, iterator):
        return _write_part(self.tmp_dir, iterator)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, f"_sheets_epoch_{batch_id}")

    def commit(self, messages, batchId: int) -> None:
        import shutil

        if not os.path.exists(self._marker(batchId)):
            _merge_into_dir(self.path, _collect_parts(messages), overlay=True)
            with open(self._marker(batchId), "w"):
                pass
        shutil.rmtree(self.tmp_dir, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self.tmp_dir, ignore_errors=True)


class SheetsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sheets"

    def writer(self, schema, overwrite: bool):
        return SheetsWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return SheetsStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(SheetsDataSource)
