"""The sheet store: S1 file-pruned native scan, S3 header records,
S4 ranged scan, S6 write-back round trip, the streaming reader and
sink, listing races and torn commits, and row identity with a
pure-Python decode of the format."""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import tempfile
import time
import uuid
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from spec_search_spark.operators.sheets_connector import (
    build_sheets_fixture,
    fixture_dir_for,
    read_sheets,
    sheets_stream_scan,
)
from spec_search_spark.sources import sheets_source
from spec_search_spark.sources.sheets_source import (
    SHEET_SUFFIX,
    read_records,
    read_sheets_stream,
    register,
)


@pytest.fixture(scope="module")
def fixture_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sheets_fixture"))
    return build_sheets_fixture(sf_dir, out)


def test_grid_scan_matches_documents(spark, sf_dir, fixture_dir):
    from spec_search_spark.catalog import load_table

    cells = (
        read_sheets(spark, fixture_dir)
        .select(F.posexplode("cells").alias("col_idx", "cell_text"))
        .filter(F.col("cell_text").isNotNull())
        .count()
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    assert cells == docs.count()


def test_listing_pruning_via_pushdown(spark, fixture_dir):
    df = read_sheets(spark, fixture_dir, sheet="sheet_001")
    rows = df.collect()
    assert rows and all(r["file_name"] == "sheet_001" for r in rows)
    # the filter must reach the reader: with pushdown the scan opens
    # exactly one file, observable as a single input partition
    assert df.rdd.getNumPartitions() == 1


def test_ranged_scan(spark, fixture_dir):
    full = {
        (r["file_name"], r["row_idx"]): r["cells"]
        for r in read_sheets(spark, fixture_dir).collect()
    }
    ranged = read_sheets(spark, fixture_dir, range_="B1:C2").collect()
    assert ranged
    for r in ranged:
        assert 0 <= r["row_idx"] <= 1  # rows 1..2 → idx 0..1
        expected = full[(r["file_name"], r["row_idx"])][1:3]  # cols B..C
        assert list(r["cells"]) == list(expected)


def test_records_mode_header_schema(spark, tmp_path):
    doc = {
        "file_id": 7,
        "file_name": "people",
        "tabs": [
            {
                "sheet_id": 107,
                "tab_name": "t",
                "values": [
                    ["name", "age", "city"],
                    ["ada", "36", "london"],
                    ["grace", "85"],  # short row → padded with ''
                ],
            }
        ],
    }
    with open(os.path.join(tmp_path, f"people{SHEET_SUFFIX}"), "w") as fh:
        json.dump(doc, fh)
    df = read_records(spark, str(tmp_path))
    assert df.columns == ["name", "age", "city"]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["ada"]["city"] == "london"
    assert rows["grace"]["city"] == ""


def test_write_back_round_trip(spark, fixture_dir, tmp_path):
    register(spark)
    src = read_sheets(spark, fixture_dir)
    out = str(tmp_path / "written")
    os.makedirs(out)
    src.write.format("sheets").mode("overwrite").save(out)

    # the sink wrote the fixture layout: same file set, same content
    assert sorted(os.listdir(out)) == sorted(
        f for f in os.listdir(fixture_dir) if f.endswith(SHEET_SUFFIX)
    )
    back = read_sheets(spark, out)
    orig = {(r["file_id"], r["sheet_id"], r["tab_name"], r["row_idx"]): list(r["cells"])
            for r in src.collect()}
    got = {(r["file_id"], r["sheet_id"], r["tab_name"], r["row_idx"]): list(r["cells"])
           for r in back.collect()}
    assert got == orig

    # overwrite replaces: writing a 1-row subset leaves only that sheet
    sub = src.filter(F.col("file_name") == "sheet_000").limit(1)
    sub.write.format("sheets").mode("overwrite").save(out)
    assert os.listdir(out) == [f"sheet_000{SHEET_SUFFIX}"]


def test_vocab_shuffle_fallback_identical(spark, sf_dir, monkeypatch):
    """hashed_shingle_postings above BROADCAST_VOCAB_MAX must fall back
    to a shuffle join with identical rows (the 100 TB path where the
    vocabulary outgrows the broadcast limit)."""
    from spec_search_spark.operators import dedup

    def rows(df):
        return sorted((r["doc_id"], r["h"]) for r in df.collect())

    broadcast_rows = rows(dedup.hashed_shingle_postings(spark, sf_dir))
    monkeypatch.setattr(dedup, "BROADCAST_VOCAB_MAX", 0)
    dedup.hashed_shingle_postings.cache_clear()  # bust the session memo
    try:
        shuffle_rows = rows(dedup.hashed_shingle_postings(spark, sf_dir))
    finally:
        dedup.hashed_shingle_postings.cache_clear()
    assert shuffle_rows == broadcast_rows


def test_stream_sink_upserts_rows(spark, tmp_path):
    """Streaming sheet sink: micro-batches upsert at row granularity;
    a second run over new input overlays changed rows and keeps
    untouched ones."""
    import json as _json

    from spec_search_spark.sources.sheets_source import GRID_SCHEMA

    register(spark)
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(out)

    def run_batch(rows):
        spark.createDataFrame(rows, GRID_SCHEMA).write.mode("append").parquet(inp)
        q = (
            spark.readStream.schema(GRID_SCHEMA)
            .parquet(inp)
            .writeStream.format("sheets")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination(60)
        time.sleep(0.2)

    run_batch(
        [
            (1, "s1", 101, "t", 0, ["a0", "b0"]),
            (1, "s1", 101, "t", 1, ["a1", "b1"]),
        ]
    )
    run_batch([(1, "s1", 101, "t", 1, ["A1!", "B1!"]), (1, "s1", 101, "t", 2, ["a2"])])

    with open(os.path.join(out, f"s1{SHEET_SUFFIX}")) as fh:
        doc = _json.load(fh)
    values = doc["tabs"][0]["values"]
    assert values[0] == ["a0", "b0"]        # untouched row survives
    assert values[1] == ["A1!", "B1!"]      # upserted row replaced
    assert values[2] == ["a2"]              # new row appended


def test_stream_reader_multi_epoch_exactly_once(spark, fixture_dir, tmp_path):
    """Files arriving in waves are each ingested exactly once, one or
    more micro-batches per wave (no drop, no replay)."""
    from spec_search_spark.operators.sheets_connector import feed_files_in_waves

    n_files = len([f for f in os.listdir(fixture_dir) if f.endswith(SHEET_SUFFIX)])
    assert n_files > 2
    name = f"stream_rd_{uuid.uuid4().hex[:8]}"
    feed = str(tmp_path / "feed")
    stream = read_sheets_stream(spark, feed)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        waves = feed_files_in_waves(fixture_dir, feed, q, 2)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert waves == (n_files + 1) // 2
    # each wave drains before the next arrives -> at least one
    # non-empty batch per wave
    assert n_batches >= waves
    got = spark.table(name)
    batch = read_sheets(spark, fixture_dir)
    # the stream and the batch scan share one decode of the format
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert (
        got.select("file_id", "sheet_id", "row_idx").distinct().count()
        == got.count()
    )


def test_stream_reader_restart_resumes_from_checkpoint(spark, fixture_dir, tmp_path):
    """Stop the stream between arrival waves and restart on the same
    checkpoint: the committed union of both runs is every file exactly
    once (the offset log is the source of truth)."""
    from spec_search_spark.operators.sheets_connector import feed_files_in_waves

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    feed = str(tmp_path / "feed")
    files = sorted(f for f in os.listdir(fixture_dir) if f.endswith(SHEET_SUFFIX))
    assert len(files) > 2

    def start():
        return (
            read_sheets_stream(spark, feed)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    os.makedirs(feed, exist_ok=True)
    q = start()
    try:
        for f in files[:2]:
            shutil.copy(os.path.join(fixture_dir, f), os.path.join(feed, f))
        q.processAllAvailable()
    finally:
        q.stop()
    q2 = start()
    try:
        feed_files_in_waves(fixture_dir, feed, q2, 2)  # copies the rest
    finally:
        q2.stop()
    # exactly-once is defined by the sink's transaction log: an aborted
    # attempt may leave orphan part-files that only _spark_metadata
    # excludes — read the COMMITTED file set, as a downstream consumer
    # of a file sink must
    committed = []
    meta = os.path.join(out, "_spark_metadata")
    for entry in sorted(os.listdir(meta)):
        if entry.endswith(".compact") or entry.isdigit():
            with open(os.path.join(meta, entry)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        committed.append(json.loads(line)["path"])
    got = spark.read.parquet(*committed)
    batch = read_sheets(spark, fixture_dir)
    assert got.count() == batch.count()
    assert (
        got.select("file_id", "sheet_id", "row_idx").distinct().count()
        == got.count()
    )


def _stream_two_arrivals(spark, fixture_dir, tmp_path, first, late, late_age_s=0):
    """Stream the sheets ``first``, drain, then ``late`` with its mtime
    ``late_age_s`` seconds in the past, drain again. Returns the
    streamed grid rows and read_sheets' rows of the same files."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    name = f"stream_two_{uuid.uuid4().hex[:8]}"
    q = (
        read_sheets_stream(spark, feed)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for wave, age in ((first, 0), ([late], late_age_s)):
            for sheet in wave:
                f = f"{sheet}{SHEET_SUFFIX}"
                tmp = os.path.join(feed, f".{f}.tmp")
                shutil.copy(os.path.join(fixture_dir, f), tmp)
                if age:
                    past = time.time() - age
                    os.utime(tmp, (past, past))
                os.replace(tmp, os.path.join(feed, f))
            q.processAllAvailable()
    finally:
        q.stop()
    batch = read_sheets(spark, fixture_dir).filter(
        F.col("file_name").isin(*first, late)
    )
    return _grid_rows(spark.table(name)), _grid_rows(batch)


def test_stream_out_of_order_name_arrives_once(spark, fixture_dir, tmp_path):
    """A file whose name sorts before already-delivered files is still
    delivered, exactly once, and nothing delivered before replays."""
    got, expected = _stream_two_arrivals(
        spark, fixture_dir, tmp_path, ["sheet_001", "sheet_002"], "sheet_000"
    )
    assert Counter(got) == Counter(expected)


def test_stream_old_mtime_file_arrives_once(spark, fixture_dir, tmp_path):
    """A file arriving with an mtime 30 days older than the files
    already seen is delivered exactly once (Spark's 7-day default
    maxFileAge would skip it)."""
    got, expected = _stream_two_arrivals(
        spark, fixture_dir, tmp_path, ["sheet_000", "sheet_001"], "sheet_002",
        late_age_s=30 * 86400,
    )
    assert Counter(got) == Counter(expected)


def test_file_deleted_after_listing_is_skipped(spark, fixture_dir, tmp_path):
    """A sheet file removed between the listing (DataFrame construction)
    and the read is skipped; every other file's rows come back."""
    store = str(tmp_path / "store")
    shutil.copytree(fixture_dir, store)
    df = read_sheets(spark, store)
    os.remove(os.path.join(store, f"sheet_001{SHEET_SUFFIX}"))
    assert Counter(_grid_rows(df)) == Counter(_decode(store))


def test_failed_commit_keeps_previous_file(spark, adversarial_dir, monkeypatch):
    """A sink commit that dies halfway through writing a document
    leaves the previous file whole: the store still reads, with the
    old rows, and no partial document is visible as a sheet file."""
    def sheet_files():
        names = fnmatch.filter(os.listdir(adversarial_dir), f"*{SHEET_SUFFIX}")
        return {n: Path(adversarial_dir, n).read_text(encoding="utf-8") for n in names}

    before = sheet_files()
    expected = _decode(adversarial_dir)
    writer = sheets_source.SheetsWriter({"path": adversarial_dir}, overwrite=False)
    msg = writer.write(
        iter([{"file_id": 3, "file_name": "c_odd", "sheet_id": 31,
               "tab_name": "t", "row_idx": 0, "cells": ["new"]}])
    )
    dumps = json.dumps

    def torn_dump(obj, fh, **kw):
        fh.write(dumps(obj)[:10])
        raise OSError("disk full")

    monkeypatch.setattr(sheets_source.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        writer.commit([msg])
    monkeypatch.undo()
    writer.abort([msg])
    assert sheet_files() == before
    assert Counter(_grid_rows(read_sheets(spark, adversarial_dir))) == Counter(expected)


def test_failed_overwrite_keeps_every_file(spark, adversarial_dir, monkeypatch):
    """An overwrite commit that dies after its first new document loses
    no sheet file: stale documents are removed only once every new one
    is in place, so all three files of the store survive, each whole."""
    before = set(fnmatch.filter(os.listdir(adversarial_dir), f"*{SHEET_SUFFIX}"))
    assert len(before) == 3
    writer = sheets_source.SheetsWriter({"path": adversarial_dir}, overwrite=True)
    msg = writer.write(
        iter([
            {"file_id": 1, "file_name": "a_ragged", "sheet_id": 11,
             "tab_name": "t", "row_idx": 0, "cells": ["new"]},
            {"file_id": 4, "file_name": "d_new", "sheet_id": 41,
             "tab_name": "t", "row_idx": 0, "cells": ["new"]},
        ])
    )
    dump, dumped = json.dump, []

    def dump_then_fail(obj, fh, **kw):
        dumped.append(obj["file_name"])
        if len(dumped) > 1:
            raise OSError("disk full")
        dump(obj, fh, **kw)

    monkeypatch.setattr(sheets_source.json, "dump", dump_then_fail)
    with pytest.raises(OSError, match="disk full"):
        writer.commit([msg])
    monkeypatch.undo()
    writer.abort([msg])
    assert dumped == ["a_ragged", "d_new"]  # failed part-way, not up front
    after = set(fnmatch.filter(os.listdir(adversarial_dir), f"*{SHEET_SUFFIX}"))
    assert after == before
    assert Counter(_grid_rows(read_sheets(spark, adversarial_dir))) == Counter(
        _decode(adversarial_dir)
    )


def test_stream_scan_removes_its_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """sheets_stream_scan leaves no feed or checkpoint directory behind,
    and its per-file counts equal those of a batch read of the store."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = sorted(tuple(r) for r in sheets_stream_scan(spark, sf_dir).collect())
    left = [
        n for n in os.listdir(tmp_path)
        if n.startswith(("sheets_feed_", "ckpt_sheets_src_"))
    ]
    assert left == []
    live = F.size(F.filter("cells", lambda c: c.isNotNull() & (c != "")))
    want = sorted(
        tuple(r)
        for r in read_sheets(spark, fixture_dir_for(sf_dir))
        .groupBy("file_id", "file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum(live).cast("bigint"))
        .collect()
    )
    assert got and got == want


# ------------------------------------------------- adversarial store

ADVERSARIAL = [
    {
        "file_id": 1,
        "file_name": "a_ragged",
        "tabs": [
            {
                "sheet_id": 11,
                "tab_name": "t",
                "values": [["a", "b", "c"], ["d"], [], ["e", None, "f", "g"]],
            },
            {"sheet_id": 12, "tab_name": "empty", "values": []},
            # same tab name as sheet 11
            {"sheet_id": 13, "tab_name": "t", "values": [["h"], ["i", "j"]]},
        ],
    },
    {"file_id": 2, "file_name": "b_no_tabs", "tabs": []},
    {
        "file_id": 3,
        "file_name": "c_odd",
        "tabs": [
            {
                "sheet_id": 31,
                "tab_name": "ünï \U0001f600",
                "values": [
                    ["\U0001f600 non-BMP \U0001d11e", "=SUM(A1:A2)"],
                    [None, None],
                    ['=A1&"x"', "", "tail"],
                ],
            }
        ],
    },
]


@pytest.fixture()
def adversarial_dir(tmp_path):
    for i, doc in enumerate(ADVERSARIAL):
        path = tmp_path / f"{doc['file_name']}{SHEET_SUFFIX}"
        # both JSON spellings of non-ASCII text: \u escapes and raw UTF-8
        path.write_text(json.dumps(doc, ensure_ascii=i % 2 == 0), encoding="utf-8")
    return str(tmp_path)


def _decode(path):
    """Reference decode of a sheet store, one tuple per grid row."""
    rows = []
    for f in sorted(os.listdir(path)):
        if f.endswith(SHEET_SUFFIX):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                doc = json.load(fh)
            for tab in doc["tabs"]:
                for i, cells in enumerate(tab["values"]):
                    rows.append(
                        (doc["file_id"], doc["file_name"], tab["sheet_id"],
                         tab["tab_name"], i, tuple(cells))
                    )
    return rows


def _grid_rows(df):
    return [
        (r["file_id"], r["file_name"], r["sheet_id"], r["tab_name"], r["row_idx"],
         tuple(r["cells"]))
        for r in df.collect()
    ]


def test_adversarial_store_matches_python_decode(spark, adversarial_dir):
    expected = _decode(adversarial_dir)
    assert len(expected) == 9
    assert Counter(_grid_rows(read_sheets(spark, adversarial_dir))) == Counter(expected)
    name = f"adv_stream_{uuid.uuid4().hex[:8]}"
    q = (
        read_sheets_stream(spark, adversarial_dir)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert Counter(_grid_rows(spark.table(name))) == Counter(expected)


def test_adversarial_records_pad_rule(spark, adversarial_dir):
    header = ADVERSARIAL[0]["tabs"][0]["values"][0]
    width = len(header)
    expected = Counter()
    for doc in ADVERSARIAL:
        for tab in doc["tabs"]:
            for row in tab["values"][1:]:
                cut = ["" if c is None else c for c in row[:width]]
                expected[tuple(cut + [""] * (width - len(cut)))] += 1
    df = read_records(spark, adversarial_dir)
    assert df.columns == header
    assert Counter(tuple(r) for r in df.collect()) == expected


def test_truncated_file_fails_the_scan(spark, adversarial_dir):
    text = json.dumps(ADVERSARIAL[0])
    with open(os.path.join(adversarial_dir, f"z_cut{SHEET_SUFFIX}"), "w") as fh:
        fh.write(text[: len(text) // 2])
    with pytest.raises(Exception, match="(?i)malformed"):
        read_sheets(spark, adversarial_dir).collect()


def test_empty_store_reads_zero_rows(spark, tmp_path):
    assert read_sheets(spark, str(tmp_path)).count() == 0
