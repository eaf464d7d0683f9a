"""The session memo (`session.session_memo`): one registry for every
build-once artifact, keyed by session and corpus, rebuilt when the
corpus files change, pruned of stopped sessions and capped per builder;
and `session.pin`, whose storage level follows the memo context and
whose cached plans `load_table` refreshes when their input is rewritten.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import sys

import pyarrow.parquet as pq
import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "spec_search_spark"


def _corpus(sf_dir: str, tmp_path, *tables: str) -> str:
    """A private writable copy of the named tables."""
    d = tmp_path / "corpus"
    d.mkdir()
    for t in tables:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def _keep_first_half(sf_dir: str, table: str) -> int:
    """Rewrite ``table`` in place with a strict subset of its rows;
    returns the new row count."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    half = t.slice(0, t.num_rows // 2)
    assert 0 < half.num_rows < t.num_rows
    pq.write_table(half, path + ".tmp")
    os.replace(path + ".tmp", path)
    return half.num_rows


def _entries(name: str) -> list:
    from spec_search_spark.session import _MEMO

    return [k for k in _MEMO if k[1] == name]


def _name(f) -> str:
    return f"{f.__module__}.{f.__qualname__}"


def test_rewritten_input_rebuilds_the_index(spark, sf_dir, tmp_path):
    from spec_search_spark.operators.similarity import build_index

    d = _corpus(sf_dir, tmp_path, "documents")
    first = build_index(spark, d)
    assert build_index(spark, d) is first
    n_docs = _keep_first_half(d, "documents")
    second = build_index(spark, d)
    assert second is not first
    assert second.select("doc_id").distinct().count() == n_docs
    assert build_index(spark, d) is second


def test_rewritten_input_rebuilds_a_non_dataframe_artifact(spark, sf_dir, tmp_path):
    from spec_search_spark.operators.ivf import train_centroids, trained_index

    d = _corpus(sf_dir, tmp_path, "embeddings")
    cents1, index1 = trained_index(spark, d)
    n_vecs = _keep_first_half(d, "embeddings")
    cents2, index2 = trained_index(spark, d)
    assert index2 is not index1
    assert index2.count() == n_vecs
    assert cents2 == train_centroids(spark, d)


def test_insert_evicts_stopped_sessions(spark, sf_dir, tmp_path):
    from spec_search_spark.operators.similarity import build_index
    from spec_search_spark.session import _MEMO

    stale = ("app-of-a-stopped-session", _name(build_index), sf_dir)
    _MEMO[stale] = (None, object())
    build_index(spark, _corpus(sf_dir, tmp_path, "documents"))
    assert stale not in _MEMO


def test_each_builder_keeps_at_most_cap_entries(spark, tmp_path):
    from spec_search_spark.session import MEMO_CAP, session_memo

    @session_memo
    def build(spark, sf_dir):
        return object()

    dirs = [str(tmp_path / f"d{i}") for i in range(MEMO_CAP + 3)]
    for d in dirs:
        build(spark, d)
    kept = _entries(_name(build))
    assert len(kept) == MEMO_CAP
    assert [k[2] for k in kept] == dirs[-MEMO_CAP:]  # oldest go first
    build.cache_clear()
    assert _entries(_name(build)) == []


def test_evicted_entries_release_their_cache(spark, sf_dir, tmp_path):
    """A cap eviction or a stale replace unpersists the dropped index;
    the entries the memo keeps stay cached."""
    from pyspark import StorageLevel

    from spec_search_spark.operators.ivf import trained_index
    from spec_search_spark.session import MEMO_CAP

    dirs = []
    for i in range(MEMO_CAP + 2):
        d = tmp_path / f"c{i}"
        d.mkdir()
        shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), d / "embeddings.parquet")
        dirs.append(str(d))
    trained_index.cache_clear()
    indexes = [trained_index(spark, d)[1] for d in dirs]
    try:
        assert [ix.storageLevel == StorageLevel.NONE for ix in indexes] == (
            [True] * 2 + [False] * MEMO_CAP
        )
        _keep_first_half(dirs[-1], "embeddings")
        indexes.append(trained_index(spark, dirs[-1])[1])
        assert indexes[-2].storageLevel == StorageLevel.NONE
        assert indexes[2].storageLevel != StorageLevel.NONE
    finally:
        trained_index.cache_clear()
        for ix in indexes:
            ix.unpersist()


def test_rewritten_input_refreshes_cached_plans(spark, sf_dir, tmp_path):
    """A frame pinned over a file that is then rewritten in place must
    not answer for the new file: `load_table` refreshes the cached
    plans over it. The reference answer reads the rewritten file under
    a path no cached plan can match."""
    from spec_search_spark.operators.pipeline_ops import tfidf_top_terms

    d = _corpus(sf_dir, tmp_path, "documents")
    tfidf_top_terms(spark, d).collect()
    _keep_first_half(d, "documents")
    got = sorted(tfidf_top_terms(spark, d).collect())
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    shutil.copyfile(os.path.join(d, "documents.parquet"), fresh / "documents.parquet")
    assert got == sorted(tfidf_top_terms(spark, str(fresh)).collect())


def test_pin_storage_follows_the_memo_context(spark, tmp_path):
    """Pins are deserialized: MEMORY_AND_DISK inside a memo build, nested
    ones included (Spark's level; PySpark names it _DESER), MEMORY_ONLY
    outside one. The first pin of a plan sets its level."""
    from pyspark import StorageLevel

    from spec_search_spark import session
    from spec_search_spark.session import pin, session_memo

    in_build = StorageLevel.MEMORY_AND_DISK_DESER
    outside = StorageLevel(False, True, False, True)
    frames = []

    def pinned(n: int) -> StorageLevel:
        df, count = pin(spark.range(n))
        frames.append(df)
        assert count == n
        return df.storageLevel

    @session_memo
    def inner(spark, sf_dir):
        return pinned(1201)

    @session_memo
    def outer(spark, sf_dir):
        return inner(spark, sf_dir), pinned(1202)

    @session_memo
    def broken(spark, sf_dir):
        pinned(1203)
        raise RuntimeError("build failed")

    @session_memo
    def shared(spark, sf_dir):
        return pinned(1204)

    try:
        assert outer(spark, str(tmp_path)) == (in_build,) * 2
        assert pinned(1204) == outside
        assert shared(spark, str(tmp_path)) == outside
        with pytest.raises(RuntimeError):
            broken(spark, str(tmp_path))
        assert frames[-1].storageLevel == in_build
        assert session._BUILDING == 0
        assert pinned(1205) == outside
    finally:
        for build in (inner, outer, broken, shared):
            build.cache_clear()
        for df in frames:
            df.unpersist()


def test_repeated_calls_keep_their_pins_cached(spark, sf_dir, monkeypatch):
    """Spark keeps one cache entry per distinct plan, so every call of a
    query pins the same entries; none may be unpersisted while later
    calls still read it."""
    from pyspark import StorageLevel

    from spec_search_spark.operators.relational import skyline_customers

    cls = type(spark.range(1))
    persist = cls.persist
    pinned = []

    def recording(self, *args, **kwargs):
        pinned.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording)
    try:
        for call in range(1, 7):
            skyline_customers(spark, sf_dir)
            dropped = [
                i for i, df in enumerate(pinned) if df.storageLevel == StorageLevel.NONE
            ]
            assert pinned and not dropped, f"call {call}: pins {dropped} were unpersisted"
    finally:
        for df in pinned:
            df.unpersist()


def test_clear_memos_forces_a_rebuild(spark, sf_dir, tmp_path):
    """perfbench prices index builds by clearing memos before each of
    its builds; a build after `workloads.clear_memos` must be a miss."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        import workloads
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    from spec_search_spark.operators.similarity import build_index

    d = _corpus(sf_dir, tmp_path, "documents")
    built = [build_index(spark, d)]
    for _ in range(workloads.BUILDS):
        workloads.clear_memos(spark)
        built.append(build_index(spark, d))
    assert len({id(b) for b in built}) == len(built)


#: persist/cache calls allowed outside `session.pin`, each with its
#: count. maintenance.py's `.cache()` is lazy: it marks the stored base
#: table an incremental view reads and runs no forcing job, so it is
#: not a pin.
UNPINNED_CACHE_CALLS = {("operators/maintenance.py", "cache"): 1}


def test_memos_live_only_in_the_session_registry():
    """A hand-rolled memo elsewhere in the package (a module-level dict
    that starts empty, or a key built from the applicationId) would
    escape the registry's fingerprint, eviction and clearing; a
    hand-rolled persist would pick its own storage level instead of
    `session.pin`'s."""
    offenders = []
    caches: dict[tuple, int] = {}
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "session.py" and p.parent == PKG:
            continue
        src = p.read_text()
        if "applicationId" in src:
            offenders.append(f"{p}: mentions applicationId")
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                site = (str(p.relative_to(PKG)), node.func.attr)
                caches[site] = caches.get(site, 0) + 1
        for node in tree.body:
            value = node.value if isinstance(node, (ast.Assign, ast.AnnAssign)) else None
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            if empty_dict:
                offenders.append(f"{p}:{node.lineno}: module-level empty dict")
    if caches != UNPINNED_CACHE_CALLS:
        offenders.append(f"persist/cache calls outside session.pin: {caches}")
    assert not offenders, "\n".join(offenders)
