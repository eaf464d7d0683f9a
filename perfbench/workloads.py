"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned. Every operation
calls the package's public functions and forces its full output
(a ``noop`` write or a ``collect`` of every produced column); its
result is checked against a reference computed outside Spark.

A workload records every operation's latency and CPU time through
``ctx.record``, and fills ``ctx.work`` (units of work done and the
seconds they took), ``ctx.build_s``, ``ctx.build_cpu_s``,
``ctx.sizes`` and, in a traced run, ``ctx.layers``.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import oracle
from inputs import VOCAB
from spans import tree_cpu_s
from spec_search_spark.functions.vector import DEFAULT_DIM, embed_text_local
from spec_search_spark.operators import agent_tools
from spec_search_spark.operators.sheets_connector import (
    build_sheets_fixture,
    fixture_dir_for,
    read_sheets,
    sheets_source_unpivot,
)
from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.operators.similarity import (
    TOP_K,
    build_index,
    build_index_df,
    chunked_docs_df,
    search_index,
    semantic_search,
)


class Context:
    def __init__(self, spark, tracer, data_dir: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.ops = 0  # operations started
        self.lat_ms: list[float] = []  # operations run without spans
        self.cpu_ms: list[float] = []  # their CPU time, all processes
        self.traced_ms: list[float] = []  # operations run with spans
        self._by_kind: dict[tuple[str, bool], list[float]] = {}
        self.work: list[tuple[float, float]] = []  # (units, seconds)
        self.build_s = 0.0
        self.build_cpu_s = 0.0
        self.layers: dict[str, float] = {}
        self.sizes: dict[str, object] = {"seed": seed}

    def next_op(self) -> int:
        self.ops += 1
        return self.ops - 1

    def traced(self, i: int) -> bool:
        """In a traced run every second operation, starting with the
        first, records spans; the untraced ones in between measure the
        tracing overhead."""
        return self.tracer.enabled and i % 2 == 0

    def span(self, i: int, name: str, op: str):
        return self.tracer.span(name, op) if self.traced(i) else nullcontext()

    def record(self, i: int, seconds: float, cpu_s: float, kind: str = "op") -> None:
        traced = self.traced(i)
        (self.traced_ms if traced else self.lat_ms).append(seconds * 1e3)
        if not traced:
            self.cpu_ms.append(cpu_s * 1e3)
        self._by_kind.setdefault((kind, traced), []).append(seconds * 1e3)

    def tracing_overhead_ms(self) -> float:
        """Median over kinds of operation of the median traced latency
        minus the median untraced one."""
        diffs = [
            statistics.median(self._by_kind[(kind, True)]) - statistics.median(ms)
            for (kind, traced), ms in self._by_kind.items()
            if not traced and (kind, True) in self._by_kind
        ]
        return statistics.median(diffs) if diffs else 0.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"wrong result: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"failed: {what}", file=sys.stderr)
        traceback.print_exc()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def clear_memos(spark) -> None:
    """Drop every package memo entry of this session (module-level dicts
    keyed by ``(applicationId, ...)``) and every cached table."""
    app = spark.sparkContext.applicationId
    for name, mod in list(sys.modules.items()):
        if not name.startswith("spec_search_spark"):
            continue
        for val in list(vars(mod).values()):
            if isinstance(val, dict):
                for k in [k for k in val if isinstance(k, tuple) and k and k[0] == app]:
                    del val[k]
    spark.catalog.clearCache()


def cached_mb(spark) -> float:
    """Storage held by persisted or checkpointed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


WARM_QUERIES = 40


def warm_up(spark, workload: str, tiny_dir: str, traced: bool) -> None:
    """Run ``workload``'s own path on a smaller separate corpus, so the
    Python worker pool, code generation, the JIT and the DataSource
    registration are paid in set-up rather than in measured operations.
    A traced run also warms what only it runs: the plans of the ingest
    prefixes, and the agent's tools."""
    if workload == "ingest":
        for _ in range(3):
            _noop(build_index_df(ingest_docs(sheets_source_unpivot(spark, tiny_dir))))
        if traced:
            _noop(read_sheets(spark, fixture_dir_for(tiny_dir)))
            _noop(chunked_docs_df(ingest_docs(sheets_source_unpivot(spark, tiny_dir))))
    else:
        for q in _queries(-1, WARM_QUERIES):
            semantic_search(spark, tiny_dir, q).collect()
        if traced:
            corpus = build_sheets_fixture(tiny_dir, fixture_dir_for(tiny_dir))
            tk = agent_tools.SheetAgentToolkit(
                spark, f"{corpus}_agent_store", corpus, tiny_dir
            )
            tk.create_sheet("warm", ["a", "b"])
            tk.write_values("warm", "A2:B3", [["x", "1"], ["y", "2"]])
            tk.read_values("warm", "A1:B2")
            tk.aggregate_range("warm", "B2:B3", "sum")
            tk.search_cells("merge")
    clear_memos(spark)


# ------------------------------------------------------------------ ingest


def ingest_docs(cells):
    """Project unpivoted cells to the (doc_id, source, text) shape the
    index builder takes. ``doc_id`` is the corpus position the sheet
    grid was laid out from, so the index equals one built from
    ``documents``."""
    letter = F.col("col_letter")
    col_idx = F.when(F.length(letter) == 1, F.ascii(letter) - 65).otherwise(
        (F.ascii(letter) - 64) * 26 + F.ascii(F.substring(letter, 2, 1)) - 65
    )
    doc_id = (
        F.col("file_id") * CELLS_PER_FILE
        + (F.col("sheet_row") - 2) * COLS_PER_ROW
        + col_idx
    )
    return cells.select(
        doc_id.cast("bigint").alias("doc_id"),
        F.col("file_name").alias("source"),
        F.col("cell_text").alias("text"),
    )


def _counted(df, obs: Observation):
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def ingest(ctx: Context) -> None:
    spark, tr, data = ctx.spark, ctx.tracer, ctx.data_dir
    con = oracle.connect(data)
    cells_n, chunks_n = oracle.nonempty_cells(con), oracle.chunk_count(con)
    ctx.sizes.update(cells=cells_n, docs=cells_n, chunks=chunks_n)
    prefix = {"scan": [], "unpivot": [], "chunk": [], "embed": []}
    outs = {"cells": 0, "chunks": 0}
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        op = f"ingest-{i}"
        tr.tag("op", op)
        try:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            with ctx.span(i, "ingest.pass", op):
                with ctx.span(i, "sheets_connector.construct", op):
                    cells = sheets_source_unpivot(spark, data)
                obs = Observation(f"ingest{i}")
                index = build_index_df(ingest_docs(cells)).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((F.size("embedding") == DEFAULT_DIM).cast("long")).alias("ok"),
                )
                with ctx.span(i, "ingest.execute", op):
                    _noop(index)
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
        except Exception:
            ctx.error(op)
            i += 1
            continue
        if i == 0:  # the first pass over new input is the cold one
            ctx.build_s, ctx.build_cpu_s = dt, cpu
        else:
            ctx.record(i, dt, cpu)
            ctx.work.append((cells_n, dt))
        got = obs.get
        ctx.check(
            got["rows"] == chunks_n and got["ok"] == chunks_n,
            f"{op}: {got} for {chunks_n} chunks",
        )
        if ctx.traced(i) and i > 0:
            # forced prefixes of the fused plan, each built afresh and run
            # once like the pass: scan; up to unpivot; up to chunk; the
            # pass itself runs up to embed
            prefix["embed"].append(tr.durations("ingest.execute")[-1])
            steps = (
                ("scan", "scan", read_sheets(spark, fixture_dir_for(data)), None),
                ("unpivot", "prefix", sheets_source_unpivot(spark, data), "cells"),
                (
                    "chunk",
                    "prefix",
                    chunked_docs_df(ingest_docs(sheets_source_unpivot(spark, data))),
                    "chunks",
                ),
            )
            for name, kind, df, out in steps:
                tr.tag(kind, f"{op}-{name}")
                pobs = Observation(f"{op}-{name}")
                t0 = time.perf_counter()
                _noop(_counted(df, pobs))
                prefix[name].append(time.perf_counter() - t0)
                if out:
                    outs[out] = pobs.get["rows"]
        i += 1
    if tr.enabled:
        scan = _median(prefix["scan"])
        unpivot = _median(prefix["unpivot"])
        chunk = _median(prefix["chunk"])
        embed = _median(prefix["embed"])
        _, _, _, scan_tasks = tr.job_counts("scan")
        n_scans = max(len(prefix["scan"]), 1)
        construct = tr.durations("sheets_connector.construct")
        ctx.layers.update(
            {
                "sheets_connector.construct_s": _median(construct),
                "sheets_source.scan_s": scan,
                "sheets_source.scan_tasks": scan_tasks / n_scans,
                "sheets_connector.unpivot_self_s": unpivot - scan,
                "sheets_connector.cells_out": outs["cells"],
                "text.chunk_self_s": chunk - unpivot,
                "text.chunks_out": outs["chunks"],
                "vector.embed_self_s": embed - chunk,
                "vector.embed_rows_per_s": outs["chunks"] / max(embed - chunk, 1e-9),
            }
        )


# ------------------------------------------------------------------ search


def _queries(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen[" ".join(rng.sample(VOCAB, 4))] = None
    return list(seen)


SHEET = "products"  # created and filled by the script's first message
COLS = "ABC"  # name | size | price
TYPED_VALUES = ("42", "-7", "3.25", ".5", "1e3", "true", "No", "2024-02-29", "3/4/2021", "spark")


class _Model:
    """What the agent's sheet holds after the benchmark's writes, as the
    toolkit's grid rows (header at row index 0)."""

    def __init__(self, rng: random.Random, grid: list[list[str]]):
        self.rng = rng
        self.grid = grid

    def row(self) -> list[str]:
        r = self.rng
        return [f"{r.choice(VOCAB)} part", str(r.randint(1, 50)), f"{r.uniform(900, 1000):.2f}"]


class _TimedTools:
    """The toolkit's tools as ``run_react`` looks them up, each call
    timed into ``calls`` and tagged. Tool bodies call each other on the
    real toolkit, so a nested call is not counted twice. Tool calls are
    not search operations: they stay out of ``ctx.record``."""

    def __init__(self, toolkit, ctx: Context):
        self.calls: list[tuple[str, float]] = []
        self._ctx = ctx
        for name in agent_tools.TOOL_NAMES:
            setattr(self, name, self._wrap(name, getattr(toolkit, name)))

    def _wrap(self, name, fn):
        ctx, tr = self._ctx, self._ctx.tracer

        def call(*args, **kwargs):
            i = ctx.next_op()
            op = f"tool-{i}"
            tr.tag("tool", op)
            t0 = time.perf_counter()
            try:
                if ctx.traced(i):
                    with tr.span(f"agent_tools.{name}", op):
                        return fn(*args, **kwargs)
                return fn(*args, **kwargs)
            finally:
                self.calls.append((name, time.perf_counter() - t0))

        return call


def _range(c_lo: int, r_lo: int, c_hi: int, r_hi: int) -> str:
    """A1 range from 0-based inclusive column and grid-row indexes."""
    return f"{COLS[c_lo]}{r_lo + 1}:{COLS[c_hi]}{r_hi + 1}"


# The agent's seeded calls after its script: half reads, a quarter
# writes, the rest corpus search, a type sniff and a warehouse read, in
# seeded order with seeded arguments.
TOOL_BLOCK = (
    ("read_values",) * 4
    + ("read_cell", "aggregate_range") * 2
    + ("write_values", "write_cell") * 2
    + ("search_cells", "search_cells", "suggest_data_type", "read_table_top")
)


def _agent_call(ctx, tools, model: _Model, kind: str, rng: random.Random, later: list) -> None:
    """One tool call of ``kind`` with seeded arguments. One read in ten
    reaches past the grid edge, where the toolkit must raise
    ``ValueError``."""
    grid = model.grid
    last = len(grid) - 1
    if kind in ("read_values", "read_cell"):
        edge = rng.random() < 0.1
        r_lo = rng.randint(1, last)
        c_lo = rng.randint(0, len(COLS) - 1)
        if kind == "read_cell":
            if edge:
                r_lo = last + rng.randint(1, 3)
            r_hi, c_hi = r_lo, c_lo
        else:
            r_hi = last + rng.randint(1, 3) if edge else rng.randint(r_lo, last)
            c_hi = rng.randint(c_lo, len(COLS) - 1)
        try:
            if kind == "read_cell":
                got = tools.read_cell(SHEET, f"{COLS[c_lo]}{r_lo + 1}")
                want = None if edge else grid[r_lo][c_lo]
            else:
                got = tools.read_values(SHEET, _range(c_lo, r_lo, c_hi, r_hi))
                want = [row[c_lo : c_hi + 1] for row in grid[r_lo : r_hi + 1]]
        except ValueError:
            ctx.check(edge, f"{kind} raised inside the grid")
            return
        ctx.check(not edge and got == want, f"{kind} {got!r} != {want!r}")
    elif kind == "aggregate_range":  # the size column over a row window
        r_lo = rng.randint(1, last)
        r_hi = rng.randint(r_lo, last)
        rng_s = f"B{r_lo + 1}:B{r_hi + 1}"
        got = tools.aggregate_range(SHEET, rng_s, "sum")
        want = sum(int(grid[r][1]) for r in range(r_lo, r_hi + 1))
        ctx.check(got == f"sum({rng_s}) = {want}", f"{got!r} != {want}")
    elif kind in ("write_values", "write_cell"):  # inside the grid
        r_lo = rng.randint(1, last)
        c_lo = rng.randint(0, len(COLS) - 1)
        if kind == "write_values":
            r_hi = min(r_lo + rng.randint(0, 2), last)
            c_hi = rng.randint(c_lo, len(COLS) - 1)
            vals = [model.row()[c_lo : c_hi + 1] for _ in range(r_lo, r_hi + 1)]
            got = tools.write_values(SHEET, _range(c_lo, r_lo, c_hi, r_hi), vals)
        else:
            vals = [[model.row()[c_lo]]]
            got = tools.write_cell(SHEET, f"{COLS[c_lo]}{r_lo + 1}", vals[0][0])
        for k, row_vals in enumerate(vals):
            grid[r_lo + k][c_lo : c_lo + len(row_vals)] = row_vals
        ctx.check(got.startswith(f"wrote {len(vals)} rows"), f"{kind}: {got!r}")
    elif kind == "search_cells":
        term = rng.choice(VOCAB)
        later.append((kind, term, tools.search_cells(term)))
    elif kind == "suggest_data_type":
        value = rng.choice(TYPED_VALUES)
        later.append((kind, value, tools.suggest_data_type(value)))
    else:
        k = rng.randint(3, 10)
        later.append((kind, k, tools.read_table_top("part", k)))


def _search_call(ctx, q: str, results: list) -> None:
    """One semantic top-k query, forced by a ``collect``."""
    spark, tr, data = ctx.spark, ctx.tracer, ctx.data_dir
    i = ctx.next_op()
    op = f"search-{i}"
    tr.tag("op", op)
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    if ctx.traced(i):
        with tr.span("search.query", op):
            with tr.span("vector.query_embed", op):
                vec = embed_text_local(q, DEFAULT_DIM)
            with tr.span("similarity.search_construct", op):
                df = search_index(build_index(spark, data), vec, TOP_K)
            with tr.span("similarity.search_execute", op):
                rows = df.collect()
    else:
        rows = semantic_search(spark, data, q, k=TOP_K).collect()
    dt = time.perf_counter() - t0
    ctx.record(i, dt, tree_cpu_s() - c0, "semantic_search")
    results.append((q, [(r["id"], r["dist2"]) for r in rows]))


def _check_search(ctx, index, results: list) -> int:
    """The exact top-k for a seeded sample of the queries, computed
    outside the timed loop; the other queries are checked for shape:
    k rows in ascending distance. Returns the index row count."""
    full = index.select("id", "embedding").toArrow()
    ids = full.column("id").to_pylist()
    emb = np.asarray(
        full.column("embedding").combine_chunks().flatten(), dtype=np.float32
    ).reshape(len(ids), DEFAULT_DIM)
    sample = random.Random(ctx.seed + 1).sample(results, min(10, len(results)))
    for q, got in sample:
        want = oracle.exact_topk(ids, emb, embed_text_local(q, DEFAULT_DIM), TOP_K)
        ctx.check(got == want, f"top-{TOP_K} of {q!r}")
    for q, got in results:
        if (q, got) not in sample:
            ctx.check(
                len(got) == TOP_K and [d for _, d in got] == sorted(d for _, d in got),
                f"shape of the top-{TOP_K} of {q!r}",
            )
    return len(ids)


BUILDS = 5


def search(ctx: Context) -> None:
    spark, tr, data = ctx.spark, ctx.tracer, ctx.data_dir
    builds, build_cpu = [], []
    for b in range(BUILDS):  # median of index builds from empty memos
        clear_memos(spark)
        before_mb = cached_mb(spark)
        tr.tag("build", f"search-build-{b}")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span("similarity.build_index", f"search-build-{b}"):
            index = build_index(spark, data)
        builds.append(time.perf_counter() - t0)
        build_cpu.append(tree_cpu_s() - c0)
    ctx.build_s, ctx.build_cpu_s = _median(builds), _median(build_cpu)
    index_mb = cached_mb(spark) - before_mb

    queries = _queries(ctx.seed, 10_000)
    results: list = []
    t_loop = time.perf_counter()
    deadline = t_loop + ctx.seconds
    while ctx.ops == 0 or time.perf_counter() < deadline:
        n = ctx.ops
        try:
            _search_call(ctx, queries[n], results)
        except Exception:
            ctx.error(f"search-{n}")
    ctx.work.append((len(results), time.perf_counter() - t_loop))
    n_rows = _check_search(ctx, index, results)
    ctx.sizes.update(
        index_rows=n_rows, queries=len(results), builds_s=[round(b, 3) for b in builds]
    )
    if tr.enabled:
        ctx.layers.update(
            {
                "similarity.index_rows": n_rows,
                "similarity.index_cached_mb": index_mb,
                "vector.query_embed_ms": 1e3 * _median(tr.durations("vector.query_embed")),
                "similarity.search_construct_ms": 1e3
                * _median(tr.durations("similarity.search_construct")),
                "similarity.search_execute_ms": 1e3
                * _median(tr.durations("similarity.search_execute")),
            }
        )
        _agent(ctx)


def _agent(ctx: Context) -> None:
    """The agent's tool layers, run by a traced search run after its
    queries: the fixed script through the planner loop creates the
    agent's sheet and fills it with the top parts by price, then one
    seeded ``TOOL_BLOCK`` works on that sheet. Every call is checked."""
    spark, tr, data = ctx.spark, ctx.tracer, ctx.data_dir
    rng = random.Random(ctx.seed)
    corpus = build_sheets_fixture(data, fixture_dir_for(data))
    toolkit = agent_tools.SheetAgentToolkit(spark, f"{corpus}_agent_store", corpus, data)
    tools = _TimedTools(toolkit, ctx)
    t0 = time.perf_counter()
    with tr.span("agent_tools.run_react", "agent-script"):
        transcript = []
        for msg in agent_tools.SCRIPT:
            for s in agent_tools.run_react(tools, agent_tools.RuleBasedPlanner(), msg):
                transcript.append((len(transcript) + 1, msg, s.action, s.target, s.observation))
    script_s = time.perf_counter() - t0
    n_script = len(tools.calls)
    cols = ["step_id", "scenario", "action", "target", "observation"]
    con = oracle.connect(data)
    why = oracle.matches_sql(con, agent_tools.AGENT_SQL, cols, transcript)
    ctx.check(why is None, f"run_react transcript: {why}")

    top = next(obs for _, _, action, _, obs in transcript if action == "read_table_top")
    model = _Model(rng, [["name", "size", "price"]] + [r.split("|") for r in top.split(";")])
    later: list = []
    for kind in rng.sample(TOOL_BLOCK, len(TOOL_BLOCK)):
        n = ctx.ops
        try:
            _agent_call(ctx, tools, model, kind, rng, later)
        except Exception:
            ctx.error(f"{kind}-{n}")
    for tool, arg, got in later:
        if tool == "search_cells":
            want = oracle.search_cells(con, arg)
        elif tool == "suggest_data_type":
            want = oracle.sniff_type(con, arg)
        else:
            want = oracle.table_top(con, arg)
        ctx.check(got == want, f"{tool}({arg!r}) = {got!r}, want {want!r}")
    ctx.sizes.update(calls=len(tools.calls), script_calls=n_script)
    for name in agent_tools.TOOL_NAMES:
        ms = [1e3 * d for t, d in tools.calls if t == name]
        ctx.layers[f"agent_tools.{name}.p50_ms"] = _median(ms)
        ctx.layers[f"agent_tools.{name}.calls"] = len(ms)
    tool_s = sum(d for _, d in tools.calls[:n_script])
    ctx.layers["agent_tools.planner_self_ms"] = 1e3 * (script_s - tool_s)
    calls, jobs, _, _ = tr.job_counts("tool")
    ctx.layers["agent_tools.jobs_per_call"] = jobs / max(calls, 1)


WORKLOADS = {"ingest": ingest, "search": search}
