"""U1 — the reference's LLM agent tool layer as engine surface.

The reference wires a gspread toolkit (read_cell / write_cell /
read_values / write_values / suggest_data_type,
`/root/reference/sheet_creator_tool.py:42-128`) into a LangGraph ReAct
agent driven by ChatOpenAI (`sheet_creator_tool.py:155-197`) and a
Streamlit agent-chat tab (`app.py:208-226`). Two distinct layers hide
in that file:

1. the TOOL layer — typed operations against the sheet store, each a
   real data-engine call; and
2. the PLANNER — the LLM that picks which tool to call next from the
   conversation so far.

Here layer 1 is implemented for real over the sheet store (reads are
``read_sheets`` — Spark's native JSON scan, ranged and pruned to one
file; writes go through the ``sheets`` DataSource sink; corpus search
is a distributed Spark job) plus warehouse reads, and layer 2
is a deterministic rule-based router over a constrained English
command grammar — the same observation→next-action ReAct loop shape,
with the LLM as a documented swap seam (the F6 embedder pattern:
`RuleBasedPlanner` and a hosted-model planner share the
``next_action(message, steps)`` contract, so swapping in an LLM
changes no tool or loop code).

Determinism / oracle story: every observation the tools return is
computed from the parquet tables (top-k parts feed the sheet the agent
creates; the corpus search counts ``documents`` rows), so the full
transcript — tool choices AND observed values — has a DuckDB value
oracle.

Scale shape:
- per-sheet tools (read/write cell/range) operate on ONE sheet file —
  bounded work by construction, exactly the reference's per-call API
  granularity; the ranged scan filters on ``_metadata.file_name``,
  which prunes the file listing (no other file is opened). Every call
  builds a fresh scan, so it lists the store as it is now and sees a
  sheet created by the previous call;
- ``search_cells`` is the corpus-scale tool: a distributed scan →
  posexplode → filter → one aggregate; work ∝ corpus, no collect of
  anything unbounded (the observation is one aggregated row);
- the transcript itself is bounded by the script length (the one-row
  artifact class), assembled driver-side like every agent framework's
  message list.
"""

from __future__ import annotations

import os
import re
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from spec_search_spark.catalog import load_table
from spec_search_spark.functions.sheets import (
    a1_letter_sql,
    composite_id,
    sniff_type,
    sniff_type_sql,
)
from spec_search_spark.operators.sheets_connector import (
    build_sheets_fixture,
    fixture_dir_for,
    read_sheets,
)
from spec_search_spark.operators.sheets_pipeline import CELLS_PER_FILE, COLS_PER_ROW
from spec_search_spark.session import local_df, tune
from spec_search_spark.sources.sheets_source import (
    GRID_SCHEMA,
    SHEET_SUFFIX,
    _parse_range,
    register,
)

AGENT_TAB = "data"
AGENT_FILE_ID = 9000  # created sheets get ids far above the corpus fixture's


# ---------------------------------------------------------------- tools


class SheetAgentToolkit:
    """The reference's GoogleSheetsToolkit re-expressed over the
    sheet store: same five tools
    (`sheet_creator_tool.py:42-128`) plus the warehouse read and the
    corpus search the demo scenarios need (`app.py:48-78` search tab).

    ``store_dir`` holds agent-created sheets (scratch, wiped per run);
    ``corpus_dir`` is the shared read-only documents fixture."""

    def __init__(
        self, spark: SparkSession, store_dir: str, corpus_dir: str, sf_dir: str
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.corpus_dir = corpus_dir
        self.sf_dir = sf_dir
        os.makedirs(store_dir, exist_ok=True)
        register(spark)  # the write-back sink

    # -- helpers

    def _grid(self, sheet_name: str, range_str: str | None = None) -> DataFrame:
        return read_sheets(self.spark, self.store_dir, sheet_name, range_str)

    def _write_grid(self, sheet_name: str, values: list[list[str | None]]) -> None:
        """Replace the named sheet file wholesale (the batch sink's
        per-file commit): one row per grid row.

        Uses mode("append"): the non-overwrite commit path replaces only
        the named file (``_merge_into_dir`` with overlay=False rewrites
        each file appearing in the batch from its full grid), which is
        the intended per-file semantics.  mode("overwrite") would first
        delete EVERY ``*.sheet.json`` in the store, silently destroying
        other agent-created sheets."""
        rows = [
            (AGENT_FILE_ID, sheet_name, 100 + AGENT_FILE_ID, AGENT_TAB, i, v)
            for i, v in enumerate(values)
        ]
        # local_df: a LocalRelation plans one write task; createDataFrame
        # would parallelize 32 pickled-RDD slices (31 empty), each paying
        # a Python worker round-trip and an empty sink part file
        df = local_df(self.spark, rows, GRID_SCHEMA)
        df.write.format("sheets").mode("append").save(self.store_dir)

    def _read_all(self, sheet_name: str) -> list[list[str | None]]:
        rows = self._grid(sheet_name).select("row_idx", "cells").collect()
        out: dict[int, list] = {r["row_idx"]: list(r["cells"]) for r in rows}
        return [out.get(i, []) for i in range(max(out) + 1)] if out else []

    # -- the reference's five tools

    def read_cell(self, sheet_name: str, cell: str) -> str:
        """`sheet_creator_tool.py:42-54` — one cell via the ranged
        scan (a 1×1 range)."""
        vals = self.read_values(sheet_name, f"{cell}:{cell}")
        return vals[0][0] if vals and vals[0] else ""

    def write_cell(self, sheet_name: str, cell: str, value: str) -> str:
        """`sheet_creator_tool.py:56-68`."""
        return self.write_values(sheet_name, f"{cell}:{cell}", [[value]])

    def read_values(self, sheet_name: str, range_str: str) -> list[list[str]]:
        """`sheet_creator_tool.py:70-80` — the S4 ranged scan; the
        observation is bounded by the requested range.

        STRICT grid bounds (the Sheets-API 'exceeds grid limits' error
        class): a range reaching past the sheet's last row raises
        instead of silently returning a short result — the error leg
        the recovery scenario exercises, isolated per tool call exactly
        like the reference isolates per-file indexing errors
        (`/root/reference/indexer.py:113-121`: failures become error
        records, the loop continues).

        One scan on the success path: sheet grids are row-dense by
        construction (`_write_grid` writes contiguous rows), so a
        ranged read returning fewer rows than the range height proves
        the range crossed the grid edge — only THAT rare path pays the
        second (row-count) job that the error message reports."""
        r_lo, r_hi, _c_lo, _c_hi = _parse_range(range_str)
        # the observation is bounded by the requested range, so order
        # driver-side: an engine orderBy on ≤range-height rows plans a
        # range-partitioner sampling job + a shuffle (~0.4 s of fixed
        # cost per call at any scale)
        rows = sorted(
            self._grid(sheet_name, range_str).select("row_idx", "cells").collect(),
            key=lambda r: r["row_idx"],
        )
        if len(rows) < r_hi - r_lo + 1:
            # row count from one pruned scan of the (bounded, per-sheet)
            # grid — same collect class as _read_all; an engine
            # max-aggregate would add a shuffle for a one-file scan
            idxs = [
                r["row_idx"]
                for r in self._grid(sheet_name).select("row_idx").collect()
            ]
            n_rows = max(idxs) + 1 if idxs else 0
            raise ValueError(
                f"range {range_str} exceeds grid limits ({n_rows} rows)"
            )
        return [list(r["cells"]) for r in rows]

    def write_values(
        self, sheet_name: str, range_str: str, values: list[list[str]]
    ) -> str:
        """`sheet_creator_tool.py:82-96` — overlay the range onto the
        existing grid, then per-file replace through the sink."""
        r_lo, _r_hi, c_lo, _c_hi = _parse_range(range_str)
        grid = self._read_all(sheet_name)
        for i, row_vals in enumerate(values):
            r = r_lo + i
            while len(grid) <= r:
                grid.append([])
            row = grid[r]
            need = c_lo + len(row_vals)
            row.extend([None] * (need - len(row)))
            for j, v in enumerate(row_vals):
                row[c_lo + j] = v
        self._write_grid(sheet_name, grid)
        return f"wrote {len(values)} rows to {sheet_name}!{range_str}"

    def suggest_data_type(self, value: str) -> str:
        """`sheet_creator_tool.py:98-128` — the F5 sniffing CASE chain
        evaluated by the engine (English labels, documented
        divergence)."""
        one = local_df(
            self.spark, [(value,)], StructType([StructField("v", StringType())])
        )
        row = one.select(sniff_type(F.col("v")).alias("t")).collect()
        return row[0]["t"]

    # -- scenario tools beyond the five (create + warehouse + search)

    def create_sheet(self, sheet_name: str, columns: list[str]) -> str:
        """`sheet_creator_tool.py:31-36` create_spreadsheet + header
        row."""
        self._write_grid(sheet_name, [list(columns)])
        return (
            f"created sheet '{sheet_name}' with header "
            + "|".join(columns)
        )

    def read_table_top(self, table: str, k: int) -> str:
        """Warehouse read feeding the agent's sheet: top-k parts by
        retail price, formatted ENGINE-side (format_string) so the
        observation string is byte-stable across runs."""
        df = (
            load_table(self.spark, self.sf_dir, table)
            .orderBy(F.desc("p_retailprice"), "p_partkey")
            .limit(k)
            .select(
                F.format_string(
                    "%s|%d|%.2f",
                    "p_name",
                    "p_size",
                    "p_retailprice",
                ).alias("line")
            )
        )
        return ";".join(r["line"] for r in df.collect())

    def aggregate_range(self, sheet_name: str, range_str: str, op: str) -> str:
        """Range aggregate computed BY THE ENGINE (the reference demo
        asks the LLM to total a column from the raw observation;
        here the engine owns the arithmetic)."""
        assert op == "sum"
        total = (
            self._grid(sheet_name, range_str)
            .select(F.element_at("cells", 1).cast("bigint").alias("v"))
            .agg(F.sum("v").alias("s"))
            .collect()[0]["s"]
        )
        return f"sum({range_str}) = {total}"

    def search_cells(self, term: str) -> str:
        """The app.py search tab's corpus scan as the agent tool —
        distributed end-to-end: grid read → posexplode → contains
        filter → ONE aggregated observation row (count + first match
        by grid position)."""
        cells = read_sheets(self.spark, self.corpus_dir).select(
            "file_id",
            "sheet_id",
            "row_idx",
            F.posexplode("cells").alias("col_idx", "cell_text"),
        )
        hits = cells.filter(
            F.col("cell_text").isNotNull() & F.col("cell_text").contains(term)
        ).select(
            (
                F.col("file_id") * CELLS_PER_FILE
                + F.col("row_idx") * COLS_PER_ROW
                + F.col("col_idx")
            ).alias("pos"),
            composite_id(
                F.col("file_id"),
                F.col("sheet_id"),
                F.col("col_idx"),
                F.col("row_idx"),
                F.lit(0),
            ).alias("cell_id"),
        )
        row = hits.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("pos", "cell_id")).alias("first"),
        ).collect()[0]
        return f"n={row['n']} first={row['first']['cell_id']}"


# ---------------------------------------------------------------- planner


@dataclass
class ToolCall:
    tool: str
    args: dict
    target: str  # display target (sheet!range / table) for the transcript


@dataclass
class Final:
    answer: str


@dataclass
class Step:
    action: str
    target: str
    observation: str


# the constrained command grammar the deterministic planner understands
RE_CREATE = re.compile(
    r"create a sheet named (\w+) with columns ([\w, ]+) and fill it with"
    r" the top (\d+) parts by price"
)
RE_TOTAL = re.compile(
    r"read values ([A-Z]\d+:[A-Z]\d+) from sheet (\w+) and report the"
    r" total of column ([A-Z])"
)
RE_TYPE = re.compile(r"what type of data is in cell ([A-Z]\d+) of sheet (\w+)\?")
RE_FIND = re.compile(r'find cells mentioning "([\w ]+)" in the corpus')


class RuleBasedPlanner:
    """Deterministic stand-in for the ReAct LLM
    (`sheet_creator_tool.py:162-167`: create_react_agent(ChatOpenAI,
    tools)). Same contract — given the user message and the (action,
    observation) steps so far, emit the next ToolCall or Final — so a
    hosted-model planner drops in without touching the loop or the
    tools (the F6 model-swap seam)."""

    def next_action(self, message: str, steps: list[Step]) -> ToolCall | Final:
        done = [s.action for s in steps]

        m = RE_CREATE.fullmatch(message)
        if m:
            sheet, cols_s, k = m.group(1), m.group(2), int(m.group(3))
            cols = [c.strip() for c in cols_s.split(",")]
            if "create_sheet" not in done:
                return ToolCall(
                    "create_sheet",
                    {"sheet_name": sheet, "columns": cols},
                    f"{sheet}!A1:{chr(64 + len(cols))}1",
                )
            if "read_table_top" not in done:
                return ToolCall("read_table_top", {"table": "part", "k": k}, "part")
            if "write_values" not in done:
                # ReAct data flow: rows come from the previous observation
                rows = [ln.split("|") for ln in steps[-1].observation.split(";")]
                rng = f"A2:{chr(64 + len(cols))}{1 + len(rows)}"
                return ToolCall(
                    "write_values",
                    {"sheet_name": sheet, "range_str": rng, "values": rows},
                    f"{sheet}!{rng}",
                )
            return Final(f"populated {sheet} with {k} rows")

        m = RE_TOTAL.fullmatch(message)
        if m:
            rng, sheet, col = m.groups()
            reads = [s for s in steps if s.action == "read_values"]
            ok_read = reads and not reads[-1].observation.startswith("error:")
            if not ok_read:
                if reads:
                    # RE-PLAN from the error observation (the ReAct
                    # recovery leg): 'exceeds grid limits (N rows)' →
                    # clamp the requested range to the grid edge and
                    # retry — the agent analog of the reference's
                    # per-item error isolation (indexer.py:113-121)
                    gm = re.search(r"\((\d+) rows\)", reads[-1].observation)
                    if gm:
                        lo, hi = rng.split(":")
                        rng = f"{lo}:{hi[0]}{int(gm.group(1))}"
                    else:
                        # an error observation the re-planner does NOT
                        # recognize (e.g. a bad-A1 ValueError) — a bare
                        # retry would re-issue the identical failing
                        # read until MAX_STEPS and leave the transcript
                        # without a Final step (ADVICE r10): terminate
                        # deterministically instead
                        return Final(
                            "error: read_values failed and the error is"
                            f" not recoverable ({reads[-1].observation})"
                        )
                return ToolCall(
                    "read_values",
                    {"sheet_name": sheet, "range_str": rng},
                    f"{sheet}!{rng}",
                )
            # total the column over the range that actually READ (the
            # clamped one after a recovery, the requested one otherwise)
            got = reads[-1].target.split("!")[1]
            lo, hi = got.split(":")
            col_rng = f"{col}{lo[1:]}:{col}{hi[1:]}"
            if "aggregate_range" not in done:
                return ToolCall(
                    "aggregate_range",
                    {"sheet_name": sheet, "range_str": col_rng, "op": "sum"},
                    f"{sheet}!{col_rng}",
                )
            total = steps[-1].observation.split("= ")[1]
            return Final(f"total of column {col} is {total}")

        m = RE_TYPE.fullmatch(message)
        if m:
            cell, sheet = m.groups()
            if "read_cell" not in done:
                return ToolCall(
                    "read_cell",
                    {"sheet_name": sheet, "cell": cell},
                    f"{sheet}!{cell}",
                )
            if "suggest_data_type" not in done:
                return ToolCall(
                    "suggest_data_type", {"value": steps[-1].observation}, ""
                )
            return Final(f"cell {cell} holds a {steps[-1].observation}")

        m = RE_FIND.fullmatch(message)
        if m:
            if "search_cells" not in done:
                return ToolCall("search_cells", {"term": m.group(1)}, "corpus")
            n = steps[-1].observation.split(" ")[0].split("=")[1]
            return Final(f"found {n} matching cells")

        return Final("cannot parse command")


MAX_STEPS = 8

# Explicit tool whitelist: the planner seam is documented as swappable
# for a hosted LLM, and a model-emitted tool name must never reach
# getattr on the toolkit (which would expose private methods like
# _write_grid, or `spark` itself).  Unknown names become a "no such
# tool" observation the planner can react to.
TOOL_NAMES = (
    "read_cell",
    "write_cell",
    "read_values",
    "write_values",
    "create_sheet",
    "suggest_data_type",
    "read_table_top",
    "aggregate_range",
    "search_cells",
)


def run_react(
    toolkit: SheetAgentToolkit, planner, message: str
) -> list[Step]:
    """The ReAct loop (`sheet_creator_tool.py:162-180` graph.stream):
    plan → act → observe, until Final or the step budget."""
    tools = {name: getattr(toolkit, name) for name in TOOL_NAMES}
    steps: list[Step] = []
    for _ in range(MAX_STEPS):
        action = planner.next_action(message, steps)
        if isinstance(action, Final):
            steps.append(Step("final", "", action.answer))
            return steps
        fn = tools.get(action.tool)
        if fn is None:
            steps.append(
                Step(action.tool, action.target, f"no such tool: {action.tool}")
            )
            continue
        # Error isolation (reference parity, indexer.py:113-121): a
        # failing tool call becomes an `error:` observation the planner
        # can react to — never a crashed loop. ValueError only: the
        # tools raise it for contract violations (bad A1 spec, grid
        # bounds); engine faults should still surface loudly.
        try:
            obs = fn(**action.args)
        except ValueError as e:
            steps.append(Step(action.tool, action.target, f"error: {e}"))
            continue
        if not isinstance(obs, str):
            obs = ";".join("|".join(str(c) for c in row) for row in obs)
        steps.append(Step(action.tool, action.target, obs))
    steps.append(Step("final", "", "step budget exhausted"))
    return steps


# ---------------------------------------------------------------- query

MSG_A = (
    "create a sheet named products with columns name, size, price and"
    " fill it with the top 5 parts by price"
)
MSG_B = (
    "read values A2:C6 from sheet products and report the total of"
    " column B"
)
MSG_C = "what type of data is in cell C2 of sheet products?"
MSG_D = 'find cells mentioning "merge" in the corpus'

SCRIPT = [MSG_A, MSG_B, MSG_C, MSG_D]

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("step_id", LongType()),
        StructField("scenario", StringType()),
        StructField("action", StringType()),
        StructField("target", StringType()),
        StructField("observation", StringType()),
    ]
)


def agent_store_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"spark_graft_agent_{base}")


MSG_R = (
    "read values A2:C12 from sheet products and report the total of"
    " column B"
)


def _run_scenarios(
    spark: SparkSession, sf_dir: str, store_suffix: str, messages
) -> DataFrame:
    """Shared transcript harness for the registered agent scenarios:
    fresh per-store scratch wipe, toolkit + planner, ReAct loop per
    message, rows assembled under TRANSCRIPT_SCHEMA (one copy — the
    two slots' byte-stable oracles must never diverge on harness
    mechanics)."""
    tune(spark)
    corpus = build_sheets_fixture(sf_dir, fixture_dir_for(sf_dir))
    store = agent_store_dir(sf_dir) + store_suffix
    os.makedirs(store, exist_ok=True)
    for f in os.listdir(store):
        if f.endswith(SHEET_SUFFIX):
            os.remove(os.path.join(store, f))
    toolkit = SheetAgentToolkit(spark, store, corpus, sf_dir)
    planner = RuleBasedPlanner()

    rows = []
    step_id = 0
    for msg in messages:
        for s in run_react(toolkit, planner, msg):
            step_id += 1
            rows.append((step_id, msg, s.action, s.target, s.observation))
    return local_df(spark, rows, TRANSCRIPT_SCHEMA)


def agent_tool_transcript_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 error-isolation scenario (r9 verdict task 8): the agent asks
    for A2:C12 from a 6-row sheet — the ranged read raises the
    grid-limits error, the loop records it as an `error:` observation
    (the reference's per-item isolation, indexer.py:113-121), and the
    planner RE-PLANS: clamps the range to the reported grid edge,
    re-reads, and totals the column. Every observation string,
    including the error, is byte-stable and value-oracled.

    Output: (step_id, scenario, action, target, observation)."""
    # scenario A first builds the 6-row sheet the error leg reads
    return _run_scenarios(spark, sf_dir, "_rec", (MSG_A, MSG_R))


def agent_tool_transcript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: run the reference's three demo scenarios
    (`sheet_creator_tool.py:180-193`: create+fill a product table;
    read a range and total a column; classify a value) plus the
    app.py search-tab scenario through the ReAct loop, and return the
    full transcript — tool choices, targets, and engine-computed
    observations.

    Output: (step_id, scenario, action, target, observation)."""
    return _run_scenarios(spark, sf_dir, "", SCRIPT)


# ---------------------------------------------------------------- oracle

_TOP5 = (
    "SELECT p_name, p_size, p_retailprice, p_partkey FROM part"
    " ORDER BY p_retailprice DESC, p_partkey LIMIT 5"
)
_D = "(SELECT CAST(min(doc_id) AS BIGINT) FROM documents WHERE contains(text, 'merge'))"
_A1_FIRST = a1_letter_sql(f"({_D} % {COLS_PER_ROW})")
_FIRST_ID = (
    f"({_D} // {CELLS_PER_FILE})::VARCHAR || '_' || "
    f"(100 + {_D} // {CELLS_PER_FILE})::VARCHAR || '_' || "
    f"{_A1_FIRST} || (({_D} % {CELLS_PER_FILE}) // {COLS_PER_ROW} + 2)::VARCHAR || '_0'"
)

AGENT_SQL = f"""
WITH top5 AS ({_TOP5}),
vals AS (
  SELECT
    string_agg(p_name || '|' || CAST(p_size AS VARCHAR) || '|'
               || printf('%.2f', p_retailprice),
               ';' ORDER BY p_retailprice DESC, p_partkey) AS rows_s,
    CAST(sum(p_size) AS BIGINT) AS total
  FROM top5
),
best AS (
  SELECT printf('%.2f', p_retailprice) AS price_s
  FROM top5 ORDER BY p_retailprice DESC, p_partkey LIMIT 1
),
typ AS (SELECT {sniff_type_sql("(SELECT price_s FROM best)")} AS t),
widget AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
  WHERE contains(text, 'merge')
)
SELECT CAST(step_id AS BIGINT) AS step_id, scenario, action, target, observation
FROM (
  SELECT 1 AS step_id, '{MSG_A}' AS scenario, 'create_sheet' AS action,
         'products!A1:C1' AS target,
         'created sheet ''products'' with header name|size|price' AS observation
  UNION ALL SELECT 2, '{MSG_A}', 'read_table_top', 'part',
         (SELECT rows_s FROM vals)
  UNION ALL SELECT 3, '{MSG_A}', 'write_values', 'products!A2:C6',
         'wrote 5 rows to products!A2:C6'
  UNION ALL SELECT 4, '{MSG_A}', 'final', '', 'populated products with 5 rows'
  UNION ALL SELECT 5, '{MSG_B}', 'read_values', 'products!A2:C6',
         (SELECT rows_s FROM vals)
  UNION ALL SELECT 6, '{MSG_B}', 'aggregate_range', 'products!B2:B6',
         'sum(B2:B6) = ' || (SELECT total FROM vals)
  UNION ALL SELECT 7, '{MSG_B}', 'final', '',
         'total of column B is ' || (SELECT total FROM vals)
  UNION ALL SELECT 8, '{MSG_C}', 'read_cell', 'products!C2',
         (SELECT price_s FROM best)
  UNION ALL SELECT 9, '{MSG_C}', 'suggest_data_type', '', (SELECT t FROM typ)
  UNION ALL SELECT 10, '{MSG_C}', 'final', '',
         'cell C2 holds a ' || (SELECT t FROM typ)
  UNION ALL SELECT 11, '{MSG_D}', 'search_cells', 'corpus',
         'n=' || (SELECT n FROM widget) || ' first=' || {_FIRST_ID}
  UNION ALL SELECT 12, '{MSG_D}', 'final', '',
         'found ' || (SELECT n FROM widget) || ' matching cells'
)
"""


AGENT_RECOVERY_SQL = f"""
WITH top5 AS ({_TOP5}),
vals AS (
  SELECT
    string_agg(p_name || '|' || CAST(p_size AS VARCHAR) || '|'
               || printf('%.2f', p_retailprice),
               ';' ORDER BY p_retailprice DESC, p_partkey) AS rows_s,
    CAST(sum(p_size) AS BIGINT) AS total
  FROM top5
)
SELECT CAST(step_id AS BIGINT) AS step_id, scenario, action, target, observation
FROM (
  SELECT 1 AS step_id, '{MSG_A}' AS scenario, 'create_sheet' AS action,
         'products!A1:C1' AS target,
         'created sheet ''products'' with header name|size|price' AS observation
  UNION ALL SELECT 2, '{MSG_A}', 'read_table_top', 'part',
         (SELECT rows_s FROM vals)
  UNION ALL SELECT 3, '{MSG_A}', 'write_values', 'products!A2:C6',
         'wrote 5 rows to products!A2:C6'
  UNION ALL SELECT 4, '{MSG_A}', 'final', '', 'populated products with 5 rows'
  UNION ALL SELECT 5, '{MSG_R}', 'read_values', 'products!A2:C12',
         'error: range A2:C12 exceeds grid limits (6 rows)'
  UNION ALL SELECT 6, '{MSG_R}', 'read_values', 'products!A2:C6',
         (SELECT rows_s FROM vals)
  UNION ALL SELECT 7, '{MSG_R}', 'aggregate_range', 'products!B2:B6',
         'sum(B2:B6) = ' || (SELECT total FROM vals)
  UNION ALL SELECT 8, '{MSG_R}', 'final', '',
         'total of column B is ' || (SELECT total FROM vals)
)
"""


QUERIES = {
    "agent_tool_transcript": agent_tool_transcript,
    "agent_tool_transcript_recovery": agent_tool_transcript_recovery,
}
ORACLES = {
    "agent_tool_transcript": AGENT_SQL,
    "agent_tool_transcript_recovery": AGENT_RECOVERY_SQL,
}
