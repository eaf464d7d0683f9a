"""U1 agent tool layer: grammar dispatch, ReAct data flow, tool
round-trips, determinism, and the planner swap seam."""

from __future__ import annotations

import pytest

from spec_search_spark.operators.agent_tools import (
    Final,
    RuleBasedPlanner,
    SheetAgentToolkit,
    Step,
    ToolCall,
    agent_store_dir,
    agent_tool_transcript,
    run_react,
    MSG_A,
    MSG_B,
    MSG_C,
    MSG_D,
)


def test_planner_grammar_first_actions():
    p = RuleBasedPlanner()
    a = p.next_action(MSG_A, [])
    assert isinstance(a, ToolCall) and a.tool == "create_sheet"
    assert a.args["sheet_name"] == "products"
    assert a.args["columns"] == ["name", "size", "price"]
    b = p.next_action(MSG_B, [])
    assert isinstance(b, ToolCall) and b.tool == "read_values"
    c = p.next_action(MSG_C, [])
    assert isinstance(c, ToolCall) and c.tool == "read_cell"
    assert c.args["cell"] == "C2"
    d = p.next_action(MSG_D, [])
    assert isinstance(d, ToolCall) and d.tool == "search_cells"
    assert d.args["term"] == "merge"


def test_planner_unknown_command_is_final():
    out = RuleBasedPlanner().next_action("delete all my files", [])
    assert isinstance(out, Final)
    assert out.answer == "cannot parse command"


def test_planner_react_data_flow():
    """write_values args must be parsed from the PREVIOUS observation
    (the ReAct observation→action dependency)."""
    p = RuleBasedPlanner()
    steps = [
        Step("create_sheet", "products!A1:C1", "created"),
        Step("read_table_top", "part", "a|1|9.00;b|2|8.00"),
    ]
    a = p.next_action(MSG_A, steps)
    assert isinstance(a, ToolCall) and a.tool == "write_values"
    assert a.args["values"] == [["a", "1", "9.00"], ["b", "2", "8.00"]]
    assert a.args["range_str"] == "A2:C3"


def test_planner_total_parses_engine_observation():
    p = RuleBasedPlanner()
    steps = [
        Step("read_values", "products!A2:C6", "a|1|9.00"),
        Step("aggregate_range", "products!B2:B6", "sum(B2:B6) = 42"),
    ]
    a = p.next_action(MSG_B, steps)
    assert isinstance(a, Final) and a.answer == "total of column B is 42"


class _ScriptedPlanner:
    """Swap-seam proof: any object with next_action(message, steps)
    drives the same loop and tools (the hosted-LLM slot)."""

    def next_action(self, message, steps):
        if not steps:
            return ToolCall("suggest_data_type", {"value": "2024-01-01"}, "")
        return Final(steps[-1].observation)


@pytest.fixture()
def toolkit(spark, sf_dir, tmp_path):
    from spec_search_spark.operators.sheets_connector import (
        build_sheets_fixture,
        fixture_dir_for,
    )

    corpus = build_sheets_fixture(sf_dir, fixture_dir_for(sf_dir))
    return SheetAgentToolkit(spark, str(tmp_path / "store"), corpus, sf_dir)


def test_planner_swap_seam(toolkit):
    steps = run_react(toolkit, _ScriptedPlanner(), "anything")
    assert [s.action for s in steps] == ["suggest_data_type", "final"]
    assert steps[0].observation == "date"
    assert steps[1].observation == "date"


def test_write_read_cell_roundtrip(toolkit):
    toolkit.create_sheet("t", ["a", "b"])
    toolkit.write_cell("t", "B3", "7.5")
    assert toolkit.read_cell("t", "B3") == "7.5"
    # untouched neighbours of the overlay stay as written
    assert toolkit.read_cell("t", "A1") == "a"
    assert toolkit.suggest_data_type(toolkit.read_cell("t", "B3")) == "float"


def test_write_values_overlay_preserves_header(toolkit):
    toolkit.create_sheet("u", ["x", "y"])
    toolkit.write_values("u", "A2:B3", [["1", "2"], ["3", "4"]])
    grid = toolkit.read_values("u", "A1:B3")
    assert grid == [["x", "y"], ["1", "2"], ["3", "4"]]
    total = toolkit.aggregate_range("u", "A2:A3", "sum")
    assert total == "sum(A2:A3) = 4"


def test_write_preserves_other_sheets(toolkit):
    """ADVICE r8: the sink's overwrite commit deletes EVERY sheet file
    in the store, so a write to sheet B must not destroy sheet A —
    _write_grid must take the per-file append path."""
    toolkit.create_sheet("alpha", ["a"])
    toolkit.write_cell("alpha", "A2", "keep-me")
    toolkit.create_sheet("beta", ["b"])
    toolkit.write_cell("beta", "A2", "other")
    assert toolkit.read_cell("alpha", "A2") == "keep-me"
    assert toolkit.read_cell("alpha", "A1") == "a"
    assert toolkit.read_cell("beta", "A2") == "other"


def test_empty_store_read_is_an_error_observation(toolkit):
    """A fresh store holds no sheet file: a read reports the grid
    limit (0 rows) and the loop records it as an `error:` observation."""

    class _ReadOnce:
        def next_action(self, message, steps):
            if not steps:
                return ToolCall(
                    "read_values", {"sheet_name": "none", "range_str": "A1:B2"}, ""
                )
            return Final("done")

    with pytest.raises(ValueError, match=r"exceeds grid limits \(0 rows\)"):
        toolkit.read_values("none", "A1:B2")
    steps = run_react(toolkit, _ReadOnce(), "anything")
    assert steps[0].observation == "error: range A1:B2 exceeds grid limits (0 rows)"
    assert steps[-1].observation == "done"


def test_react_rejects_unknown_tool(toolkit):
    """ADVICE r8: a planner-emitted tool name outside the whitelist
    (e.g. a private method or 'spark') must surface as a 'no such
    tool' observation, never reach getattr."""

    class _Evil:
        def __init__(self):
            self.calls = 0

        def next_action(self, message, steps):
            self.calls += 1
            if self.calls == 1:
                return ToolCall("_write_grid", {"sheet_name": "x", "values": []}, "")
            return Final("done")

    steps = run_react(toolkit, _Evil(), "anything")
    assert steps[0].observation == "no such tool: _write_grid"
    assert steps[-1].observation == "done"


def test_transcript_deterministic_and_complete(spark, sf_dir):
    t1 = agent_tool_transcript(spark, sf_dir).collect()
    t2 = agent_tool_transcript(spark, sf_dir).collect()
    assert t1 == t2
    assert len(t1) == 12
    actions = [r["action"] for r in t1]
    # every scenario ends in a final answer; no budget exhaustion
    assert actions.count("final") == 4
    assert "step budget exhausted" not in {r["observation"] for r in t1}
    # scenario B's read-back equals what scenario A wrote (disk round-trip)
    assert t1[4]["observation"] == t1[1]["observation"]
