"""Meta-tests of the oracle harness itself: the correctness gate is
only as strong as its comparator, so pin that norm_rows DETECTS the
mismatch classes it exists to catch (and tolerates the noise classes
it exists to ignore)."""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from selfcheck import duckdb_connect, norm_cell, norm_rows  # noqa: E402


def test_duckdb_connection_is_capped_for_the_host():
    def setting(con, name):
        return con.execute(f"SELECT current_setting('{name}')").fetchone()[0]

    capped, fresh = duckdb_connect(), duckdb.connect()
    assert setting(capped, "threads") == min(2, os.cpu_count() or 1)
    # set from MemAvailable, not DuckDB's 80%-of-RAM default
    assert setting(capped, "memory_limit") != setting(fresh, "memory_limit")


def test_detects_value_drift():
    a = norm_rows(["x"], [(1.0,), (2.0,)])
    b = norm_rows(["x"], [(1.0,), (2.0000001,)])
    assert a != b


def test_ignores_row_and_column_order():
    a = norm_rows(["a", "b"], [(1, "x"), (2, "y")])
    b = norm_rows(["b", "a"], [("y", 2), ("x", 1)])
    assert a == b


def test_collapses_float_repr_noise_only():
    # -0.0 vs 0.0 and float32 widening collapse; a 9th-significant-digit
    # difference does NOT
    assert norm_cell(-0.0) == norm_cell(0.0)
    assert norm_cell(1.0000000001) == norm_cell(1.0)
    assert norm_cell(1.000001) != norm_cell(1.0)
    assert norm_cell(float("nan")) == norm_cell(float("nan"))
    assert norm_cell(math.inf) == "inf"  # formatted, stable across engines


def test_detects_cardinality_and_null_changes():
    base = norm_rows(["x"], [(1,), (2,)])
    assert norm_rows(["x"], [(1,), (2,), (2,)]) != base  # duplicate row
    assert norm_rows(["x"], [(1,), (None,)]) != base     # null swap


def test_arrays_compare_elementwise():
    a = norm_rows(["v"], [([1.0, 2.0],)])
    b = norm_rows(["v"], [([1.0, 2.5],)])
    c = norm_rows(["v"], [([2.0, 1.0],)])
    assert a != b
    assert a != c  # order inside an array cell is significant


def test_risky_type_gate_flags_uncast_hugeint():
    """The round-4 driver reds: DuckDB sum(BIGINT) returns HUGEINT and the
    driver's value-hash is type-width-sensitive. The gate must flag it."""
    import duckdb

    from selfcheck import risky_oracle_types

    con = duckdb.connect()
    rel = con.sql("SELECT sum(x) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)")
    assert risky_oracle_types(rel.columns, rel.types) == [("s", "HUGEINT")]
    ok = con.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)"
    )
    assert risky_oracle_types(ok.columns, ok.types) == []


def test_all_registered_oracles_are_hugeint_free():
    """Type-scan every oracle_sql() text: binding (not execution) against the
    sf0.001 views must produce no HUGEINT/DECIMAL/unsigned output column —
    the class that turned km_survival_curve and bucketed_agg_revenue red in
    round 4 despite value-identical results."""
    import duckdb

    import __spark_entry__ as e
    from selfcheck import risky_oracle_types
    from spec_search_spark.catalog import TABLES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    offenders = {}
    for name, sql in e.oracle_sql().items():
        rel = con.sql(sql)  # lazy: binds types without executing
        risky = risky_oracle_types(rel.columns, rel.types)
        if risky:
            offenders[name] = risky
    assert not offenders, f"driver-hostile oracle output types: {offenders}"
