"""Self-check harness: runs every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet, then compares
row-count, column names, and order-insensitive values — a local
approximation of the driver's correctness gate.

Usage: python tools/selfcheck.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spec_search_spark.catalog import TABLES  # noqa: E402
from spec_search_spark.session import get_spark  # noqa: E402


#: DuckDB output types the driver's value-hash mishandles: HUGEINT (and
#: friends) leave the int64 lane when fetched (object/float columns), so a
#: value-identical result still hash-mismatches. Oracles must CAST to BIGINT.
RISKY_TYPE_KEYWORDS = (
    "HUGEINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
    "DECIMAL",
)


def risky_oracle_types(columns, types):
    """(col, type) pairs whose DuckDB type would leave the int64/double
    lane in the driver's hash — type-width hygiene the value comparison
    below (which collapses Python int widths) can never see."""
    return [
        (c, str(t))
        for c, t in zip(columns, types)
        if any(k in str(t).upper() for k in RISKY_TYPE_KEYWORDS)
    ]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0 (f"{-0.0:.9g}" would keep the sign)
        # collapse float32/64 repr noise
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def _mem_available_mb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def duckdb_connect():
    """A DuckDB connection sized to the host: at most 2 threads, and
    half of MemAvailable, so the oracle and the Spark side of the same
    check share the machine instead of racing for it."""
    con = duckdb.connect()
    con.execute(f"SET threads = {min(2, os.cpu_count() or 1)}")
    avail = _mem_available_mb()
    if avail:
        con.execute(f"SET memory_limit = '{avail // 2}MB'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()

    spark = get_spark("selfcheck")
    con = duckdb_connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            risky = risky_oracle_types(dcols, rel.types)
            drows = rel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        if risky:
            failures.append(name)
            print(f"FAIL {name}: oracle emits driver-hostile types {risky}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        sn = norm_rows(scols, srows)
        dn = norm_rows(dcols, drows)
        if sn != dn:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            continue
        print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
