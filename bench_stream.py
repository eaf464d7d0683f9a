"""Streaming drain-time ledger (VERDICT r5 item 6): wall-clock to
drive each `stream_*` twin to completion against the fixed parquet
input at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

The headline bench (`bench.py`) deliberately stays batch-shaped; the
streaming twins are correctness-proven against the same oracles but a
STATE-SIZE regression in a twin (an unbounded key space creeping into
`applyInPandasWithState`, a watermark that stops pruning) shows up
first as drain time. This ledger makes that visible round-over-round.

Each twin's queries() adapter internally runs
`writeStream ... start(); processAllAvailable()` into a memory sink
and returns the sink table — so "drain time" is the full cost of
sourcing the parquet as a stream, running the stateful plan, and
committing every epoch. The final count() only touches the already-
materialized sink.

Prints ONE JSON line:
{"metric": "streaming_drain_total", "value": sec, "unit": "sec",
 "queries": {name: sec}, "sf": ..., "run_policy": ...}

Same min-of-N / spread policy as bench.py (default N=3: each drain is
itself multi-epoch and less jittery than a single batch job; override
with SPARK_GRAFT_BENCH_RUNS). Must run on an otherwise idle machine
(BASELINE standing rule).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (  # noqa: E402
    _min_merge,
    _noop_write,
    _previous_round,
    _sf_value,
    _silence_bounded_window_warnings,
    _time_slot,
)
from spec_search_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from spec_search_spark.operators import all_queries

    qs, _ = all_queries()
    stream_names = sorted(n for n in qs if n.startswith("stream_"))
    spark = get_spark("bench_stream")
    _silence_bounded_window_warnings(spark)

    # warmup: one batch scan (parquet/codegen init) + one full drain
    # (streaming engine + checkpoint + memory-sink init).
    _noop_write(qs["hourly_event_rollup"](spark, sf_dir))
    qs["stream_hourly_counts"](spark, sf_dir).count()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in stream_names:
        samples = [
            round(_time_slot(qs, spark, sf_dir, name, force=lambda df: df.count()), 3)
            for _ in range(n_runs)
        ]
        all_samples[name] = samples
        timings[name] = min(samples)
        spreads[name] = round(max(samples) - min(samples), 3)

    sf_val = _sf_value(sf_dir)
    record = {
        "metric": "streaming_drain_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "run_policy": f"min_of_{n_runs}_exclusive_machine",
        "spread_max_minus_min": spreads,
        # every raw drain time, per slot per run (r9 verdict task 2:
        # the 39.4→48.7s r8→r9 drain delta was unfalsifiable because
        # only min+spread survived) — repeat runs append, so the
        # committed ledger carries the full measurement series
        "samples": all_samples,
    }
    # file-backed beside BENCH_FULL (same round inference as bench.py):
    # the ledger the next round diffs for twin state-size regressions
    _, _, this_round = _previous_round()
    here = os.path.dirname(os.path.abspath(__file__))
    if sf_val == 0.1:
        name = f"BENCH_STREAM_r{this_round:02d}.json"
    else:
        name = f"BENCH_STREAM_dev_sf{sf_val}.json"
    path = os.path.join(here, name)
    # Same-round repeat runs merge per-slot MINIMA (bench.py's policy:
    # ambient degradation poisons a different band of slots per run, so
    # the union of runs is strictly more honest than the last one).
    # CAVEAT as in bench.py: if a twin's code changed between runs,
    # delete the file first — the merge would keep a stale minimum.
    try:
        with open(path) as fh:
            old = json.load(fh)
    except (OSError, json.JSONDecodeError):
        old = None
    if old and old.get("queries"):
        merged, mspread = _min_merge(
            timings, spreads, old["queries"], old.get("spread_max_minus_min", {})
        )
        # the sample series CONCATENATES across runs (full history)
        old_samples = old.get("samples", {})
        for n in merged:
            record["samples"][n] = old_samples.get(n, []) + all_samples.get(n, [])
        record["queries"] = merged
        record["spread_max_minus_min"] = mspread
        record["value"] = round(sum(merged.values()), 3)
        record["run_policy"] = "per_slot_min_merged_exclusive_runs"
        if "notes" in old:
            record["notes"] = old["notes"]
    # Slot-by-slot falsification vs the r8 merged-min ledger (r9
    # verdict task 2): ratios for every shared slot + the flagged
    # (≥1.3×) list; the committed record then carries a one-line
    # verdict per flagged slot in `notes`.
    r8_path = os.path.join(here, "BENCH_STREAM_r08.json")
    try:
        with open(r8_path) as fh:
            r8 = json.load(fh)
    except (OSError, json.JSONDecodeError):
        r8 = None
    if r8 and r8.get("sf") == sf_val and r8.get("queries"):
        ratios = {
            n: round(record["queries"][n] / r8["queries"][n], 3)
            for n in record["queries"]
            if n in r8["queries"] and r8["queries"][n] > 0
        }
        record["vs_r08_ratios"] = ratios
        record["vs_r08_flagged"] = sorted(
            n for n, r in ratios.items() if r >= 1.3
        )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    main()
