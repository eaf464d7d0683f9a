"""Time individual registry slots with the bench's exact methodology
(noop sink, min-of-N, warmup) without paying for the full 327-slot
sweep. Usage:

    python tools/slot_time.py [-n RUNS] [--sf DIR] [--explain OUTDIR] q1 q2 ...

Prints one line per slot: wall min / median / max over N runs, the
first-run (cold) time, and the min / median process-tree CPU seconds
(this process, the JVM and its Python workers; see
``perfbench.spans.tree_cpu_s``) of the same runs. CPU time is the
steadier figure on a shared host, where wall time also counts the
cycles other tenants take. With --explain, writes <slot>.txt containing
df.explain("formatted") for each slot (the plans/r11 evidence files).

Slots run in the order given, in one process, and a slot's CPU depends
on its position: the JIT is still warming through the first slots of a
list, which read high. Compare a slot across checkouts only at the same
position of the same slot list. An unknown slot name would shift every
later slot, so any unknown name exits with code 2 before Spark starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _silence_bounded_window_warnings, _time_slot, _warm_up  # noqa: E402
from perfbench.spans import tree_cpu_s  # noqa: E402
from spec_search_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("slots", nargs="+")
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None, help="dir to write explain('formatted') per slot")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--json", default=None, help="write results dict to this path")
    args = ap.parse_args()

    from spec_search_spark.operators import all_queries

    qs, _ = all_queries()
    unknown = [n for n in args.slots if n not in qs]
    if unknown:
        print(f"unknown slot: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("slot_time")
    _silence_bounded_window_warnings(spark)
    if not args.no_warmup:
        _warm_up(qs, spark, args.sf)

    results = {}
    for name in args.slots:
        spark.sparkContext.setJobDescription(f"slot:{name}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        samples, cpu = [], []
        for _ in range(args.n):
            c0 = tree_cpu_s()
            samples.append(_time_slot(qs, spark, args.sf, name))
            cpu.append(tree_cpu_s() - c0)
        s, c = sorted(samples), sorted(cpu)
        results[name] = {
            "min": round(s[0], 3),
            "med": round(s[len(s) // 2], 3),
            "max": round(s[-1], 3),
            "cold": round(samples[0], 3),
            "cpu_min": round(c[0], 3),
            "cpu_med": round(c[len(c) // 2], 3),
            "n": args.n,
        }
        print(
            f"{name:40s} min={s[0]:7.3f} med={s[len(s)//2]:7.3f} "
            f"max={s[-1]:7.3f} cold={samples[0]:7.3f} "
            f"cpu_min={c[0]:7.3f} cpu_med={c[len(c)//2]:7.3f}"
        )
        spark.sparkContext.setJobDescription(None)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
