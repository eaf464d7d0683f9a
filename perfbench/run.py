"""Layered benchmark of the spec_search_spark pipeline.

Run from the root of a checkout::

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

It starts one local Spark session (``local[4]``, 2 GB heap),
generates the workload's inputs from the seed under ``.perfbench/``,
warms up on a smaller corpus, runs the workload as a closed loop with one
client for ``--seconds``, checks every result and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics named in ``BENCHMARK.json`` (the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CORES = 4
HEAP = "2g"  # the package default of 16g is more than a 15 GB host should give
CORPUS_DOCS = 20_000  # ~70k chunks
WARM_DOCS = {"ingest": 4_000, "search": 300}  # the warm-up's own corpus
GEN_REPEATS = 3

# Each workload's own name for what it measures, in the lines printed
# before the result. BENCHMARK.json gates on set-up time and CPU time
# only: on a host shared with other machines, wall time swings with the
# CPU time the host takes away (steal), CPU time does not count it.
NAMES = {
    "ingest": {
        "op_cpu_ms": "ingest_pass_cpu_ms",
        "build_cpu_s": "ingest_first_pass_cpu_s",
        "op_p50_ms": "ingest_pass_p50_ms",
        "op_p75_ms": "ingest_pass_p75_ms",
        "work_per_s": "ingest_cells_per_s",
        "build_s": "ingest_first_pass_s",
    },
    "search": {
        "op_cpu_ms": "search_cpu_ms",
        "build_cpu_s": "index_build_cpu_s",
        "op_p50_ms": "search_p50_ms",
        "op_p75_ms": "search_p75_ms",
        "work_per_s": "search_queries_per_s",
        "build_s": "index_build_s",
    },
}


def _env(work: Path) -> None:
    """Keep every file Spark, its Python workers and the package write
    inside ``work``, and let the workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}"
            " --conf spark.ui.retainedJobs=100000"
            " --conf spark.ui.retainedStages=100000"
            f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            " pyspark-shell"
        ),
    )
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def _p(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "spec_search_spark" / "__init__.py").is_file():
        print(f"no spec_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in NAMES:
        print(f"unknown workload {args.workload!r}; one of {list(NAMES)}", file=sys.stderr)
        return 2

    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    import inputs
    import workloads
    from spans import Tracer
    from spec_search_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        data_dir = str(work / f"{args.workload}-{args.seed}")
        gen = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            inputs.write_dir(data_dir, inputs.corpus(args.seed, CORPUS_DOCS))
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        tiny = inputs.write_dir(str(work / "warm"), inputs.corpus(0, WARM_DOCS[args.workload]))
        workloads.warm_up(spark, args.workload, tiny, bool(args.trace))
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen) + warm_s

        ctx = workloads.Context(spark, tracer, data_dir, args.seed, args.seconds)
        workloads.WORKLOADS[args.workload](ctx)
        ctx.sizes.setdefault("docs", CORPUS_DOCS)
        ctx.sizes.update(
            cores=CORES,
            heap=HEAP,
            setup_session_s=round(session_s, 3),
            setup_warm_s=round(warm_s, 3),
        )

        lat = ctx.lat_ms
        wall = {
            "op_p50_ms": _p(lat, 50),
            "op_p75_ms": _p(lat, 75),
            "work_per_s": statistics.median(u / s for u, s in ctx.work) if ctx.work else 0.0,
            "build_s": ctx.build_s,
        }
        if args.trace:
            values = dict(ctx.layers)
            values.update({f"wall.{k}": wall[k] for k in ("op_p50_ms", "build_s")})
            ops, jobs, stages, tasks = tracer.job_counts("op")
            ops = max(ops, 1)
            values.update(
                {
                    "spark.jobs_per_op": jobs / ops,
                    "spark.stages_per_op": stages / ops,
                    "spark.tasks_per_op": tasks / ops,
                    "session.cached_mb": workloads.cached_mb(spark),
                    "trace.op_p50_ms": statistics.median(ctx.traced_ms) if ctx.traced_ms else 0.0,
                    "trace.overhead_ms": ctx.tracing_overhead_ms(),
                }
            )
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(traces / f"{args.workload}-{args.seed}.json"))
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "op_cpu_ms": statistics.fmean(ctx.cpu_ms) if ctx.cpu_ms else 0.0,
                "build_cpu_s": ctx.build_cpu_s,
                **wall,
            }
            wanted = spec["end_to_end"]
        ctx.sizes["samples"] = len(ctx.lat_ms) + len(ctx.traced_ms)
        ctx.sizes["op_ms"] = [round(x, 1) for x in ctx.lat_ms]
        ctx.sizes["op_cpu_ms"] = [round(x, 1) for x in ctx.cpu_ms]
    finally:
        _stop(spark)

    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    if not args.trace:
        for key, name in [("setup_s", "setup_s"), *NAMES[args.workload].items()]:
            unit = "1/s" if key.endswith("per_s") else key.rsplit("_", 1)[1]
            print(f"{name:<28} {values[key]:>14.4f} {unit}")
        ratio = ctx.failed / max(ctx.attempted, 1)
        print(f"{'failed_op_ratio':<28} {ratio:>14.4f} of {ctx.attempted} operations")
    print(json.dumps({"workload": args.workload, "trace": args.trace, "sizes": ctx.sizes}))
    if ctx.attempted == 0:  # nothing was checked: count the run as one failure
        ctx.attempted = ctx.failed = 1
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
