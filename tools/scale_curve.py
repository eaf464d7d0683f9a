"""Measured scaling curves (r9 verdict task 5): time the slow
headline slots + the flagships at sf0.1 (driver data), sf0.3 and
sf1.0 (tools/gen_scale_data.py extensions) and fit the per-query
scaling exponent α in t ∝ sf^α (log-log least squares over the three
points). α ≈ 1 is the pass bar for the linear-designed operators;
rank-walk / LSH-banded ops may be n·log n-ish. Results land in
SCALE.md's measured-curves table; any α > 1.3 gets a named cause.

Methodology: per (query, sf) the first run WARMS the session memos
(trained indexes, hashed postings — the deployment artifacts the
round ledgers price as steady-state), then min-of-2 warm runs is the
recorded time. Timing only — no oracle runs against the replicated
data.

Run on an idle machine: python tools/scale_curve.py
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # 10 slowest r9 headline slots
    "ols_cv_rmse",
    "bootstrap_ci_revenue",
    "semantic_dedup",
    "ivf_nprobe_sweep",
    "rules_hitrate_eval",
    "image_phash_pairs",
    "dsir_importance_report",
    "conformal_interval_orders",
    "ivfpq_recall_report",
    "jl_projection_recall",
    # the two r9 flagships
    "corpus_build_pipeline",
    "search_pipeline_e2e",
    # the r10 flagship family
    "knn_graph_build",
    "graph_ann_search",
    # r10 verdict task 3: the uncurved expensive sweep slots
    "knn_graph_delta_insert",
    "agent_tool_transcript",
    "agent_tool_transcript_recovery",
    "psl_domain_extract",
    "hits_hubs_authorities",
    "ngram_jaccard_pairs",
    # r11: the layered-descent report (flat-vs-layered eval budgets)
    "graph_ann_layered_recall",
]

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = [
    (0.1, "/root/testdata/sf0.1"),
    (0.3, os.path.join(HERE, "testdata_scale", "sf0.3")),
    (1.0, os.path.join(HERE, "testdata_scale", "sf1.0")),
]


def main() -> int:
    from bench import _time_slot, _warm_up
    from spec_search_spark.operators import all_queries
    from spec_search_spark.session import get_spark

    # optional argv: refresh only the NAMED slots, merging into the
    # existing SCALE_CURVES.json (r11 verdict item 9: rewritten slots
    # need refreshed curves without re-running the whole battery).
    # Only curved slots: any other name is a typo or would merge a
    # curve no full run refreshes — reject it before Spark starts.
    only = sys.argv[1:]
    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        print(f"not a curved slot (see QUERIES): {' '.join(unknown)}", file=sys.stderr)
        return 2
    queries = only or QUERIES

    qs, _ = all_queries()
    spark = get_spark("scale_curve")
    _warm_up(qs, spark, SFS[0][1])

    results: dict[str, dict] = {}
    for name in queries:
        per_sf: dict[str, float] = {}
        cold: dict[str, float] = {}
        failed = False
        for sf, sf_dir in SFS:
            try:
                cold[str(sf)] = round(_time_slot(qs, spark, sf_dir, name), 3)
                warm = [_time_slot(qs, spark, sf_dir, name) for _ in range(2)]
                per_sf[str(sf)] = round(min(warm), 3)
            except Exception as exc:  # noqa: BLE001 — record, keep probing
                # a single (query, sf) failure (e.g. driver-heap OOM at
                # sf1.0) must not void the other 20 queries' curves —
                # record it loudly; the round ledger names the cause
                results[name] = {"error": f"sf{sf}: {exc}"[:400]}
                print(f"{name} sf{sf}: FAILED {exc}", flush=True)
                failed = True
                break
            print(f"{name} sf{sf}: cold {cold[str(sf)]}s warm {per_sf[str(sf)]}s", flush=True)
        if failed:
            continue
        # log-log LSQ slope over warm AND cold times (memoized queries
        # — graph/ANN index builds, agent transcripts — do the real
        # work on the COLD run; their warm slope is a memo-read
        # flatline, so alpha_cold is the honest scaling signal there)
        def lsq(series: dict[str, float]) -> float:
            xs = [math.log(sf) for sf, _ in SFS]
            ys = [math.log(max(series[str(sf)], 1e-3)) for sf, _ in SFS]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            return sum(
                (x - mx) * (y - my) for x, y in zip(xs, ys)
            ) / sum((x - mx) ** 2 for x in xs)

        results[name] = {
            "warm_sec": per_sf,
            "cold_sec": cold,
            "alpha": round(lsq(per_sf), 2),
            "alpha_cold": round(lsq(cold), 2),
        }
        print(
            f"{name}: alpha={results[name]['alpha']}"
            f" alpha_cold={results[name]['alpha_cold']}",
            flush=True,
        )

    out = os.path.join(HERE, "SCALE_CURVES.json")
    if only and os.path.exists(out):
        with open(out) as fh:
            merged = json.load(fh)
        merged.update(results)
        results = merged
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps({n: r["alpha"] for n, r in results.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
