#!/usr/bin/env python
"""Second-algorithm scaling evidence (informational, beyond the north
rule's PageRank gate): large-star/small-star connected components to
fixpoint at two whole-job-pinned parallelism levels on the same
deterministic extraction-pipeline edge table.

Same paired/back-to-back/core-pinned/data-sized-partitions discipline as
tools/bench_scaling.py (the protocol arguments live in BASELINE.md §3);
the per-run number is the whole-run wall — star-CC is a deterministic
fixpoint, so every level does the identical rounds/work.

Usage: PYTHONPATH=. python tools/scaling_cc.py
       [--pages 1500000] [--link-factor 2] [--n 2] [--repeats 3]
       [--out BENCH_SCALING_CC.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

import tools.bench_scaling as B


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1500000)
    ap.add_argument("--link-factor", type=int, default=2)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--max-rounds", type=int, default=60)
    ap.add_argument("--fixed-partitions", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_SCALING_CC.json"))
    args = ap.parse_args()

    B.FIXED_PARTITIONS = args.fixed_partitions
    edges = B.build_edges(args.pages, args.link_factor)
    extra = ["--algo", "cc_star"]
    n, n4 = args.n, 4 * args.n

    # one discarded warmup pair (page cache / JIT first-touch)
    B.run_level(n4, edges, args.max_rounds, extra=extra)

    pairs = []
    for rep in range(args.repeats):
        order = [n, n4] if rep % 2 == 0 else [n4, n]
        legs = {u: B.run_level(u, edges, args.max_rounds, extra=extra)
                for u in order}
        eff = round(legs[n]["wall_s"] / (4.0 * legs[n4]["wall_s"]), 3)
        pairs.append(
            {
                "repeat": rep,
                "order": f"{'N->4N' if order[0] == n else '4N->N'}",
                "N_wall_s": legs[n]["wall_s"],
                "4N_wall_s": legs[n4]["wall_s"],
                "efficiency": eff,
            }
        )
        print(json.dumps(pairs[-1]), file=sys.stderr)

    effs = [p["efficiency"] for p in pairs]
    out = {
        "protocol": "BASELINE.md §3 paired protocol, second algorithm "
                    "(informational): star-CC to fixpoint, whole-run wall, "
                    "alternating order, whole-job core pinning, "
                    f"fixed {args.fixed_partitions} partitions",
        "algo": "connected_components(method='star')",
        "input": {"pages": args.pages, "link_factor": args.link_factor,
                  "seed": 42, "edges_parquet": edges},
        "pairs": pairs,
        "scaling_efficiency": round(statistics.median(effs), 3),
        "note": "informational second-algorithm datapoint; the north-rule "
                "gate remains BENCH_SCALING.json (PageRank)",
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"median_efficiency": out["scaling_efficiency"],
                      "pairs": effs}))


if __name__ == "__main__":
    main()
