#!/usr/bin/env python
"""Third-algorithm scaling evidence (informational, beyond the north
rule's PageRank gate): one-level Louvain local moving for a FIXED number
of rounds at two whole-job-pinned parallelism levels on the same
deterministic extraction-pipeline edge table.

Same paired/back-to-back/core-pinned/data-sized-partitions discipline as
tools/bench_scaling.py (protocol arguments in BASELINE.md §3); Louvain
with fixed rounds is deterministic, so every level does identical
rounds/work and the per-run number is the whole-run wall.  Louvain's
per-round shape (neighbor-label join + three hash aggs + arg-max) is the
heaviest shuffle mix of the three scaling algorithms — the worst-case
datapoint for the shuffle-bound claim.

Usage: PYTHONPATH=. python tools/scaling_louvain.py
       [--pages 1500000] [--link-factor 2] [--rounds 4] [--n 2]
       [--repeats 3] [--out BENCH_SCALING_LOUVAIN.json]
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
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--fixed-partitions", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_SCALING_LOUVAIN.json"))
    args = ap.parse_args()

    B.FIXED_PARTITIONS = args.fixed_partitions
    edges = B.build_edges(args.pages, args.link_factor)
    extra = ["--algo", "louvain"]
    n, n4 = args.n, 4 * args.n

    # one discarded warmup pair (page cache / JIT first-touch)
    B.run_level(n4, edges, args.rounds, extra=extra)

    pairs = []
    for rep in range(args.repeats):
        order = [n, n4] if rep % 2 == 0 else [n4, n]
        legs = {u: B.run_level(u, edges, args.rounds, extra=extra)
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
        "protocol": "BASELINE.md §3 paired protocol, third algorithm "
                    "(informational): Louvain fixed rounds, whole-run "
                    "wall, alternating order, whole-job core pinning, "
                    f"fixed {args.fixed_partitions} partitions",
        "algo": f"louvain(rounds={args.rounds})",
        "input": {"pages": args.pages, "link_factor": args.link_factor,
                  "seed": 42, "edges_parquet": edges},
        "pairs": pairs,
        "scaling_efficiency": round(statistics.median(effs), 3),
        "note": "informational third-algorithm datapoint; the north-rule "
                "gate remains BENCH_SCALING.json (PageRank)",
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"median_efficiency": out["scaling_efficiency"],
                      "pairs": effs}))


if __name__ == "__main__":
    main()
