#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency ≥ 0.8 from N to 4N executors; sandbox protocol per BASELINE.md §3).

1. Build (once, parquet-cached) a deterministic Common-Crawl-style edge
   table: synth_pages(n, seed=42) → pages_to_edges (href extraction via
   pandas UDFs, xxhash64 ids) → (subject, object) parquet.
2. Run the IDENTICAL PageRank job (fixed superstep count — same work at both
   levels) via tools/scaling_run.py at the two levels (local[N] vs local[4N]
   pinned, or local-cluster; see scaling_run.py for the affinity protocol).
3. PAIRED (blocked) design — this host's throughput drifts 2-3x on
   ~10-minute scales, so comparing medians-across-the-hour per level makes
   the gate a coin flip between host windows (measured: 0.883 and 0.683 on
   identical code).  Instead each repeat runs BOTH levels back-to-back
   (within one host window), the per-repeat efficiency is
   sec_N / (4 * sec_4N) — the common host-speed factor cancels in the
   ratio — and the gate is the MEDIAN of the per-repeat efficiencies.
   Within-pair drift is de-biased by alternating the order (N-first on
   even repeats, 4N-first on odd); one discarded WARMUP pair pays the
   page-cache / JIT-profile first-touch that otherwise lands entirely on
   the first measured pair.  Level medians/spreads are still reported.
4. Report supersteps/hour at both + the paired efficiency, a to-1e-6
   convergence run at 4N, and (unless --skip-resume) a mid-run RESUME leg
   at 4N: full run vs (interrupted-at-k, fresh-process resume) with
   CheckpointStore snapshots — final ranks must agree to 1e-6.

Usage: python tools/bench_scaling.py [--pages 3000000] [--steps 12]
       [--n-executors 1] [--repeats 5] [--out BENCH_SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRATCH = "/tmp/spark_graft_scaling"


def build_edges(n_pages: int, link_factor: int = 1) -> str:
    path = os.path.join(SCRATCH, f"edges_n{n_pages}_lf{link_factor}_seed42.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    sys.path.insert(0, ROOT)
    from pregel_rs_spark.functions.extract import pages_to_edges
    from pregel_rs_spark.sources.io import get_spark
    from pregel_rs_spark.sources.synth import synth_pages

    spark = get_spark("edge-build", cores=24, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synth_pages(
        spark, n_pages, seed=42, partitions=96, link_factor=link_factor
    )
    edges = pages_to_edges(pages).select("subject", "object").distinct()
    edges.repartition(64).write.mode("overwrite").parquet(path)
    n_edges = spark.read.parquet(path).count()
    print(f"built {n_edges} edges from {n_pages} pages -> {path}", file=sys.stderr)
    spark.stop()
    return path


MODE = "local"  # set from --mode; forwarded to every scaling_run call
FIXED_PARTITIONS = None  # set from --fixed-partitions; forwarded to every leg


def run_level(units: int, edges_path: str, steps: int, tol: float = 0.0,
              extra: list[str] | None = None) -> dict:
    # Honest cluster-size emulation (see tools/scaling_run.py): the
    # subprocess does its own whole-tree thread pinning — taskset on the
    # parent would starve the driver/master JVM into executor heartbeat
    # loss in local-cluster mode.
    cmd = [
        sys.executable,
        os.path.join(ROOT, "tools", "scaling_run.py"),
        str(units),
        edges_path,
        str(steps),
        str(tol),
        "--master-mode", MODE,
    ] + (["--fixed-partitions", str(FIXED_PARTITIONS)]
         if FIXED_PARTITIONS else []) + (extra or [])
    env = dict(os.environ)
    # local mode: the one JVM hosts driver + executor + the cached edge
    # table + two serialized state snapshots — heap is the storage pool
    # (execution memory is off-heap, sized by scaling_run)
    env.setdefault("SPARK_DRIVER_MEM", "24g")
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600, check=True, env=env
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def pick(runs: list[dict]) -> dict:
    """Median run by steady-state sec/superstep (per-run per-step median),
    annotated with the level's full spread.  Two medians deep: the per-step
    median inside a run absorbs transient slow windows of this shared host;
    the across-runs median absorbs whole runs landing in a bad window."""
    key = "sec_per_superstep_median_step"
    srt = sorted(runs, key=lambda r: r[key])
    med = dict(srt[len(srt) // 2])
    med["steady_all"] = [r[key] for r in runs]
    med["steady_median"] = round(statistics.median(r[key] for r in runs), 3)
    med["steady_min"] = min(r[key] for r in runs)
    med["steady_max"] = max(r[key] for r in runs)
    med["mean_all"] = [r["sec_per_superstep"] for r in runs]
    return med


def resume_check(executors: int, edges_path: str, steps: int,
                 interrupt_at: int, ckpt_every: int) -> dict:
    """Mid-run resume equivalence at bench scale, each leg a fresh process:
    full run vs (run interrupted at k) + (resume k→steps); final ranks
    must agree within 1e-6 L∞."""
    import duckdb

    root = os.path.join(SCRATCH, "resume_check")
    shutil.rmtree(root, ignore_errors=True)
    full_ranks = os.path.join(root, "ranks_full")
    res_ranks = os.path.join(root, "ranks_resumed")
    ck_full = os.path.join(root, "ck_full")
    ck_int = os.path.join(root, "ck_interrupted")

    full = run_level(executors, edges_path, steps,
                     extra=["--ckpt-root", ck_full, "--ckpt-every",
                            str(ckpt_every), "--ranks-out", full_ranks])
    interrupted = run_level(executors, edges_path, interrupt_at,
                            extra=["--ckpt-root", ck_int, "--ckpt-every",
                                   str(ckpt_every)])
    resumed = run_level(executors, edges_path, steps,
                        extra=["--ckpt-root", ck_int, "--ckpt-every",
                               str(ckpt_every), "--resume",
                               "--ranks-out", res_ranks])
    row = duckdb.sql(
        f"""
        SELECT max(abs(a.rank - b.rank)) AS d, count(*) AS n,
               (SELECT count(*) FROM '{full_ranks}/*.parquet') AS na,
               (SELECT count(*) FROM '{res_ranks}/*.parquet') AS nb
        FROM '{full_ranks}/*.parquet' a
        JOIN '{res_ranks}/*.parquet' b USING (vertex_id)
        """
    ).fetchone()
    max_diff, joined, na, nb = float(row[0]), int(row[1]), int(row[2]), int(row[3])
    return {
        "executors": executors,
        "supersteps": steps,
        "interrupted_at": interrupt_at,
        "ckpt_every": ckpt_every,
        "resumed_from": resumed.get("resumed_from"),
        "resumed_supersteps_run": resumed["supersteps"],
        "vertices": joined,
        "rows_match": joined == na == nb,
        "max_abs_rank_diff": max_diff,
        "allclose_1e6": max_diff <= 1e-6 and joined == na == nb,
        "full_run": full,
        "interrupted_run": interrupted,
        "resumed_run": resumed,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=3_000_000)
    ap.add_argument("--link-factor", type=int, default=6,
                    help="synth out-degree scale (6 -> mean ~16 links/page)")
    ap.add_argument("--steps", type=int, default=8)
    ap.add_argument("--mode", choices=["local", "local-cluster"],
                    default="local",
                    help="cluster emulation (see tools/scaling_run.py)")
    ap.add_argument("--n-units", type=int, default=2,
                    help="N level parallelism (cores in local mode, "
                         "executors in local-cluster mode); 4N level is 4x")
    ap.add_argument("--repeats", type=int, default=5,
                    help="back-to-back (N, 4N) pairs; gate = MEDIAN of the "
                         "per-pair efficiencies (paired design — the common "
                         "host-speed factor cancels within a pair; this "
                         "shared host shows 2-3x noisy-neighbor drift)")
    ap.add_argument("--warmup-pairs", type=int, default=1,
                    help="discarded (N, 4N) pairs run first: page-cache + "
                         "JIT-profile first-touch otherwise lands entirely "
                         "on the first measured pair")
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_SCALING.json"))
    ap.add_argument("--skip-convergence", action="store_true")
    ap.add_argument("--skip-resume", action="store_true")
    ap.add_argument("--fixed-partitions", type=int, default=None,
                    help="fix partition count (identical at both levels) "
                         "to the DATA size instead of cores — the "
                         "production rule (partitions follow data; "
                         "executors scale, partitions don't).  Without it, "
                         "partitions=cores changes the map-side partial-"
                         "aggregation compression regime between levels "
                         "(see tools/scaling_run.py --fixed-partitions).")
    ap.add_argument("--bank-dir", default=None,
                    help="write each leg's JSON here as it completes "
                         "(lo_R.json / hi_R.json) so an interrupted "
                         "multi-repeat run keeps its finished legs")
    args = ap.parse_args()

    global MODE, FIXED_PARTITIONS
    MODE = args.mode
    FIXED_PARTITIONS = args.fixed_partitions
    os.makedirs(SCRATCH, exist_ok=True)
    edges_path = build_edges(args.pages, args.link_factor)

    n, n4 = args.n_units, args.n_units * 4
    if args.bank_dir:
        os.makedirs(args.bank_dir, exist_ok=True)

    def bank(name: str, run: dict) -> None:
        if args.bank_dir:
            with open(os.path.join(args.bank_dir, name), "w") as f:
                json.dump(run, f)

    key = "sec_per_superstep_median_step"
    warmups = []
    for w in range(args.warmup_pairs):
        wl = run_level(n, edges_path, args.steps)
        bank(f"warmup_lo_{w}.json", wl)
        wh = run_level(n4, edges_path, args.steps)
        bank(f"warmup_hi_{w}.json", wh)
        warmups.append({"N_sec": wl[key], "4N_sec": wh[key],
                        "efficiency": round(wl[key] / (4.0 * wh[key]), 3)})
        print(f"warmup {w} (discarded): N={wl[key]}s/step "
              f"4N={wh[key]}s/step eff={warmups[-1]['efficiency']}",
              file=sys.stderr)

    lo_runs, hi_runs, pairs = [], [], []
    for r in range(args.repeats):
        # order alternates so monotone host drift within a pair biases
        # half the pairs up and half down — the median is unbiased
        order = ("lo", "hi") if r % 2 == 0 else ("hi", "lo")
        runs = {}
        for side in order:
            runs[side] = run_level(n if side == "lo" else n4,
                                   edges_path, args.steps)
            bank(f"{side}_{r}.json", runs[side])
        lo_runs.append(runs["lo"])
        hi_runs.append(runs["hi"])
        pairs.append({
            "repeat": r,
            "order": "->".join("N" if s == "lo" else "4N" for s in order),
            "N_sec_per_superstep": runs["lo"][key],
            "4N_sec_per_superstep": runs["hi"][key],
            "efficiency": round(runs["lo"][key] / (4.0 * runs["hi"][key]), 3),
        })
        print(
            f"repeat {r} ({pairs[-1]['order']}): "
            f"N={runs['lo'][key]}s/step 4N={runs['hi'][key]}s/step "
            f"eff={pairs[-1]['efficiency']}",
            file=sys.stderr,
        )
    lo = pick(lo_runs)
    hi = pick(hi_runs)
    thr_lo = 3600.0 / lo["steady_median"]
    thr_hi = 3600.0 / hi["steady_median"]
    eff_level = (thr_hi / thr_lo) / 4.0
    eff = statistics.median(p["efficiency"] for p in pairs)

    conv = None
    if not args.skip_convergence:
        conv = run_level(n4, edges_path, 100, tol=1e-6)

    resume = None
    if not args.skip_resume:
        resume = resume_check(
            n4, edges_path, args.steps,
            interrupt_at=max(2, args.steps * 6 // 10), ckpt_every=3,
        )
        print(f"resume check: {json.dumps({k: resume[k] for k in ('resumed_from', 'max_abs_rank_diff', 'allclose_1e6')})}",
              file=sys.stderr)

    part_desc = (
        f"; shuffle/edge partitions fixed at {args.fixed_partitions} at "
        "BOTH levels (data-sized, as on a real cluster — executors scale, "
        "partitions don't; the small level works through them in waves)"
        if args.fixed_partitions else ""
    )
    level_desc = (
        f"local[{n}] vs local[{n4}], whole job (driver python + JVM, every "
        "thread) pinned to exactly that many cores" + part_desc
        if args.mode == "local" else
        f"local-cluster[{n},4,8g] vs local-cluster[{n4},4,8g], real "
        "executor JVMs each pinned to its own 4-core block, driver JVM on "
        "a separate fixed block"
    )
    result = {
        "protocol": f"BASELINE.md §3: same job, same input, {level_desc}. "
                    "PAIRED design: each repeat runs both levels "
                    "back-to-back (order alternating N-first/4N-first), "
                    "per-pair efficiency = sec_N / (4*sec_4N) — the common "
                    "host-speed factor of that ~10-min window cancels in "
                    "the ratio; gate = MEDIAN of per-pair efficiencies "
                    f"across {args.repeats} pairs after "
                    f"{args.warmup_pairs} discarded warmup pair(s). "
                    "Per-run number = steady-state sec/superstep "
                    "(per-step median within the run).",
        "mode": args.mode,
        "input": {"pages": args.pages, "link_factor": args.link_factor,
                  "seed": 42, "edges_parquet": edges_path},
        "fixed_supersteps": args.steps,
        "fixed_partitions": args.fixed_partitions,
        "repeats": args.repeats,
        "warmup_pairs_discarded": warmups,
        "pairs": pairs,
        "level_N": lo,
        "level_4N": hi,
        "throughput_N_supersteps_per_hour": round(thr_lo, 1),
        "throughput_4N_supersteps_per_hour": round(thr_hi, 1),
        "all_runs": {
            "N_steady_sec_per_superstep":
                [r["sec_per_superstep_median_step"] for r in lo_runs],
            "4N_steady_sec_per_superstep":
                [r["sec_per_superstep_median_step"] for r in hi_runs],
        },
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_level_median": round(eff_level, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
        "convergence_run_4N": conv,
        "resume_check_4N": resume,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
