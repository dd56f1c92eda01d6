#!/usr/bin/env python
"""Simultaneous disjoint-block paired scaling campaign (round 4).

WHY a third protocol variant: the back-to-back calm-window campaign
(tools/calm_scaling.py, in git up to commit bac559a) controls for
AMBIENT co-tenant traffic, but round 4's same-day calibration triptych
(tools/percore calibrations; committed in BENCH_SCALING.json.calibration)
measured that on an OTHERWISE-IDLE
host the per-core RANDOM-ACCESS throughput of 8 active cores is only
~0.56x that of 2 active cores (pure CPU 0.99x, streaming 0.90x) — shared
LLC/memory-latency contention that scales with the total number of BUSY
CORES ON THE BOX, not with ambient traffic.  A back-to-back pair
therefore compares the N leg at 2-busy-core per-core capability against
the 4N leg at 8-busy-core capability: on busy days ambient load
equalizes the two states (r3 calm pairs read 0.85-0.95), on idle days
the asymmetry alone drags the ratio to ~0.72-0.76 with zero engine
deficit — and a real N→4N fleet of separate machines (constant per-node
cache/bandwidth per core) never pays this asymmetry at all.

THE FIX measured here: run BOTH legs at the SAME TIME on disjoint pinned
blocks (N on cores [0,2), 4N on [8,16), probe on core 20, driver floats).
Both levels then execute under one identical host state — same ambient
window AND same 10-busy-core frequency/LLC-pressure regime — so the
per-core capability term cancels in the ratio, leaving the engine's
parallelism overhead (the thing the north rule actually gates).  The 4N
leg runs 4x the supersteps (24 vs 6) so its wall covers the whole N leg
even at efficiency 1.0; per-step medians are compared as usual.
Residual bias: the two legs also contend with EACH OTHER, and the
8-core leg generates ~4x the traffic of the 2-core leg, so the shared
pressure taxes the 4N side at least as much as the N side — the ratio
is a LOWER bound on the fleet number (conservative direction).

Acceptance stays probe-based and efficiency-blind (same pre-registered
shape as calm_scaling): one probe window spans the PAIR (the legs are
concurrent), a pair is calm iff its probe median is >= LEVEL_FRAC x the
best pair-probe median of the campaign.

Usage:
    python tools/simul_scaling.py --target-pairs 6 \
        --bank-dir /tmp/spark_graft_scaling/bank_simul_r4 \
        --out /tmp/spark_graft_scaling/simul_r4.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import build_edges  # noqa: E402

SCRATCH = "/tmp/spark_graft_scaling"
KEY = "sec_per_superstep_median_step"
GATE_FRAC = 0.85
LEVEL_FRAC = 0.92
PROBE_CORE = 20


def probe_window(trace_path: str, t0: float, t1: float) -> dict:
    """Median and minimum probe throughput recorded in ``[t0, t1]``."""
    vals = []
    with open(trace_path) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if t0 <= rec["ts"] <= t1:
                vals.append(rec["gbps"])
    if not vals:
        return {"n": 0, "median_gbps": None, "min_gbps": None}
    return {"n": len(vals),
            "median_gbps": round(statistics.median(vals), 3),
            "min_gbps": round(min(vals), 3)}


def recent_probe_median(trace_path: str, window_s: float = 60.0) -> float | None:
    now = time.time()
    return probe_window(trace_path, now - window_s, now)["median_gbps"]


def run_leg_async(units: int, edges: str, steps: int, parts: int,
                  offset: int, out: dict, tag: str,
                  master_mode: str = "local",
                  cores_per_exec: int = 2,
                  exec_mem_mb: int = 8192) -> None:
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(__file__), "scaling_run.py"),
        str(units), edges, str(steps), "0.0",
        "--master-mode", master_mode,
        "--fixed-partitions", str(parts),
        "--pin-offset", str(offset),
    ]
    if master_mode == "local-cluster":
        cmd += ["--cores-per-executor", str(cores_per_exec),
                "--executor-mem-mb", str(exec_mem_mb)]
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", "24g")
    # every failure mode must land in out[tag] — an exception escaping
    # this worker thread would leave the key unset and crash the whole
    # campaign at res["lo"]/res["hi"] instead of skipping one attempt
    try:
        r = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=3600, env=env)
        if r.returncode != 0:
            out[tag] = {"error": r.stderr[-1500:]}
            return
        lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            out[tag] = {"error": "no JSON line in leg stdout (rc=0); "
                                 "stderr tail: " + r.stderr[-500:]}
            return
        out[tag] = json.loads(lines[-1])
    except Exception as ex:
        out[tag] = {"error": f"{type(ex).__name__}: {ex}"}


def verdicts(attempts: list[dict]) -> None:
    meds = [a["probe_pair"]["median_gbps"] for a in attempts
            if a["probe_pair"]["median_gbps"] is not None]
    best = max(meds) if meds else None
    for a in attempts:
        med = a["probe_pair"]["median_gbps"]
        a["calm"] = (med is not None and best is not None
                     and med >= LEVEL_FRAC * best)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=6_000_000)
    ap.add_argument("--link-factor", type=int, default=6)
    ap.add_argument("--lo-steps", type=int, default=6)
    ap.add_argument("--hi-steps", type=int, default=24,
                    help="4x lo-steps: the 4N wall then covers the whole "
                         "N leg even at efficiency 1.0 (full overlap)")
    ap.add_argument("--fixed-partitions", type=int, default=32)
    ap.add_argument("--target-pairs", type=int, default=6)
    ap.add_argument("--max-attempts", type=int, default=10)
    ap.add_argument("--budget-s", type=float, default=6000.0)
    ap.add_argument("--max-gate-wait-s", type=float, default=600.0)
    ap.add_argument("--bank-dir", default=os.path.join(SCRATCH,
                                                       "bank_simul_r4"))
    ap.add_argument("--out", default=os.path.join(SCRATCH, "simul_r4.json"))
    ap.add_argument("--master-mode", choices=["local", "local-cluster"],
                    default="local",
                    help="'local-cluster' runs the SAME simultaneous "
                         "protocol with REAL executor JVMs + netty "
                         "shuffle: N = 1 executor vs 4N = 4 executors of "
                         "identical shape (--cores-per-executor cores, "
                         "--executor-mem-mb heap each), pinned to the "
                         "same disjoint core blocks as the local pairs")
    ap.add_argument("--lo-units", type=int, default=None,
                    help="N-leg units (default: 2 cores local / "
                         "1 executor local-cluster)")
    ap.add_argument("--hi-units", type=int, default=None,
                    help="4N-leg units (default: 8 cores local / "
                         "4 executors local-cluster)")
    ap.add_argument("--cores-per-executor", type=int, default=2)
    ap.add_argument("--executor-mem-mb", type=int, default=8192)
    args = ap.parse_args()
    cluster = args.master_mode == "local-cluster"
    lo_units = args.lo_units or (1 if cluster else 2)
    hi_units = args.hi_units or (4 if cluster else 8)
    cpe = args.cores_per_executor if cluster else 1
    # hi block starts where an 8-core lo block could never reach: keep the
    # r4 geometry (lo cores [0, lo*cpe), hi cores [8, 8 + hi*cpe))
    hi_offset = 8
    lo_top = lo_units * cpe
    hi_top = hi_offset + hi_units * cpe
    if lo_top > hi_offset:
        raise SystemExit(
            f"lo block [0,{lo_top}) overlaps hi block [{hi_offset},"
            f"{hi_top}) — the protocol's disjointness claim would be "
            "false; shrink --lo-units/--cores-per-executor"
        )
    if hi_top > PROBE_CORE:
        raise SystemExit(
            f"hi block [{hi_offset},{hi_top}) reaches the probe core "
            f"{PROBE_CORE} — probe readings would measure the job, not "
            "ambient load; shrink --hi-units/--cores-per-executor"
        )

    os.makedirs(args.bank_dir, exist_ok=True)
    trace = os.path.join(args.bank_dir, "probe.jsonl")
    edges = build_edges(args.pages, args.link_factor)

    probe = subprocess.Popen(
        [sys.executable,
         os.path.join(os.path.dirname(__file__), "ambient_probe.py"),
         trace, "--core", str(PROBE_CORE)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    t_campaign = time.time()
    try:
        time.sleep(66)
        ref = recent_probe_median(trace, 64)
        if ref is None:
            raise RuntimeError("probe produced no samples")
        print(f"calibration ref = {ref} GB/s", file=sys.stderr)

        attempts: list[dict] = []
        calm_pairs: list[dict] = []
        for att in range(args.max_attempts):
            if len(calm_pairs) >= args.target_pairs:
                break
            if time.time() - t_campaign > args.budget_s:
                print("budget exhausted", file=sys.stderr)
                break
            waited = 0.0
            while True:
                m = recent_probe_median(trace)
                if m is not None and m >= GATE_FRAC * ref:
                    break
                if waited >= args.max_gate_wait_s:
                    break
                time.sleep(60)
                waited += 60
            res: dict = {}
            t1 = threading.Thread(
                target=run_leg_async,
                args=(lo_units, edges, args.lo_steps,
                      args.fixed_partitions, 0, res, "lo",
                      args.master_mode, cpe, args.executor_mem_mb))
            t2 = threading.Thread(
                target=run_leg_async,
                args=(hi_units, edges, args.hi_steps,
                      args.fixed_partitions, hi_offset, res, "hi",
                      args.master_mode, cpe, args.executor_mem_mb))
            t1.start(); t2.start(); t1.join(); t2.join()
            if "error" in res.get("lo", {}) or "error" in res.get("hi", {}):
                print(f"attempt {att} leg failed: "
                      f"{res['lo'].get('error', '')[:200]} "
                      f"{res['hi'].get('error', '')[:200]}", file=sys.stderr)
                continue
            lo, hi = res["lo"], res["hi"]
            for tag, leg in (("lo", lo), ("hi", hi)):
                with open(os.path.join(args.bank_dir,
                                       f"{tag}_{att}.json"), "w") as f:
                    json.dump(leg, f)
            # one probe window spans the concurrent pair
            t0 = min(lo["t_wall_start"], hi["t_wall_start"])
            t1e = max(lo["t_wall_end"], hi["t_wall_end"])
            pair = {
                "attempt": att,
                "N_sec_per_superstep": lo[KEY],
                "4N_sec_per_superstep": hi[KEY],
                "efficiency": round(
                    lo[KEY] / ((hi_units / lo_units) * hi[KEY]), 3),
                "overlap_full": hi["t_wall_end"] >= lo["t_wall_end"],
                "probe_pair": probe_window(trace, t0, t1e),
            }
            attempts.append(pair)
            verdicts(attempts)
            calm_pairs = [a for a in attempts if a["calm"]]
            with open(os.path.join(args.bank_dir, "attempts.json"),
                      "w") as f:
                json.dump({"ref_gbps": ref, "attempts": attempts}, f)
            print(f"attempt {att}: N={pair['N_sec_per_superstep']} "
                  f"4N={pair['4N_sec_per_superstep']} "
                  f"eff={pair['efficiency']} "
                  f"probe={pair['probe_pair']['median_gbps']} "
                  f"calm={pair['calm']} "
                  f"[{len(calm_pairs)}/{args.target_pairs}]",
                  file=sys.stderr)

        best = verdicts(attempts) if attempts else None
        calm_pairs = [a for a in attempts if a["calm"]]
        effs = [p["efficiency"] for p in calm_pairs]
        if cluster:
            lo_desc = (f"local-cluster[{lo_units},{cpe}] on cores "
                       f"[0,{lo_units * cpe})")
            hi_desc = (f"local-cluster[{hi_units},{cpe}] on cores "
                       f"[{hi_offset},{hi_offset + hi_units * cpe})")
        else:
            lo_desc = f"local[{lo_units}] on cores [0,{lo_units})"
            hi_desc = (f"local[{hi_units}] on cores "
                       f"[{hi_offset},{hi_offset + hi_units})")
        result = {
            "protocol": (
                f"SIMULTANEOUS disjoint-block pairs: N={lo_desc} and "
                f"4N={hi_desc} run AT THE SAME "
                "TIME (whole-job taskset pinning, fixed partitions "
                f"{args.fixed_partitions}), so both levels execute under "
                "one identical host state — same ambient window and same "
                "total-busy-core frequency/LLC regime; the per-core "
                "capability asymmetry of back-to-back pairs (measured "
                "0.56x random-access per-core at 8 vs 2 busy cores on an "
                "idle host) cancels in the ratio. 4N runs 4x the "
                "supersteps for full wall overlap; mutual contention "
                "taxes the 4N side at least as much as N, making the "
                "ratio a conservative LOWER bound on the separate-"
                "machine fleet number. Pre-registered efficiency-blind "
                "acceptance: pair calm iff its spanning probe median >= "
                f"{LEVEL_FRAC}x the campaign's best pair-probe median."
            ),
            "mode": ("simultaneous-local-cluster" if cluster
                     else "simultaneous"),
            "master_mode": args.master_mode,
            "lo_units": lo_units,
            "hi_units": hi_units,
            "cores_per_executor": (cpe if cluster else None),
            "executor_mem_mb": (args.executor_mem_mb if cluster else None),
            "input": {"pages": args.pages, "link_factor": args.link_factor,
                      "seed": 42, "edges_parquet": edges},
            "lo_supersteps": args.lo_steps,
            "hi_supersteps": args.hi_steps,
            "fixed_partitions": args.fixed_partitions,
            "calibration_ref_gbps": ref,
            "gate_frac": GATE_FRAC,
            "level_frac": LEVEL_FRAC,
            "best_pair_probe_gbps": best,
            "probe_trace": trace,
            "attempts": attempts,
            "n_calm": len(calm_pairs),
            "efficiency_median_calm": (round(statistics.median(effs), 3)
                                       if effs else None),
            "efficiency_median_all_attempts": (
                round(statistics.median(
                    a["efficiency"] for a in attempts), 3)
                if attempts else None
            ),
            "target": 0.8,
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)
        print(json.dumps({k: result[k] for k in (
            "efficiency_median_calm", "efficiency_median_all_attempts",
            "n_calm")}))
    finally:
        probe.terminate()


if __name__ == "__main__":
    main()
