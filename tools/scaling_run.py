#!/usr/bin/env python
"""One scaling-protocol data point: PageRank on a pre-built edge table at a
given executor count.  Run as a subprocess by bench_scaling.py (one fresh
set of JVMs per data point — the in-sandbox analogue of one cluster size /
one job submission).

Two cluster-emulation modes, both with honest CPU accounting via taskset
(EVERY thread — ``os.sched_setaffinity(pid)`` moves only the main thread;
without pinning, a small "cluster" borrows the host's idle cores for
GC/IO/codegen and the measured N→4N efficiency is biased):

  * ``--master-mode local`` (the gate protocol, per the sandbox rule's
    "local[N] vs local[4N]"): one JVM at local[N]; after startup the whole
    job — python driver + JVM, every thread — is pinned to cores 0..N-1.
    One cluster size ≡ one machine with exactly N cores.
  * ``--master-mode local-cluster`` (multi-executor-faithful, north rule's
    "N vs 4N executors"): ``local-cluster[E, C, memMB]`` spawns E REAL
    executor JVMs (separate heaps/GCs, netty shuffle between processes),
    executor i pinned to its own C-core block; the driver-side JVM
    (driver + in-process master/worker) and this python process are pinned
    to a SEPARATE reserved block that is the same at every level — the
    analogue of the driver node, which a real cluster does not resize.
    (Pinning driver+executors into one confined set instead starves the
    executor into heartbeat loss.)

Modes:
  * plain      — fixed-superstep (or to-tolerance) throughput run
  * checkpoint — same, but writing CheckpointStore snapshots every
                 --ckpt-every supersteps to --ckpt-root (reliable-store
                 cadence at bench scale)
  * resume     — continue a previous checkpointed run mid-iteration
                 (--resume) to the full superstep count in a FRESH process,
                 evidencing the north rule's mid-run resumability

Prints one JSON line with per-step walls; ``sec_per_superstep_median_step``
is the steady-state gate number (superstep 1 pays JIT + first-touch of the
edge cache, a one-time cost that convergence-length runs amortize away).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CKPT_TOKEN = "scaling-pagerank-d0.85"  # config hash shared across legs

DRIVER_CORES = [28, 29, 30, 31]  # fixed "driver node" block at every level


def _pin_all_threads(pid: int, cores: list[int]) -> bool:
    """Pin EVERY thread of ``pid`` to ``cores`` (taskset -a).

    ``os.sched_setaffinity(pid, …)`` moves only the main thread — a JVM's
    hundreds of already-started task/GC/netty threads would keep whatever
    mask they inherited at spawn (measured: all 4 executors' task threads
    stuck on the 4-core driver block → ~8× step blowup)."""
    import subprocess

    r = subprocess.run(
        ["taskset", "-a", "-p", "-c",
         ",".join(str(c) for c in cores), str(pid)],
        capture_output=True,
    )
    return r.returncode == 0


def _find_pids(needle: str, children_of: int | None = None) -> list[int]:
    """PIDs whose cmdline contains ``needle``; ``children_of`` restricts to
    direct children of that pid — REQUIRED when two legs run simultaneously
    (each must pin only its own JVM, not the concurrent leg's)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
            if children_of is not None:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().split(") ")[-1].split()[1])
                if ppid != children_of:
                    continue
        except OSError:
            continue
        if needle in cmd:
            pids.append(int(pid))
    return sorted(pids)


def _pin_cluster(cores_per_exec: int, n_exec: int, offset: int = 0) -> int:
    """Pin executor i → core block i (starting at ``offset``), driver-side
    JVM + this python process → the reserved DRIVER_CORES block.  Returns
    #executors pinned (0 on failure — the run proceeds unpinned: noisier,
    not wrong).

    Only THIS leg's executors are pinned: the executor backends are
    (grand)children of this process's own SparkSubmit JVM, so two
    simultaneous local-cluster legs on disjoint blocks cannot re-pin each
    other's executors (same ownership rule as the local-mode path)."""
    pinned = 0
    try:
        own_submits = _find_pids("org.apache.spark.deploy.SparkSubmit",
                                 children_of=os.getpid())
        own_execs: list[int] = []
        for sp in own_submits:
            own_execs += _find_pids("CoarseGrainedExecutorBackend",
                                    children_of=sp)
        for i, pid in enumerate(sorted(own_execs)[:n_exec]):
            block = list(range(offset + i * cores_per_exec,
                               offset + (i + 1) * cores_per_exec))
            if _pin_all_threads(pid, block):
                pinned += 1
        # the py4j gateway JVM hosts driver + local-cluster master + worker;
        # the driver block is the same at every level (a real cluster does
        # not resize the driver node) and may be shared by concurrent legs
        for pid in own_submits:
            _pin_all_threads(pid, DRIVER_CORES)
        _pin_all_threads(os.getpid(), DRIVER_CORES)
    except Exception as ex:  # pragma: no cover
        print(f"pinning failed: {ex}", file=sys.stderr)
    return pinned


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("units", type=int,
                    help="parallelism units: CORES in --master-mode local, "
                         "EXECUTORS in --master-mode local-cluster")
    ap.add_argument("edges_parquet")
    ap.add_argument("supersteps", type=int)
    ap.add_argument("tol", type=float, nargs="?", default=0.0)
    ap.add_argument("--master-mode", choices=["local", "local-cluster"],
                    default="local",
                    help="'local' = one JVM pinned to exactly N cores (the "
                         "driver protocol's 'local[N] vs local[4N]' "
                         "comparison); 'local-cluster' = N real executor "
                         "JVMs of 4 cores each (the multi-executor-faithful "
                         "variant; slower in absolute terms: netty shuffle)")
    ap.add_argument("--cores-per-executor", type=int, default=4)
    ap.add_argument("--executor-mem-mb", type=int, default=8192,
                    help="per-executor heap (= off-heap size too); IDENTICAL "
                         "at every level — clusters scale out with more "
                         "executors of the same shape, not bigger ones")
    ap.add_argument("--ckpt-root", default=None)
    ap.add_argument("--ckpt-every", type=int, default=3)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--ranks-out", default=None,
                    help="write final (vertex_id, rank) parquet here")
    ap.add_argument("--shuffle-mult", type=int, default=1,
                    help="shuffle partitions per core (same rule at every "
                         "cluster size; 1/core measured fastest here — the "
                         "keys are unskewed xxhash64 ids, so extra task "
                         "waves only add scheduling overhead)")
    ap.add_argument("--pin-offset", type=int, default=0,
                    help="first core of this job's pinned block (local "
                         "mode): cores [offset, offset+N).  Lets TWO legs "
                         "run SIMULTANEOUSLY on disjoint blocks — both "
                         "levels then sample the identical host-noise "
                         "window, which a back-to-back pair cannot "
                         "guarantee on a drifting shared host.")
    ap.add_argument("--fixed-partitions", type=int, default=None,
                    help="partition count fixed by DATA size, identical at "
                         "every cluster size (production rule: partitions "
                         "follow the data; executors scale, partitions "
                         "don't — the cluster works through them in waves). "
                         "Overrides --shuffle-mult.  Without it, partitions "
                         "= cores×mult, which changes the map-side "
                         "partial-aggregation compression regime between "
                         "levels: more map partitions emit ~one partial per "
                         "distinct receiver EACH, so shuffle rows grow with "
                         "parallelism (measured 199 MB at 2 parts vs 658 MB "
                         "at 8 on 120 M edges — ~37 extra task-s/step that "
                         "reads as false scaling loss).")
    ap.add_argument("--event-log", default=None,
                    help="directory for the Spark event log (diagnostic "
                         "legs only: per-stage task/GC/shuffle accounting "
                         "via tools/analyze_eventlog.py)")
    ap.add_argument("--algo", choices=["pagerank", "cc_star", "louvain"],
                    default="pagerank",
                    help="cc_star = second-algorithm scaling evidence: "
                         "large-star/small-star connected components to "
                         "fixpoint, metric = whole-run wall (deterministic "
                         "same-work at every level); louvain = third "
                         "datapoint, fixed local-moving rounds "
                         "(--supersteps), same whole-run-wall metric")
    ap.add_argument("--extra-conf", action="append", default=[],
                    help="extra spark conf KEY=VALUE (repeatable; applied "
                         "identically at every level — protocol experiments)")
    args = ap.parse_args()

    from pregel_rs_spark.sources.io import get_spark

    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    # Execution memory OFF-heap in both modes: Tungsten sort/agg/join pages
    # become malloc'd buffers invisible to the GC.  With them on-heap, the
    # old gen churns GB-sized byte[]s per superstep and periodic full GCs
    # stall whole stages (measured: steps swinging 11→72 s at 4 executors;
    # off-heap flattens them to ~8 s).
    common_conf = {
        # shuffle/spill on tmpfs: the VM's virtual disk is slow and noisy;
        # a real cluster node serves these from local NVMe
        "spark.local.dir": "/dev/shm/spark_local",
        "spark.memory.offHeap.enabled": "true",
    }
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        common_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.event_log,
        })
    for kv in args.extra_conf:
        k, _, v = kv.partition("=")
        common_conf[k] = v
    if args.master_mode == "local":
        total_cores = args.units
        common_conf.update({
            "spark.memory.offHeap.size": f"{max(2 * total_cores, 4)}g",
            "spark.driver.extraJavaOptions":
                "-XX:+UseParallelGC "
                f"-XX:ActiveProcessorCount={total_cores}",
        })
        master = None  # get_spark default local[cores]
    else:
        total_cores = args.units * args.cores_per_executor
        common_conf.update({
            # local-cluster[.., .., memMB] sizes the WORKER's allocatable
            # pool only; the executor heap itself comes from this conf
            # (default 1g → GC-overhead death at this scale)
            "spark.executor.memory": f"{args.executor_mem_mb}m",
            "spark.memory.offHeap.size": f"{args.executor_mem_mb}m",
            # batch-throughput GC, pool sizes for the executor's OWN cores
            "spark.executor.extraJavaOptions":
                "-XX:+UseParallelGC "
                f"-XX:ActiveProcessorCount={args.cores_per_executor}",
            # pinned executors on a busy box must not be declared dead
            "spark.network.timeout": "600s",
            "spark.executor.heartbeatInterval": "60s",
        })
        master = (f"local-cluster[{args.units}, "
                  f"{args.cores_per_executor}, {args.executor_mem_mb}]")

    n_part = (args.fixed_partitions if args.fixed_partitions
              else total_cores * args.shuffle_mult)
    spark = get_spark(
        f"scaling-{args.master_mode}-{args.units}",
        cores=total_cores,
        shuffle_partitions=n_part,
        master=master,
        extra_conf=common_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    edges = spark.read.parquet(args.edges_parquet)
    from pregel_rs_spark import GraphFrame

    g = GraphFrame.from_edges(edges)
    # warm: materialize degrees + one full pass so JIT/read are not timed;
    # also guarantees all executors are registered before pinning
    g.vertices.count()
    if args.master_mode == "local":
        # One "cluster size" = a machine with exactly N cores: pin the whole
        # job (python driver + the single JVM, every thread) to cores
        # [offset, offset+N).  Only THIS process's child JVM is pinned so
        # simultaneous legs on disjoint blocks cannot re-pin each other.
        block = list(range(args.pin_offset, args.pin_offset + total_cores))
        own_jvms = _find_pids("org.apache.spark.deploy.SparkSubmit",
                              children_of=os.getpid())
        ok = bool(own_jvms) and all(
            _pin_all_threads(pid, block) for pid in own_jvms
        ) and _pin_all_threads(os.getpid(), block)
        pinned = args.units if ok else 0
    else:
        pinned = _pin_cluster(args.cores_per_executor, args.units,
                              args.pin_offset)
    if pinned != args.units:
        print(f"WARNING: pinned {pinned}/{args.units}", file=sys.stderr)

    store = None
    resumed_from = None
    if args.ckpt_root:
        from pregel_rs_spark.plans.checkpoint import CheckpointStore

        store = CheckpointStore(spark, args.ckpt_root, config_token=CKPT_TOKEN)
        if args.resume:
            latest = store.latest()
            resumed_from = latest[0] if latest else None

    from pregel_rs_spark.algorithms import connected_components, pagerank

    t0 = time.monotonic()
    t_epoch_start = time.time()  # maps this leg onto the ambient-probe trace
    if args.algo == "cc_star":
        # deterministic fixpoint → identical rounds/work at every level;
        # the throughput number is the whole-run wall
        res = connected_components(
            g, method="star", max_iterations=args.supersteps
        )
    elif args.algo == "louvain":
        # fixed deterministic rounds → identical work at every level
        from pregel_rs_spark.algorithms import louvain

        res = louvain(g, rounds=args.supersteps)
    else:
        # tol<=0 → fixed-superstep throughput mode: no convergence
        # tolerance, so the engine skips the per-superstep stats action.
        res = pagerank(
            g,
            tol=(args.tol if args.tol > 0 else None),
            max_iterations=args.supersteps,
            checkpoint_store=store,
            checkpoint_every=args.ckpt_every,
            resume=args.resume,
        )
    if args.ranks_out and args.algo == "pagerank":
        res.select("vertex_id", "rank").write.mode("overwrite").parquet(
            args.ranks_out
        )
    else:
        res.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0

    metrics = getattr(res, "pregel_metrics", [])
    steps = len(metrics)
    loop_s = sum(m.wall_seconds for m in metrics)
    # Median per-step wall is the steady-state number: superstep 1 pays JIT
    # compilation + first-touch of the edge cache (measured ~2x steady), a
    # one-time cost that a real run (hundreds of supersteps to convergence)
    # amortizes to nothing but that a 10-step probe would smear into the
    # mean — and it biases the FAST level more, understating efficiency.
    step_median = (
        round(statistics.median(m.wall_seconds for m in metrics), 3)
        if metrics else None
    )
    converged = None
    if args.tol > 0 and metrics and metrics[-1].delta is not None \
            and metrics[-1].delta <= args.tol:
        converged = metrics[-1].superstep
    print(
        json.dumps(
            {
                "master_mode": args.master_mode,
                "units": args.units,
                "cores": total_cores,
                "units_pinned": pinned,
                "supersteps": steps,
                # wall_s includes one-time prep (degree derivation, edge
                # cache build, superstep-0 init) + the result write;
                # supersteps/hour uses the steady-state per-step median,
                # which is what amortizes at real run lengths.
                "wall_s": round(wall, 2),
                "loop_s": round(loop_s, 2),
                "supersteps_per_hour": round(3600.0 / step_median, 1)
                if step_median else None,
                "sec_per_superstep": round(loop_s / max(steps, 1), 3),
                "sec_per_superstep_median_step": step_median,
                "per_step_walls": [round(m.wall_seconds, 2) for m in metrics],
                "tol_mode": args.tol > 0,
                "converged_at": converged,
                "resumed_from": resumed_from,
                # epoch window of the measured job — lets the campaign
                # wrapper slice the ambient-probe trace per leg
                "t_wall_start": round(t_epoch_start, 2),
                "t_wall_end": round(t_epoch_start + wall, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
