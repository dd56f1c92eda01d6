#!/usr/bin/env python
"""Where shipping Pregel's vertex state stops paying: PageRank to 1e-6 L∞
on synth crawls of growing size, run on each superstep plan.

The "state" plan broadcasts the senders' state into every superstep and
reads an edge layout keyed on the receivers; the "messages" plan exchanges
the messages instead (``Pregel._run_locked``).  Per --pages value and plan:
one Spark session (``local[--cores]``, a --driver-memory driver, as
perfbench's), one crawl (``synth_pages``, link factor 6, seed 1), one
GraphFrame and 1 + --calls PageRank calls.  "messages" sets
``pregel._MAX_SHIPPED_STATE`` to -1; "state" lifts it past any state, so
the first call (the message plan, as any graph's first run) asks for the
``object`` layout, the second builds it and ships the state, and later
ones are warm.  Per call: wall seconds, task seconds, jobs, tasks and
shuffle write bytes from Spark's status store under one job group, the
peak of Spark's unified memory (perfbench's ``spark.peak_mem_mib``), the
supersteps, the plan and state size the run recorded, and the data size of
every broadcast relation the supersteps built (the ``dataSize`` metric of
each ``BroadcastExchange`` in the executed superstep plans, read raw).
Per session: the JVM's peak resident set (``VmHWM``).  One JSON line per
(pages, plan).  A call that fails (e.g. a broadcast the driver has no
memory for) is recorded with the JVM's error, and the session stops there.

Sessions run one after the other; run nothing else on the host.

Usage: python tools/bench_state_plan.py [--pages 10000 100000 300000 600000]
       [--plans messages state] [--calls 3] [--cores 4] [--driver-memory 1g]
"""

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)


def broadcast_sizes(plan) -> list[int]:
    """The ``dataSize`` metric of every ``BroadcastExchange`` in an executed
    (JVM) plan, in bytes."""
    sizes, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "BroadcastExchange":
            sizes.append(int(node.metrics().apply("dataSize").value()))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return sizes


def session(pages: int, plan: str, args) -> dict:
    import probes  # perfbench/probes.py

    from pregel_rs_spark import algorithms
    from pregel_rs_spark import pregel as pregel_mod
    from pregel_rs_spark.functions.extract import pages_to_edges
    from pregel_rs_spark.graphframe import GraphFrame
    from pregel_rs_spark.sources.io import get_spark
    from pregel_rs_spark.sources.synth import synth_pages

    spark = get_spark(
        "bench-state-plan",
        cores=args.cores,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            "spark.executor.metrics.pollingInterval": "10ms",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    built: list[int] = []
    real = pregel_mod.truncate_plan

    def recording(df, *a, **kw):
        out = real(df, *a, **kw)
        built.extend(broadcast_sizes(df._jdf.queryExecution().executedPlan()))
        return out

    pregel_mod.truncate_plan = recording
    pregel_mod._MAX_SHIPPED_STATE = -1 if plan == "messages" else 1 << 62
    edges = pregel_mod.truncate_plan(
        pages_to_edges(synth_pages(spark, pages, seed=1, link_factor=6))
        .select("subject", "object").distinct()
    )
    graph = GraphFrame.from_edges(edges)
    out = {"pages": pages, "plan": plan, "edges": edges.count(),
           "cores": args.cores, "driver_memory": args.driver_memory}
    for i in range(1 + args.calls):
        call = "first" if i == 0 else f"warm{i}"
        group = f"state-plan-{call}"
        built.clear()
        sc.setJobGroup(group, group)
        t0 = time.monotonic()
        try:
            res = algorithms.pagerank(graph, tol=1e-6)
            res.write.format("noop").mode("overwrite").save()
            error = None
        except Exception as e:  # noqa: BLE001 — a failed call is a data point
            # a Py4JJavaError's own text omits the JVM's
            res, error = None, str(getattr(e, "java_exception", e))[:300]
        wall = time.monotonic() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        c = probes.spark_counters(sc, group)
        metrics = res.pregel_metrics if res is not None else []
        out[call] = {
            "wall_s": round(wall, 3),
            "task_s": c["spark.task_s"],
            "jobs": c["spark.jobs"],
            "tasks": c["spark.tasks"],
            "shuffle_write_bytes": c["spark.shuffle_write_bytes"],
            "peak_mem_mib": round(probes.spark_peak_memory_mib(sc, group), 1),
            "supersteps": len(metrics),
            "plans": sorted({m.plan for m in metrics}),
            "state_bytes": metrics[0].state_bytes if metrics else None,
            "broadcast_bytes": list(built),
            "error": error,
        }
        if error:
            break
    with open(f"/proc/{sc._gateway.proc.pid}/status") as f:
        out["jvm_vmhwm_mib"] = next(
            int(line.split()[1]) // 1024 for line in f if line.startswith("VmHWM")
        )
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, nargs="+",
                    default=[10_000, 100_000, 300_000, 600_000])
    ap.add_argument("--plans", nargs="+", default=["messages", "state"],
                    choices=["messages", "state"])
    ap.add_argument("--calls", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--driver-memory", default="1g")
    ap.add_argument("--one", nargs=2, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:  # a child: one session
        print(json.dumps(session(int(args.one[0]), args.one[1], args)), flush=True)
        return
    for pages in args.pages:
        for plan in args.plans:
            # a process per session: a JVM's peak memory is its own
            cmd = [sys.executable, os.path.abspath(__file__), "--one", str(pages), plan,
                   "--calls", str(args.calls), "--cores", str(args.cores),
                   "--driver-memory", args.driver_memory]
            run = subprocess.run(cmd, capture_output=True, text=True)
            lines = [ln for ln in run.stdout.splitlines() if ln.startswith("{")]
            print(lines[-1] if lines else json.dumps(
                {"pages": pages, "plan": plan, "exit": run.returncode,
                 "stderr": run.stderr[-500:]}), flush=True)


if __name__ == "__main__":
    main()
