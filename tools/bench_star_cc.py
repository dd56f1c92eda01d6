#!/usr/bin/env python
"""Star connected components on edge sets of different shapes: what a warm
``connected_components(method="star")`` call costs, and how much of each
edge layout a per-partition contraction can drop.

Workloads:
  crawl   the perfbench crawl: synth_pages(10,000, link factor 6, seed 1),
          ~195k edges whose layout partitions are each one dense component
  sparse  a forest-like random graph: 200,000 vertices, 100,000 random
          edges (mean degree 1), so a partition's edges hold no cycles
  pairs   dedup_clusters' LSH pair graph over a documents table (--sf;
          k=5, 4 hashes, 2 bands, bucket cap 50, as the query surface)

Per workload and --partitions value: one GraphFrame, one cold call, two
warm-up calls, then --calls timed warm calls, each result collected.  A
call's CPU is the JVM's plus its Python workers'; shuffle bytes and jobs
come from Spark's status store under one job group per call.  It also
reports the layout's edges and the rows a union-find leaves of them run
per layout partition (``forest_rows_by_partition``) and per core's share
of the layout, its partitions coalesced to one per core
(``forest_rows_by_core``); both are computed on the driver, so they read
the same on any tree.  One JSON line per (workload, partitions).

The script imports the tree it sits in, so running one copy of it per
checkout compares two trees; alternate them on an idle host.

Usage: python tools/bench_star_cc.py [--workloads crawl sparse pairs]
       [--partitions 8 32] [--calls 5] [--sf /path/to/sf0.1] [--cores 4]
"""

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

import probes  # noqa: E402  (perfbench/probes.py)


def crawl_edges(spark, args):
    from pregel_rs_spark.functions.extract import pages_to_edges
    from pregel_rs_spark.sources.synth import synth_pages

    pages = synth_pages(spark, 10_000, seed=1, link_factor=6)
    return pages_to_edges(pages).select("subject", "object").distinct()


def sparse_edges(spark, args):
    from pyspark.sql import functions as F

    n, m = 200_000, 100_000
    return spark.range(m).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n)).alias("subject"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n)).alias("object"),
    ).distinct()


def pair_edges(spark, args):
    from pregel_rs_spark.operators.dedup import lsh_candidate_pairs
    from pregel_rs_spark.sources.io import load_table

    docs = load_table(spark, args.sf, "documents")
    pairs = lsh_candidate_pairs(docs, k=5, num_hashes=4, bands=2, max_bucket=50)
    return pairs.select(
        pairs["doc_a"].alias("subject"), pairs["doc_b"].alias("object")
    )


WORKLOADS = {"crawl": crawl_edges, "sparse": sparse_edges, "pairs": pair_edges}


def forest_rows(pdf) -> int:
    """Σ over the partitions ``p`` of |V_p| − components_p: the edges a
    per-partition union-find keeps (reference union-find, pure Python)."""
    total = 0
    for _, part in pdf.groupby("p"):
        parent = {}

        def find(v):
            parent.setdefault(v, v)
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in zip(part["x"].tolist(), part["c"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
                total += 1
    return total


def measure(spark, jvm_pid, name, edges, partitions, calls):
    from pyspark.sql import functions as F

    from pregel_rs_spark import algorithms
    from pregel_rs_spark.columns import OBJECT, SUBJECT, edge_
    from pregel_rs_spark.graphframe import GraphFrame

    sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    graph = GraphFrame.from_edges(edges)
    layout = graph._edge_layout().select(
        edge_(SUBJECT).alias("x"), edge_(OBJECT).alias("c")
    ).filter(F.col("x") != F.col("c"))
    by_partition = layout.withColumn("p", F.spark_partition_id()).toPandas()
    by_core = layout.coalesce(sc.defaultParallelism).withColumn(
        "p", F.spark_partition_id()
    ).toPandas()

    def call(i):
        group = f"star_cc:{name}:{partitions}:{i}"
        sc.setJobGroup(group, group)
        cpu0 = probes.cpu_sample(jvm_pid)
        t0 = time.monotonic()
        res = algorithms.connected_components(graph, method="star")
        res.select("vertex_id", "component").collect()
        wall = time.monotonic() - t0
        cpu = sum(probes.cpu_between(cpu0, probes.cpu_sample(jvm_pid)))
        counters = probes.spark_counters(sc, group)
        return {
            "wall_s": wall, "cpu_s": cpu, "rounds": res.cc_rounds,
            "shuffle_mb": counters["spark.shuffle_write_bytes"] / 1e6,
            "jobs": counters["spark.jobs"], "tasks": counters["spark.tasks"],
        }

    cold = call("cold")
    for i in range(2):
        call(f"warmup{i}")
    timed = [call(i) for i in range(calls)]
    graph.unpersist()
    return {
        "workload": name,
        "partitions": partitions,
        "layout_edges": len(by_partition),
        "forest_rows_by_partition": forest_rows(by_partition),
        "forest_rows_by_core": forest_rows(by_core),
        "cold_shuffle_mb": round(cold["shuffle_mb"], 3),
        "cold_jobs": cold["jobs"],
        **{
            k: round(statistics.median(t[k] for t in timed), 3)
            for k in ("wall_s", "cpu_s", "shuffle_mb", "jobs", "tasks", "rounds")
        },
        "cpu_s_all": [round(t["cpu_s"], 3) for t in timed],
        "wall_s_all": [round(t["wall_s"], 3) for t in timed],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS),
                    choices=list(WORKLOADS))
    ap.add_argument("--partitions", nargs="+", type=int, default=[8, 32])
    ap.add_argument("--calls", type=int, default=5)
    ap.add_argument("--sf", default=None,
                    help="directory holding documents.parquet (pairs workload)")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    if "pairs" in args.workloads and not args.sf:
        ap.error("the pairs workload needs --sf")

    from pregel_rs_spark.pregel import truncate_plan
    from pregel_rs_spark.sources.io import get_spark

    spark = get_spark("bench_star_cc", cores=args.cores,
                      extra_conf={"spark.driver.memory": "1g"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        for name in args.workloads:
            edges = truncate_plan(WORKLOADS[name](spark, args))
            edges.count()
            for p in args.partitions:
                row = measure(spark, jvm_pid, name, edges, p, args.calls)
                print(json.dumps(row), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
