#!/usr/bin/env python
"""ANN scale-path evidence: IVF-flat vs exact brute force at corpus sizes
where the difference matters (default 200k × dim-64; the sf0.1 test table
is only 5k vectors, too small to separate the paths).

Corpus: deterministic clustered vectors — 64 latent centers, vector v
belongs to center ``v % 64`` with a small deterministic perturbation
(pure Catalyst ``transform`` over ``sequence``, no Python row loop, no
RNG) — so IVF's cell structure has something real to find and recall is
meaningful, while everything stays reproducible bit-for-bit.

Measures:
  * exact brute-force top-k (Arrow matmul path) — ground truth + its cost;
  * IVF index build (write-time cell assignment over the corpus);
  * IVF query at several nprobe settings — cost + recall@k vs the truth.

Reads as: the query-side saving is ~nprobe/n_cells of the brute-force
scan; the build cost is paid once at ingest (same amortization argument
as the bucketed edge store).

Usage:
  PYTHONPATH=. python tools/bench_ann.py [--n 200000] [--dim 64]
      [--cells 64] [--queries 30] [--k 10] [--nprobe 4,16]
      [--out /tmp/bench_ann.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def synth_embeddings(spark, n: int, dim: int, centers: int):
    """Clustered deterministic vectors: center c = vec_id % centers;
    emb[d] = cos(0.7·(31c + d)) + 0.1·sin(13.7·vec_id + d)."""
    c = F.col("vec_id") % centers
    d = F.col("d")
    return (
        spark.range(n).withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: (
                    F.cos((c.cast("double") * 31 + d) * 0.7)
                    + F.sin(F.col("vec_id").cast("double") * 13.7 + d) * 0.1
                ).cast("float"),
            ).alias("embedding"),
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--queries", type=int, default=30)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--nprobe", default="4,16")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--out", default="/tmp/bench_ann.json")
    args = ap.parse_args()

    from pregel_rs_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivf_centroids,
        ivf_topk,
    )
    from pregel_rs_spark.sources.io import get_spark

    spark = get_spark("bench-ann", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    emb = synth_embeddings(spark, args.n, args.dim, args.cells)
    emb = emb.repartition(args.cores).persist()
    emb.count()  # materialize: neither path gets charged generation
    qs = emb.filter(F.col("vec_id") < args.queries)

    result: dict = {"n": args.n, "dim": args.dim, "cells": args.cells,
                    "queries": args.queries, "k": args.k,
                    "cores": args.cores}

    t0 = time.monotonic()
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk_arrow(emb, qs, k=args.k).collect()
    }
    result["brute_arrow_s"] = round(time.monotonic() - t0, 2)

    # index build = centroid table + write-time cell assignment; measured
    # separately because it is the once-per-ingest cost
    from pregel_rs_spark.operators.similarity import _nearest_cells

    t0 = time.monotonic()
    cents = ivf_centroids(emb, args.cells).persist()
    assigned = _nearest_cells(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ce")),
        cents, "neighbor_id", "ce", 1,
    ).repartition(args.cores, "cell_id").persist()
    cents.count(), assigned.count()
    result["ivf_build_s"] = round(time.monotonic() - t0, 2)

    for nprobe in [int(x) for x in args.nprobe.split(",")]:
        for rerank in ("catalyst", "arrow"):
            t0 = time.monotonic()
            got = {
                (r.query_id, r.neighbor_id)
                for r in ivf_topk(emb, qs, k=args.k, n_cells=args.cells,
                                  nprobe=nprobe, rerank=rerank,
                                  index=(cents, assigned)).collect()
            }
            result[f"ivf_nprobe{nprobe}_{rerank}"] = {
                "wall_s": round(time.monotonic() - t0, 2),
                "recall_at_k": round(len(got & truth) / len(truth), 4),
            }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
