"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries()[k] and oracle_sql()[k] side by side at sf0.01,
compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [only...]

Runs ``local[$SPARK_GRAFT_CPUS]`` (default 8) at ``max(cores, 8)`` shuffle
partitions, as the test suite does.

Checks the code of the checkout this script sits in.
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from pregel_rs_spark.sources.io import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    failures = []
    timings = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(canon(r[c]) for c in scols) for r in sdf.collect()
            )
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows={len(srows)})")
            continue
        try:
            ddf = con.execute(os_[name]).fetch_df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failures.append(name)
            continue
        dcols = sorted(ddf.columns)
        drows = sorted(
            tuple(canon(v) for v in row)
            for row in ddf[dcols].itertuples(index=False, name=None)
        )
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} != {dcols}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rows {len(srows)} != {len(drows)}")
            print("  spark sample:", srows[:3])
            print("  duck  sample:", drows[:3])
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(srows)} value mismatches")
            for a, b in bad[:3]:
                print("   spark:", a)
                print("   duck :", b)
            failures.append(name)
        else:
            dt = time.monotonic() - t0
            timings.append((dt, name))
            print(f"OK   {name}: {len(srows)} rows  [{dt:.1f}s]", flush=True)
    print()
    print("slowest:")
    for dt, name in sorted(timings, reverse=True)[:15]:
        print(f"  {dt:7.1f}s  {name}")
    print(f"total spark+oracle wall: {sum(t for t, _ in timings):.1f}s")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
