#!/usr/bin/env python
"""Materialize the expected WARC-roundtrip record table WITHOUT Spark.

The driver's ``warc_roundtrip`` query writes the synth corpus to real
.warc files with the distributed sink and reads it back with the
distributed source; the invariant is that what comes back IS the corpus.
The expected table is therefore derivable purely from ``gen_page``:

    (target_uri, http_status=200, n_bytes=len(html), payload_sha=sha256)

written to tests/data/warc_records_n{N}_seed{S}.parquet for the DuckDB
oracle.  tests/test_warc.py additionally asserts the parser inverts the
builder byte-for-byte (framing guard) and regeneration equality (drift
guard).

Usage: python tools/gen_warc_oracle.py [n=1000] [seed=42]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from pregel_rs_spark.sources.synth import gen_page

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")


def expected_records(n: int, seed: int = 42) -> list[dict]:
    out = []
    for i in range(n):
        p = gen_page(i, n, seed)
        out.append(
            {
                "target_uri": p["url"],
                "http_status": 200,
                "n_bytes": len(p["html"]),
                "payload_sha": hashlib.sha256(p["html"]).hexdigest(),
            }
        )
    return out


def main(n: int = 1000, seed: int = 42) -> str:
    rows = expected_records(n, seed)
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"warc_records_n{n}_seed{seed}.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    print(f"{path}: {len(rows)} rows")
    return path


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 1000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 42,
    )
