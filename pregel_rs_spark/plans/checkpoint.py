"""CheckpointStore — durable superstep state with lineage + resume.

North rule: "Supersteps checkpoint vertex state to Iceberg with per-partition
lineage and message-count metrics so runs resume mid-iteration."

Implementation: state tables go through :class:`pregel_rs_spark.sources.io.
TableStore` (Iceberg ``writeTo(...).createOrReplace()`` when the runtime jar
is on the classpath; atomic write-tmp-then-rename parquet directories in this
sandbox — same call sites, all-or-nothing either way).  Each write also lands
a JSON manifest recording:

  * superstep number and wall-clock timestamp,
  * total rows + per-partition row counts (the "per-partition lineage" —
    which partition of the state table holds how many vertices, so a resumed
    run can validate completeness before continuing),
  * engine metrics for the superstep (delta / changed / messages),
  * a config hash so a resume against a *different* program is refused.

``latest()`` returns the newest complete checkpoint; ``Pregel.run(resume=
True)`` continues the loop from there (validated by the resume-equivalence
test in tests/test_checkpoint.py).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_rs_spark.sources.io import TableStore


class CheckpointStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: Optional[str] = None,
        config_token: str = "",
    ) -> None:
        self.spark = spark
        self.tables = TableStore(spark, root, catalog)
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.config_hash = hashlib.sha256(config_token.encode()).hexdigest()[:16]

    # -- manifest helpers ------------------------------------------------------

    def _manifest_path(self, superstep: int) -> str:
        return os.path.join(self.root, f"manifest_{superstep:05d}.json")

    def _write_manifest(self, superstep: int, payload: dict) -> None:
        tmp = self._manifest_path(superstep) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.rename(tmp, self._manifest_path(superstep))  # atomic

    def manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("manifest_") and name.endswith(".json"):
                with open(os.path.join(self.root, name)) as f:
                    out.append(json.load(f))
        return out

    # -- write / read ----------------------------------------------------------

    def write(
        self, superstep: int, state: DataFrame, metrics=None, final: bool = False
    ) -> None:
        table = f"state_{superstep:05d}"
        self.tables.write(table, state)
        # per-partition lineage of the *written* table (what resume will read)
        written = self.tables.read(table)
        lineage_rows = (
            written.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        per_partition = sorted((r.pid, r.rows) for r in lineage_rows)
        payload = {
            "superstep": superstep,
            "wall_time": time.time(),
            "table": table,
            "rows": sum(r for _, r in per_partition),
            "partitions": [{"pid": p, "rows": r} for p, r in per_partition],
            "config_hash": self.config_hash,
            "final": final,
            "metrics": dataclasses.asdict(metrics) if metrics is not None else None,
            "columns": state.columns,
        }
        self._write_manifest(superstep, payload)

    def _mark_final(self, superstep: int) -> None:
        """Re-publish an already-written superstep's manifest as the run's
        final checkpoint — the state table is not rewritten."""
        with open(self._manifest_path(superstep)) as f:
            payload = json.load(f)
        payload["final"] = True
        self._write_manifest(superstep, payload)

    def latest(self) -> Optional[tuple[int, DataFrame]]:
        """Newest complete checkpoint as (superstep, state DataFrame);
        validates config hash and row counts against the manifest."""
        ms = self.manifests()
        if not ms:
            return None
        m = ms[-1]
        if m["config_hash"] != self.config_hash:
            raise ValueError(
                "checkpoint was written by a different Pregel config "
                f"({m['config_hash']} != {self.config_hash}); refusing resume"
            )
        df = self.tables.read(m["table"])
        n = df.count()
        if n != m["rows"]:
            raise ValueError(
                f"checkpoint {m['table']} incomplete: {n} rows, "
                f"manifest says {m['rows']}"
            )
        return m["superstep"], df
