"""Write-once bucketed edge layout + shuffle-free PageRank startup.

The 100 TB workflow this demonstrates: an ingestion job buckets the edge
table by ``subject`` ONCE (``sources/bucketed.py``); every later analytics
job — degrees, rollups, each PageRank (re)start or checkpoint resume —
reads the bucketed scan and never shuffles the edge table again (with
one bucket per shuffle partition the graph's edge layout keeps the scan's
bucketing, so its build and the degree aggregation plan with zero
Exchange).

Run locally:      python examples/bucketed_pagerank.py
Run on a cluster: ./examples/submit.sh examples/bucketed_pagerank.py
(on a cluster the table lives in the metastore / Iceberg catalog instead
of a local warehouse path, and buckets ≈ edge bytes / 256 MB)
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame
from pregel_rs_spark.algorithms import pagerank
from pregel_rs_spark.functions.extract import pages_to_edges
from pregel_rs_spark.sources.bucketed import read_bucketed, write_bucketed_edges
from pregel_rs_spark.sources.io import get_spark
from pregel_rs_spark.sources.synth import synth_pages


def main() -> None:
    spark = get_spark("example-bucketed-pagerank")
    spark.sparkContext.setLogLevel("ERROR")
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # --- ingestion job (runs once per crawl snapshot) --------------------
    pages = synth_pages(spark, 20_000, seed=7)
    edges = pages_to_edges(pages)
    with tempfile.TemporaryDirectory() as tmp:
        write_bucketed_edges(
            edges, "cc_edges", buckets=buckets,
            path=os.path.join(tmp, "cc_edges"),
        )

        # --- any later analytics job ------------------------------------
        be = read_bucketed(spark, "cc_edges")

        deg = be.groupBy("subject").agg(F.count(F.lit(1)).alias("out_degree"))
        print("degree agg plans with Exchange?",
              "Exchange" in spark._jvm.PythonSQLUtils.explainString(
                  deg._jdf.queryExecution(), "formatted"))

        ranks = pagerank(GraphFrame.from_edges(be), tol=1e-6, max_iterations=20)
        ranks.orderBy(F.desc("rank")).select("vertex_id", "rank").show(10)
        spark.sql("DROP TABLE IF EXISTS cc_edges")
    spark.stop()


if __name__ == "__main__":
    main()
