"""pregel_rs_spark — a from-scratch PySpark-native Pregel/BSP link-graph
analytics engine with the query and data-processing capabilities of
weso/pregel-rs (reference at /root/reference, cited per-module), rebuilt
Spark-first: DataFrame/Catalyst plans, vectorized pandas/Arrow UDFs at the
web-text extraction boundary, per-superstep lineage truncation, message
combining once per core for hub skew, and checkpoint/resume.

Public surface:
    GraphFrame            — vertices/edges data model (graph_frame.rs parity)
    Pregel, PregelBuilder — BSP superstep engine (pregel.rs parity)
    Column helpers        — subject()/object_()/edge_()/msg() naming scheme
    algorithms            — pagerank (optionally edge-weighted),
                            connected_components (min-label / star),
                            label_propagation, triangle_count, max_value,
                            hits, personalized_pagerank, sssp,
                            strongly_connected_components, k_core,
                            random_walks, neighborhood_sizes,
                            hyperball (+ hyperball_registers)
    functions.extract     — HTML → text / links (pandas UDFs)
    sources.synth         — deterministic Common-Crawl-style pages generator
    plans.checkpoint      — CheckpointStore with resume + lineage manifests
    operators             — dedup / similarity / text-analysis / multimodal /
                            event analytics (sessionize, rollups, JSON)
    streaming             — pages file-stream → incremental edge table
"""

from pregel_rs_spark.columns import (
    VERTEX_ID,
    SUBJECT,
    OBJECT,
    EDGE,
    MSG,
    PREGEL_MSG,
    subject,
    object_,
    edge_,
    msg,
)
from pregel_rs_spark.graphframe import GraphFrame, MissingColumnError
from pregel_rs_spark.pregel import (
    MessageReceiver,
    Pregel,
    PregelBuilder,
    StateColumn,
)

__all__ = [
    "GraphFrame",
    "MissingColumnError",
    "Pregel",
    "PregelBuilder",
    "MessageReceiver",
    "StateColumn",
    "VERTEX_ID",
    "SUBJECT",
    "OBJECT",
    "EDGE",
    "MSG",
    "PREGEL_MSG",
    "subject",
    "object_",
    "edge_",
    "msg",
]

__version__ = "0.1.0"
