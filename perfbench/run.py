"""Link-graph benchmark for ``pregel_rs_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload pagerank_web --seed 1 --seconds 12 --trace 0

Each run builds a synthetic crawl from ``--seed`` (``synth_pages`` →
``pages_to_edges`` → ``GraphFrame.from_edges``), runs untimed warm-up passes
of the workload until per-pass CPU settles, then timed passes for
``--seconds`` seconds, all in one ``local[k]`` Spark session (a closed loop:
one pass at a time).  Every pass is checked against a NumPy oracle.  The
last stdout line is one JSON object ``{correct, attempted, failed, metrics}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see ``BENCHMARK.json``).  Lines above it are a human-readable report.

Workloads:
  pagerank_web      ``algorithms.pagerank(tol=1e-6)``, no checkpoint; a
                    traced run ends with durable passes of the same
                    PageRank (``CheckpointStore`` every superstep, then a
                    ``latest()`` read-back) for the checkpoint layer
  components_star   ``algorithms.connected_components(method="star")``
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import oracle
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Crawl size, ~197k edges: set by the run budget, not by likeness to a real
# crawl.  A run takes about 50 s here and 55-70 s at 20k pages, and 48
# runs must end within 3,420 s.  perfbench/README.md compares its profile
# with 20k-100k pages: at 10k a superstep is driver-bound.
PAGES = 10_000
LINK_FACTOR = 6
TOL = 1e-6              # the paper's PageRank convergence target (L∞)
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "1g"
# Driver JVM flags, each for a steadier figure on a small shared host:
# * C1 only: under the default tiered C2 the JIT's CPU per pass was still
#   falling after ten passes, so how many passes a run fitted leaked into
#   the per-pass CPU; with C1 it settles after the second pass.
# * a fixed JIT thread count keeps the per-thread JIT accounting exact.
# * no code-cache flushing, in a cache large enough for a whole run: Spark
#   generates classes every pass, and after about six passes the sweeper
#   began evicting compiled code; the sweeper and the recompiling JIT then
#   added 1-3.5 CPU-s to a 6 CPU-s pass.
# * no perf-data file, which the JVM would write outside the checkout.
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            "-XX:ReservedCodeCacheSize=400m -XX:-UseCodeCacheFlushing")
WARMUP_MIN, WARMUP_MAX = 2, 3
WARMUP_SETTLE = 0.10    # warm-up ends when pass CPU moves less than this
MIN_TIMED = 2           # timed passes per run, at least (4 when traced)
DEADLINE_S = 150.0      # no new pass starts after this much run time

WORKLOADS = ("pagerank_web", "components_star")
DURABLE_PASSES = 3      # checkpoint-layer passes in a traced pagerank_web run

END_TO_END = {
    "setup_s": "s",
    "shuffle_mb": "MB",
}
PER_LAYER = {
    "solve.wall_s": "s",
    "solve.cpu_s": "s",
    "extract.s": "s",
    "extract.cpu_s": "s",
    "extract.edges": "count",
    "graphframe.vertices_s": "s",
    "graphframe.degrees_s": "s",
    "pregel.supersteps": "count",
    "pregel.superstep_s.p50": "s",
    "pregel.superstep_s.max": "s",
    "pregel.first_superstep_s": "s",
    "pregel.run_s": "s",
    "pregel.outside_loop_s": "s",
    "pregel.accounted_frac": "frac",
    "algorithms.rounds": "count",
    "algorithms.jobs_per_round": "count",
    "checkpoint.writes": "count",
    "checkpoint.write_s": "s",
    "checkpoint.bytes": "bytes",
    "checkpoint.tables_left": "count",
    "checkpoint.latest_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_s": "s",
    "spark.busy_frac": "frac",
    "spark.peak_mem_mib": "MiB",
    "jvm.jit_cpu_s": "s",
    "jvm.vmhwm_mib": "MiB",
    "host.steal_frac": "frac",
    "host.busy_frac": "frac",
    "trace.solve_s": "s",
    "trace.overhead_frac": "frac",
    "passes.warmup": "count",
    "passes.timed": "count",
    "passes.failed_frac": "frac",
    "counters.exact": "count",
    "counters.varies": "count",
    "counters.max_spread": "frac",
}
# counters the traced passes compare for exactness
EXACT_CANDIDATES = (
    "spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "pregel.supersteps",
    "algorithms.rounds", "checkpoint.writes", "checkpoint.tables_left",
    "checkpoint.bytes",
)


class CheckFailed(Exception):
    """A pass produced a wrong result."""


@dataclass
class Pass:
    index: int
    kind: str  # "warmup", "timed", or "durable" (checkpoint-layer probe)
    traced: bool
    wall: float = 0.0
    cpu: float = 0.0
    jit: float = 0.0
    steal: float = 0.0
    busy: float = 0.0
    done: bool = False  # the solve returned and was measured
    ok: bool = False    # ... and its result passed the check
    mem: float = 0.0    # peak Spark-managed heap, MiB
    counters: dict = field(default_factory=dict)  # Spark status-store counters
    layer: dict = field(default_factory=dict)


# -- workloads ----------------------------------------------------------------

class Workload:
    """One algorithm call on the shared graph plus its oracle check."""

    def __init__(self, bench: "Bench", ref: oracle.Graph) -> None:
        self.bench = bench
        self.ref = ref
        self.first_steps: int | None = None

    def solve(self, index: int) -> dict:
        raise NotImplementedError

    def inspect(self, out: dict, index: int) -> None:
        """Add what the check needs from outside the result, after timing."""

    def check(self, out: dict) -> None:
        raise NotImplementedError

    def cleanup(self, index: int) -> None:
        pass


class PageRankWeb(Workload):
    def __init__(self, bench: "Bench", ref: oracle.Graph) -> None:
        super().__init__(bench, ref)
        self.ranks, _ = oracle.pagerank(ref)

    def solve(self, index: int) -> dict:
        from pregel_rs_spark import algorithms

        res = algorithms.pagerank(self.bench.graph, tol=TOL, **self.extra(index))
        pdf = res.select("vertex_id", "rank").toPandas()
        return {"pdf": pdf, "records": list(res.pregel_metrics)}

    def extra(self, index: int) -> dict:
        return {}

    def check(self, out: dict) -> None:
        pdf = out["pdf"]
        pos = self.ref.index_of(pdf["vertex_id"].to_numpy())
        ranks = pdf["rank"].to_numpy()
        linf = float(abs(ranks - self.ranks[pos]).max())
        if not linf <= TOL:
            raise CheckFailed(f"PageRank L∞ error {linf:.3e} > {TOL}")
        mass = float(ranks.sum())
        if abs(mass - 1.0) > 1e-9:
            raise CheckFailed(f"PageRank mass {mass!r} != 1 ± 1e-9")
        steps = len(out["records"])
        if self.first_steps is None:
            self.first_steps = steps
        elif steps != self.first_steps:
            raise CheckFailed(f"{steps} supersteps, first pass took {self.first_steps}")


class PageRankDurable(PageRankWeb):
    """The same PageRank with a checkpoint every superstep and a
    ``latest()`` read-back: the checkpoint layer's probe."""

    def __init__(self, web: PageRankWeb) -> None:
        Workload.__init__(self, web.bench, web.ref)
        self.ranks = web.ranks
        self.first_steps = web.first_steps

    def store_root(self, index: int) -> str:
        return os.path.join(self.bench.work, f"checkpoint-{index}")

    def extra(self, index: int) -> dict:
        self._store = timed_store(self.bench.spark, self.store_root(index), self.bench.tracer)
        return {"checkpoint_store": self._store, "checkpoint_every": 1}

    def solve(self, index: int) -> dict:
        out = super().solve(index)
        with self.bench.tracer.span("checkpoint.latest") as sp:
            out["latest_step"], _ = self._store.latest()
        out["latest_s"] = sp.seconds
        return out

    def inspect(self, out: dict, index: int) -> None:
        store, root = self._store, self.store_root(index)
        out.update(
            manifests=store.manifests(),
            writes=store.writes,
            write_s=store.write_s,
            bytes=_tree_bytes(root),
            tables_left=sum(1 for n in os.listdir(root) if n.startswith("state_")),
        )

    def check(self, out: dict) -> None:
        super().check(out)
        n = self.ref.n
        final = out["records"][-1].superstep
        bad = [m["superstep"] for m in out["manifests"] if m["rows"] != n]
        if bad:
            raise CheckFailed(f"manifests of supersteps {bad} do not hold {n} rows")
        if out["latest_step"] != final:
            raise CheckFailed(f"latest() returned superstep {out['latest_step']}, final is {final}")

    def cleanup(self, index: int) -> None:
        shutil.rmtree(self.store_root(index), ignore_errors=True)


class ComponentsStar(Workload):
    def __init__(self, bench: "Bench", ref: oracle.Graph) -> None:
        super().__init__(bench, ref)
        self.components = oracle.min_label_components(ref)

    def solve(self, index: int) -> dict:
        from pregel_rs_spark import algorithms

        res = algorithms.connected_components(self.bench.graph, method="star")
        pdf = res.select("vertex_id", "component").toPandas()
        return {"pdf": pdf, "rounds": res.cc_rounds}

    def check(self, out: dict) -> None:
        pdf = out["pdf"]
        pos = self.ref.index_of(pdf["vertex_id"].to_numpy())
        wrong = int((pdf["component"].to_numpy() != self.components[pos]).sum())
        if wrong:
            raise CheckFailed(f"{wrong} vertices have a wrong component label")


def check_records(layer: dict, wall: float) -> None:
    """The engine clocks each superstep inside ``Pregel.run``; the benchmark
    clocks that call and the whole solve from outside.  So the recorded
    superstep walls must fit in the ``Pregel.run`` span, and that span in
    the solve."""
    if not layer["pregel.supersteps"]:
        return
    recorded = wall - layer["pregel.outside_loop_s"]
    if not recorded <= layer["pregel.run_s"] <= wall:
        raise CheckFailed(
            f"superstep records sum to {recorded:.4f}s, Pregel.run took "
            f"{layer['pregel.run_s']:.4f}s of a {wall:.4f}s solve"
        )


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def timed_store(spark, root: str, tracer: probes.Tracer):
    """A ``CheckpointStore`` whose ``write`` calls are timed as spans."""
    from pregel_rs_spark.plans.checkpoint import CheckpointStore

    class Store(CheckpointStore):
        writes = 0
        write_s = 0.0

        def write(self, superstep, state, metrics=None, final=False):
            with tracer.span("checkpoint.write", step=superstep) as sp:
                super().write(superstep, state, metrics, final)
            self.writes += 1
            self.write_s += sp.seconds

    return Store(spark, root)


WORKLOAD_CLASSES = {
    "pagerank_web": PageRankWeb,
    "components_star": ComponentsStar,
}


# -- the run ------------------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool) -> None:
        self.name = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = probes.Tracer()
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.passes: list[Pass] = []
        self.layer: dict[str, float] = {}
        self.t_start = time.monotonic()

    # set-up ------------------------------------------------------------------
    def setup(self) -> float:
        """Start Spark, build the graph, warm up; returns the set-up seconds
        (the oracle, the benchmark's own work, is left out)."""
        from pregel_rs_spark.functions.extract import pages_to_edges
        from pregel_rs_spark.graphframe import GraphFrame
        from pregel_rs_spark.pregel import truncate_plan
        from pregel_rs_spark.sources.io import get_spark
        from pregel_rs_spark.sources.synth import synth_pages

        t0 = time.monotonic()
        self.spark = get_spark(
            "perfbench",
            cores=CORES,
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"{JVM_OPTS} -Djava.io.tmpdir={self.work}/tmp",
                # how often Spark samples the memory figures whose per-stage
                # peaks spark.peak_mem_mib reads
                "spark.executor.metrics.pollingInterval": "10ms",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid
        self.session_s = time.monotonic() - t0
        cpu0 = probes.cpu_sample(self.jvm_pid)
        with self.tracer.span("extract") as sp:
            pages = synth_pages(self.spark, PAGES, seed=self.seed, link_factor=LINK_FACTOR)
            edges = truncate_plan(
                pages_to_edges(pages).select("subject", "object").distinct()
            )
            n_edges = edges.count()
        self.layer.update({
            "extract.s": sp.seconds,
            "extract.cpu_s": sum(probes.cpu_between(cpu0, probes.cpu_sample(self.jvm_pid))),
            "extract.edges": n_edges,
        })
        self.graph = GraphFrame.from_edges(edges)
        built = time.monotonic() - t0

        edges_pdf = edges.toPandas()
        ref = oracle.Graph(edges_pdf["subject"].to_numpy(), edges_pdf["object"].to_numpy())
        self.workload = WORKLOAD_CLASSES[self.name](self, ref)

        t1 = time.monotonic()
        cpus = []
        while len(cpus) < WARMUP_MAX and len(self.passes) < 2 * WARMUP_MAX:
            p = self.run_pass(self.workload, "warmup")
            if p.done:
                cpus.append(p.cpu)
            if len(cpus) >= WARMUP_MIN and abs(cpus[-1] - cpus[-2]) <= WARMUP_SETTLE * cpus[-2]:
                break
        self.warmup_s = time.monotonic() - t1
        return built + self.warmup_s

    # one pass ----------------------------------------------------------------
    def run_pass(self, workload: Workload, kind: str, traced: bool = False) -> Pass:
        from pregel_rs_spark.pregel import Pregel

        p = Pass(len(self.passes), kind, traced)
        self.passes.append(p)
        group = f"perfbench:{self.name}:{p.index}"
        if traced:
            self.time_graphframe(group, p)
        self.sc.setJobGroup(group, f"perfbench {self.name} {kind} pass {p.index}")
        host0 = probes.host_ticks()
        cpu0 = probes.cpu_sample(self.jvm_pid)
        try:
            t0 = time.monotonic()
            with self.tracer.span("solve", index=p.index, kind=kind, traced=traced) as solve:
                if traced:
                    with probes.method_span(self.tracer, Pregel, "run", "pregel.run"):
                        out = workload.solve(p.index)
                else:
                    out = workload.solve(p.index)
            p.wall = time.monotonic() - t0
            p.cpu, p.jit = probes.cpu_between(cpu0, probes.cpu_sample(self.jvm_pid))
            p.steal, p.busy = probes.host_fracs(host0, probes.host_ticks())
            p.mem = probes.spark_peak_memory_mib(self.sc, group)
            p.counters = probes.spark_counters(self.sc, group)
            workload.inspect(out, p.index)
            if traced:
                p.layer.update(self.layer_metrics(group, p, out, solve))
            p.done = True
            if traced:
                check_records(p.layer, p.wall)
            workload.check(out)
            p.ok = True
        except Exception:  # a failed pass is counted, never fatal
            print(f"pass {p.index} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            workload.cleanup(p.index)
        return p

    def time_graphframe(self, group: str, p: Pass) -> None:
        """Time the graph layer's two relations the solve starts from, under
        a job group of their own so the solve's counters stay clean."""
        self.sc.setJobGroup(group + ":graphframe", "graphframe")
        with self.tracer.span("graphframe.vertices") as v:
            self.graph.vertices.count()
        with self.tracer.span("graphframe.degrees") as d:
            self.graph.out_degrees_full().count()
        p.layer = {"graphframe.vertices_s": v.seconds, "graphframe.degrees_s": d.seconds}

    def layer_metrics(self, group: str, p: Pass, out: dict, solve: probes.Span) -> dict:
        m = dict(p.counters)
        m["spark.busy_frac"] = m["spark.task_s"] / (p.wall * CORES)
        records = out.get("records", [])
        walls = [r.wall_seconds for r in records]
        run_s = sum(s.seconds for s in self.tracer.children(solve, "pregel.run"))
        m.update({
            "pregel.supersteps": len(records),
            "pregel.superstep_s.p50": statistics.median(walls) if walls else 0.0,
            "pregel.superstep_s.max": max(walls, default=0.0),
            "pregel.first_superstep_s": walls[0] if walls else 0.0,
            "pregel.run_s": run_s,
            "pregel.outside_loop_s": p.wall - sum(walls) if records else 0.0,
            "pregel.accounted_frac": sum(walls) / run_s if run_s else 0.0,
            "algorithms.rounds": out.get("rounds", 0),
            "algorithms.jobs_per_round":
                m["spark.jobs"] / out["rounds"] if out.get("rounds") else 0.0,
            "checkpoint.writes": out.get("writes", 0),
            "checkpoint.write_s": out.get("write_s", 0.0),
            "checkpoint.bytes": out.get("bytes", 0),
            "checkpoint.tables_left": out.get("tables_left", 0),
            "checkpoint.latest_s": out.get("latest_s", 0.0),
        })
        return m

    # timed phase -------------------------------------------------------------
    def measure(self) -> None:
        min_timed = 4 if self.traced else MIN_TIMED
        t0 = time.monotonic()
        n = 0
        while n < min_timed or time.monotonic() - t0 < self.seconds:
            if n and time.monotonic() - self.t_start > DEADLINE_S:
                break
            # traced runs alternate traced and untraced passes, so the
            # tracing overhead is measured inside the same run
            self.run_pass(self.workload, "timed", traced=self.traced and n % 2 == 0)
            n += 1
        if self.traced and self.name == "pagerank_web":
            # the checkpoint layer: the same PageRank, durable, after the
            # timed passes (the first of them warms the write path)
            durable = PageRankDurable(self.workload)
            for _ in range(DURABLE_PASSES):
                self.run_pass(durable, "durable", traced=True)

    # results -----------------------------------------------------------------
    def measured(self, kind: str = "timed") -> list[Pass]:
        """The passes of ``kind`` the metrics come from: those whose result
        was correct, or, when none was, every one that was measured (the
        run then reports ``correct: false``)."""
        passes = [p for p in self.passes if p.kind == kind]
        return [p for p in passes if p.ok] or [p for p in passes if p.done]

    def end_to_end(self, setup_s: float) -> dict:
        good = self.measured()
        return {
            "setup_s": setup_s,
            "shuffle_mb": statistics.median(
                p.counters["spark.shuffle_write_bytes"] for p in good) / 1e6,
        }

    def per_layer(self) -> tuple[dict, list[str]]:
        med = probes.median
        timed = [p for p in self.passes if p.kind == "timed"]
        good = self.measured()
        # as measured(): the correct traced passes, else every measured one
        traced = ([p for p in good if p.traced]
                  or [p for p in timed if p.traced and p.done])
        plain = [p for p in good if not p.traced]
        durable = self.measured("durable")[1:]
        m = dict(self.layer)
        for key in PER_LAYER:
            if key not in m:
                src = durable if key.startswith("checkpoint.") else traced
                m[key] = med([p.layer[key] for p in src if key in p.layer])
        trace_solve = min((p.wall for p in traced), default=0.0)
        m.update({
            "solve.wall_s": min((p.wall for p in plain), default=0.0),
            "solve.cpu_s": med([p.cpu for p in plain]),
            "spark.peak_mem_mib": med([p.mem for p in good]),
            "jvm.jit_cpu_s": med([p.jit for p in good]),
            "jvm.vmhwm_mib": probes.vmhwm_mib(self.jvm_pid),
            "host.steal_frac": med([p.steal for p in good]),
            "host.busy_frac": med([p.busy for p in good]),
            "trace.solve_s": trace_solve,
            "trace.overhead_frac":
                trace_solve / min(p.wall for p in plain) - 1.0 if plain and traced else 0.0,
            "passes.warmup": sum(1 for p in self.passes if p.kind == "warmup"),
            "passes.timed": len(timed),
            "passes.failed_frac": sum(1 for p in timed if not p.ok) / len(timed),
        })
        report, spreads = [], []
        for key in EXACT_CANDIDATES:
            src = durable if key.startswith("checkpoint.") else traced
            vals = [p.layer[key] for p in src]
            if len(vals) < 2:
                continue
            mid = statistics.median(vals)
            spread = (max(vals) - min(vals)) / mid if mid else float(max(vals) != min(vals))
            spreads.append(spread)
            state = "exact" if spread == 0 else "varies"
            report.append(f"counter {key:28s} {state:6s} median={mid:g} "
                          f"spread={spread:.4%} n={len(vals)}")
        m["counters.exact"] = sum(1 for s in spreads if s == 0)
        m["counters.varies"] = len(spreads) - m["counters.exact"]
        m["counters.max_spread"] = max(spreads, default=0.0)
        return m, report

    def write_spans(self) -> None:
        path = os.path.join(WORK, f"spans-{self.name}-seed{self.seed}-{os.getpid()}.jsonl")
        with open(path, "w") as f:
            for row in self.tracer.rows():
                f.write(json.dumps(row) + "\n")

    # shutdown ----------------------------------------------------------------
    def shutdown(self) -> None:
        """Stop Spark, the gateway JVM and every process it forked, and wait
        until each has ended; then drop this run's scratch files."""
        from pyspark import SparkContext

        children = probes.descendants_with_start()
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    if gw.proc is not None and gw.proc.stdin is not None:
                        gw.proc.stdin.close()  # the JVM exits on stdin EOF
                        gw.proc.wait(timeout=60)
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        probes.stop_tree(children)
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pregel_rs_spark", "__init__.py")):
        print(f"pregel_rs_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # the Python workers Spark forks import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "local")
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        setup_s = bench.setup()
        bench.measure()
        timed = [p for p in bench.passes if p.kind == "timed"]
        if not any(p.done for p in timed):
            print("no timed pass completed", file=sys.stderr)
            return 1
        report = []
        if args.trace:
            metrics, report = bench.per_layer()
            units = PER_LAYER
            bench.write_spans()
        else:
            metrics, units = bench.end_to_end(setup_s), END_TO_END
    finally:
        bench.shutdown()

    failed = sum(1 for p in bench.passes if not p.ok)
    for p in bench.passes:
        print(f"pass {p.index:2d} {p.kind:7s} traced={int(p.traced)} ok={int(p.ok)} "
              f"wall={p.wall:.3f}s cpu={p.cpu:.3f}s jit={p.jit:.3f}s mem={p.mem:.1f}MiB "
              f"steal={p.steal:.3f} busy={p.busy:.3f}")
    print(f"workload={args.workload} seed={args.seed} pages={PAGES} "
          f"link_factor={LINK_FACTOR} cores={CORES} "
          f"warmup_passes={sum(1 for p in bench.passes if p.kind == 'warmup')} "
          f"timed_passes={len(timed)}")
    print(f"setup: session={bench.session_s:.3f}s extract={bench.layer['extract.s']:.3f}s "
          f"warmup={bench.warmup_s:.3f}s")
    for line in report:
        print(line)
    for key, unit in units.items():
        print(f"metric {key} = {metrics[key]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
