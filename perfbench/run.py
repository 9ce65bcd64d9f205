"""Link-graph benchmark: one workload, one seed, every metric by name.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 1 --trace 0

Run from the repository root.  Set-up 0 starts the JVM and generates
the inputs from the seed; one untimed warm-up pass over the timed ops
(``ingest``, ``pagerank``) fills the JIT and codegen caches; set-ups 1
and 2 start fresh sessions with fresh inputs (``setup_s`` is the median
of the three); then timed passes on set-up 2's input repeat until
``--seconds`` have passed, and each op's median is reported.  A pass
takes longer than a second, so ``--seconds 1`` times one pass.  Each
result is forced by one checksum aggregate and checked against the
numpy oracle after the timer stops.

``--trace 1`` then sets up once more in a session with the Spark event
log on and makes one traced pass: spans around every layer call, the
workload's traced-only ops, single-layer probes, Spark counters per
span from the event log, and the tracing overhead (traced minus
untraced value of each end-to-end metric).  The last stdout line is the
result object; the line before it is a report with every sample,
failure and span.

All files a run writes live under ``.perfbench_tmp/`` in the working
directory and are removed when it ends; the Spark JVM is stopped and
waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEMORY = "2g"

# (name, unit, better, bound) — BENCHMARK.json's end_to_end list
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ingest_s", "s", "lower", 0.24),
    ("pagerank_s", "s", "lower", 0.24),
    ("pagerank_eps", "edges/s", "higher", 0.24),
    ("peak_rss_mb", "MiB", "lower", 0.1),
]
# spans whose Spark jobs are attributed to them through the job group
SPARK_SPANS = ("ingest", "pagerank", "wcc", "cdlp", "triangles", "checkpoint_run", "resume")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "busy_frac", "failed_tasks")
_COUNTER_UNIT = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MiB",
                 "shuffle_read_mb": "MiB", "spill_mb": "MiB", "busy_frac": "ratio"}

# (name, unit, better) — BENCHMARK.json's per_layer list
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("sources.write_pages_s", "s", "lower"),
    ("sources.extract_s", "s", "lower"),
    ("sources.links", "count", "higher"),
    ("sources.pages_per_s", "pages/s", "higher"),
    ("graph.vertex_ids_s", "s", "lower"),
    ("graph.edge_cut_s", "s", "lower"),
    ("graph.vertices", "count", "higher"),
    ("graph.edges", "count", "higher"),
    ("graph.sym_edges", "count", "higher"),
    ("graph.max_in_degree", "count", "lower"),
    ("graph.cut_frac", "ratio", "lower"),
    ("graph.part_skew", "ratio", "lower"),
    ("skew.adjacency", "flag", "higher"),
    ("skew.packed_s", "s", "lower"),
    ("skew.adj_rows", "count", "lower"),
    ("skew.hub_rows", "count", "lower"),
    ("superstep.iterations", "count", "lower"),
    ("superstep.sync_points", "count", "lower"),
    ("superstep.iter_p50_s", "s", "lower"),
    ("superstep.iter_max_s", "s", "lower"),
    ("superstep.checkpoint_run_s", "s", "lower"),
    ("superstep.resume_s", "s", "lower"),
    ("superstep.checkpoint_bytes", "B", "lower"),
    ("superstep.lineage_rows", "count", "lower"),
    ("superstep.resume_from", "count", "higher"),
    ("pagerank.supersteps", "count", "lower"),
    ("wcc.local_finish", "flag", "higher"),
    ("wcc.time_s", "s", "lower"),
    ("wcc.components", "count", "higher"),
    ("cdlp.time_s", "s", "lower"),
    ("cdlp.communities", "count", "higher"),
    ("triangles.time_s", "s", "lower"),
    ("triangles.total", "count", "higher"),
] + [
    (f"spark.{op}.{c}", _COUNTER_UNIT.get(c, "count"),
     "higher" if c == "busy_frac" else "lower")
    for op in SPARK_SPANS for c in SPARK_COUNTERS
] + [(f"trace_overhead.{n}", u, "lower") for n, u, _, _ in END_TO_END]


def log(*parts) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}]", *parts, file=sys.stderr, flush=True)


class Ledger:
    """Attempted and failed ops; an op fails if it raises or its output
    disagrees with the oracle."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def run(self, name: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # every failure is counted and reported
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return False

    @property
    def error_rate(self) -> float:
        return len(self.failures) / self.attempted if self.attempted else 0.0


class Bench:
    def __init__(self, spec, seed: int, cores: int, root: str) -> None:
        self.spec, self.seed, self.cores, self.root = spec, seed, cores, root
        self.parts = cores
        self.spark = None
        self.ledger = Ledger()
        self.expected = None
        self.event_log = os.path.join(root, "events")

    # -- session ------------------------------------------------------
    def start(self, event_log: str | None = None):
        from graphscope_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # python workers import the engine; the repo root is not
            # their working directory when run from elsewhere
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.local.dir": os.path.join(self.root, "local"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m -Djava.io.tmpdir={os.path.join(self.root, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.dir": event_log, "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.parts, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_hwm_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def setup(self, tag: str, span=None, event_log: str | None = None):
        """Fresh session + inputs from the seed; returns (inputs, seconds, session seconds)."""
        from workloads import make_inputs

        span = span or (lambda name: nullcontext())
        self.stop_session()
        t0 = time.perf_counter()
        with span("session.start"):
            self.start(event_log)
        t1 = time.perf_counter()
        gen = "sources.write_pages" if self.spec.source == "pages" else "synthetic.edges"
        with span(gen):
            inputs = make_inputs(self.spark, self.spec, self.seed, self.parts,
                                 os.path.join(self.root, f"pages_{tag}"))
        t2 = time.perf_counter()
        log("setup", tag, round(t2 - t0, 3), "session", round(t1 - t0, 3))
        return inputs, t2 - t0, t1 - t0

    # -- passes -------------------------------------------------------
    def run_ops(self, run, ops, tracer=None) -> dict[str, float]:
        """Run ``ops`` in order; returns each successful op's seconds.  An
        op's oracle check runs after its timer stops."""
        span = self._span(tracer) if tracer else (lambda name: nullcontext())
        times: dict[str, float] = {}
        for op in ops:
            def timed(op=op):
                with span(op):
                    t0 = time.perf_counter()
                    check = getattr(run, op)(span)
                    times[op] = time.perf_counter() - t0
                check()

            if not self.ledger.run(op, timed):
                times.pop(op, None)
        log("ops", {k: round(v, 3) for k, v in times.items()})
        return times

    def _span(self, tracer):
        """Tracer span that also names the Spark job group after it."""
        sc = self.spark.sparkContext

        @contextmanager
        def span(name):
            with tracer.span(name):
                if name not in SPARK_SPANS:
                    yield
                    return
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setLocalProperty("spark.jobGroup.id", name)
                try:
                    yield
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", prev)

        return span

    def measure(self, seconds: float) -> dict:
        from workloads import TIMED_OPS, expected_for

        # set-up 0 starts the JVM; a warm-up pass on its input fills the
        # JIT and codegen caches.  Set-ups 1 and 2 are warm, and the
        # timed passes read set-up 2's input, which no pass has read yet.
        inputs, s, ss = self.setup("0")
        setups, sessions = [s], [ss]
        self.expected = expected_for(inputs, self.spec)
        log("oracle input", self.expected.n, "vertices", self.expected.src.size, "edges")
        _, run = self.timed_pass(inputs)  # warm-up; its outputs are checked too
        run.release()
        for i in (1, 2):
            shutil.rmtree(os.path.join(self.root, f"pages_{i - 1}"), ignore_errors=True)
            inputs, s, ss = self.setup(str(i))
            setups.append(s)
            sessions.append(ss)
        samples: dict[str, list[float]] = {op: [] for op in TIMED_OPS}
        eps = []
        t0 = time.perf_counter()
        while not samples["ingest"] or time.perf_counter() - t0 < seconds:
            times, run = self.timed_pass(inputs)
            run.release()
            for op, t in times.items():
                samples[op].append(t)
            if "pagerank" in times:
                eps.append(run.info["edges"] * run.info["pagerank_steps"] / times["pagerank"])
            if len(times) < len(TIMED_OPS):
                break
        metrics = {"setup_s": statistics.median(setups)}
        for op in TIMED_OPS:
            metrics[f"{op}_s"] = statistics.median(samples[op]) if samples[op] else 0.0
        metrics["pagerank_eps"] = statistics.median(eps) if eps else 0.0
        metrics["peak_rss_mb"] = self.jvm_hwm_mb()
        return {"metrics": metrics, "samples": samples, "setups": setups,
                "sessions": sessions, "eps": eps, "inputs": inputs}

    def timed_pass(self, inputs, tracer=None):
        from workloads import TIMED_OPS, Run

        run = Run(self.spark, self.spec, inputs, self.expected, self.parts,
                  os.path.join(self.root, "ckpt"))
        return self.run_ops(run, TIMED_OPS, tracer), run

    def e2e_of(self, times: dict, run, setup_s: float) -> dict:
        """End-to-end values of one pass."""
        from workloads import TIMED_OPS

        m = {f"{op}_s": times.get(op, 0.0) for op in TIMED_OPS}
        m["setup_s"] = setup_s
        m["pagerank_eps"] = (run.info["edges"] * run.info["pagerank_steps"] / times["pagerank"]
                             if "pagerank" in times else 0.0)
        m["peak_rss_mb"] = self.jvm_hwm_mb()
        return m

    def traced(self, measured: dict) -> tuple[dict, list]:
        """One more set-up, in a session with the event log on, then the
        traced pass on its fresh input: the timed ops (compared with the
        measured pass for the tracing overhead), the workload's
        traced-only ops and the single-layer probes."""
        from eventlog import busy_frac, read_events, span_counters
        from tracing import Tracer

        untraced = measured["metrics"]
        tracer = Tracer(run_id=f"{self.spec.name}-{self.seed}-{os.getpid()}")
        with tracer.span("run"):
            with tracer.span("setup"):
                inputs, setup_s, _ = self.setup("traced", tracer.span, self.event_log)
            with tracer.span("pass"):
                times, run = self.timed_pass(inputs, tracer)
                traced = self.e2e_of(times, run, setup_s)
                times.update(self.run_ops(run, self.spec.traced_ops, tracer))
            layer = self._layer_probes(run, inputs, tracer)
            run.release()
        self.stop_session()  # flushes the event log
        counters = span_counters(read_events(self.event_log), list(SPARK_SPANS))

        m = {name: 0.0 for name, _, _ in PER_LAYER}
        m.update(layer)
        m["session.start_s"] = tracer.seconds("session.start")
        if self.spec.source == "pages":
            m["sources.write_pages_s"] = tracer.seconds("sources.write_pages")
            m["sources.pages_per_s"] = self.spec.size / m["sources.write_pages_s"]
        m["graph.vertex_ids_s"] = tracer.seconds("graph.vertex_ids")
        m["graph.edge_cut_s"] = tracer.seconds("graph.edge_cut")
        m["superstep.checkpoint_run_s"] = times.get("checkpoint_run", 0.0)
        m["superstep.resume_s"] = times.get("resume", 0.0)
        m["wcc.time_s"] = times.get("wcc", 0.0)
        m["cdlp.time_s"] = times.get("cdlp", 0.0)
        m["triangles.time_s"] = times.get("triangles", 0.0)
        for name in SPARK_SPANS:
            c = counters[name]
            c["busy_frac"] = busy_frac(c["task_s"], tracer.seconds(name), self.cores)
            for k in SPARK_COUNTERS:
                m[f"spark.{name}.{k}"] = c[k]
        for name, _, _, _ in END_TO_END:
            m[f"trace_overhead.{name}"] = traced[name] - untraced[name]
        return m, tracer.export()

    def _layer_probes(self, run, inputs, tracer) -> dict:
        """Per-layer counts from the traced pass, plus probes of single
        layer calls made after it."""
        from pyspark.sql import functions as F

        from graphscope_spark.graph import partition_report
        from graphscope_spark.skew import packed_adjacency

        info, g = run.info, run.g
        m: dict[str, float] = {}
        pr = info.get("pagerank_runner")
        if pr is not None and pr.metrics:
            secs = [r["seconds"] for r in pr.metrics]
            m.update({
                "superstep.iterations": len(pr.metrics),
                "superstep.sync_points": sum(1 for r in pr.metrics if not r.get("chained")),
                "superstep.iter_p50_s": statistics.median(secs),
                "superstep.iter_max_s": max(secs),
                "pagerank.supersteps": len(pr.metrics),
            })
        ck, rs = info.get("ckpt_runner"), info.get("resume_runner")
        m["superstep.checkpoint_bytes"] = info.get("checkpoint_bytes", 0)
        if ck is not None:
            m["superstep.lineage_rows"] = sum(
                p["rows"] for r in ck.metrics + rs.metrics for p in r["partitions"])
        if rs is not None and rs.metrics:
            m["superstep.resume_from"] = rs.metrics[0]["iteration"]
        exp = self.expected
        m["wcc.local_finish"] = info.get("wcc_local_finish", 0)
        m["wcc.components"] = len(set(exp.wcc().tolist()))
        if "cdlp" in self.spec.traced_ops:
            m["cdlp.communities"] = len(set(exp.cdlp().tolist()))
        if "triangles" in self.spec.traced_ops:
            m["triangles.total"] = int(exp.triangles().sum()) // 3
        if g is None:
            return m
        if inputs.pages_path is not None:
            from graphscope_spark.sources.extract import links_from_pages

            with tracer.span("sources.extract"):
                links = links_from_pages(self.spark.read.parquet(inputs.pages_path)).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("src_url") + F.length("dst_url")).alias("chars"),
                ).collect()[0]
            m["sources.extract_s"] = tracer.seconds("sources.extract")
            m["sources.links"] = links["n"]
        with tracer.span("graph.report"):
            rep = partition_report(g).agg(
                F.sum("owned_edges").alias("owned"), F.sum("cut_edges").alias("cut"),
                F.max("owned_edges").alias("max_owned"), F.count(F.lit(1)).alias("parts"),
                F.sum("vertices").alias("vertices"),
            ).collect()[0]
            sym = g.symmetrized().agg(F.count(F.lit(1)).alias("n"), F.sum("dst")).collect()[0]
            max_in = g.in_degrees().agg(F.max("in_deg")).collect()[0][0]
        m.update({
            "graph.vertices": rep["vertices"],
            "graph.edges": rep["owned"],
            "graph.sym_edges": sym["n"],
            "graph.max_in_degree": max_in,
            "graph.cut_frac": rep["cut"] / rep["owned"],
            "graph.part_skew": rep["max_owned"] / (rep["owned"] / rep["parts"]),
        })
        m["skew.adjacency"] = run.adjacency_decision()
        if m["skew.adjacency"]:
            with tracer.span("skew.packed"):
                adj, rest = packed_adjacency(g.edges)
                m["skew.adj_rows"] = adj.agg(F.count(F.lit(1)), F.sum("src")).collect()[0][0]
                m["skew.hub_rows"] = rest.agg(F.count(F.lit(1)), F.sum("src")).collect()[0][0]
            m["skew.packed_s"] = tracer.seconds("skew.packed")
        return m


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, REPO]
    try:
        import graphscope_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    from workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SPECS)}", file=sys.stderr)
        return 2
    spec = SPECS[args.workload]
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{spec.name}-{args.seed}-", dir=base)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(root, d))
    os.environ.update({"SPARK_LOCAL_DIRS": os.path.join(root, "local"),
                       "TMPDIR": os.path.join(root, "tmp"),
                       "PYSPARK_PYTHON": sys.executable,
                       "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)})
    tempfile.tempdir = None

    bench = Bench(spec, args.seed, cores, root)
    try:
        res = bench.measure(args.seconds)
        e2e = res["metrics"]
        report = {"workload": spec.name, "seed": args.seed, "cores": cores,
                  "seconds": args.seconds, "end_to_end": e2e,
                  "samples": res["samples"], "setups": res["setups"],
                  "sessions": res["sessions"], "pagerank_eps_samples": res["eps"]}
        if args.trace:
            layer, spans = bench.traced(res)
            report.update(per_layer=layer, spans=spans)
            out = {n: {"value": layer[n], "unit": u} for n, u, _ in PER_LAYER}
        else:
            out = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in END_TO_END}
        report.update(error_rate=bench.ledger.error_rate, failures=bench.ledger.failures)
        print(json.dumps(report, default=float))
        failed = len(bench.ledger.failures)
        print(json.dumps({"correct": failed == 0, "attempted": bench.ledger.attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        bench.stop_session()
        stop_jvm()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
