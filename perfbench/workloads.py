"""The benchmark's two workloads: inputs from a seed, and the ops it times.

Every op calls the engine's public functions, forces the result with
one checksum aggregate over its output columns (``oracle.spark_checksum``)
and returns a ``check`` that compares it with the numpy oracle once the
timer has stopped.  PageRank outputs end on a materialized barrier, so
their check also reads them back and compares every rank.

Why each workload (README.md maps every per-layer metric to the
end-to-end metric it should move):

* ``crawl`` — Common-Crawl-style pages through ``sources``; supersteps
  are dominated by per-job and per-stage overhead; below both engine
  size switches (packed adjacency off, WCC single-task finisher on).
* ``webgraph`` — JVM-generated power-law edge table, bypassing
  ``sources``; runs the skew-aware packed gather and the distributed
  WCC supersteps, with PageRank's ten rounds chained into one job.  Its
  traced pass also checkpoints a PageRank every round, stops it after
  round 4 (a simulated crash) and resumes it from disk to round 9.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.algorithms import cdlp, pagerank, triangles, wcc
from graphscope_spark.graph import Graph
from graphscope_spark.skew import auto_adjacency
from graphscope_spark.sources.linkgraph import graph_from_pages
from graphscope_spark.sources.pages import generate_pages
from graphscope_spark.sources.synthetic import powerlaw_edges
from graphscope_spark.superstep import SuperstepRunner

import oracle

PR_TOL = 1e-6
# PageRank rounds: the timed runs chain all of them into one job (on
# crawl the convergence test, capped here, ran 10 to 14 rounds by seed;
# a test after every round, or every 5, spread crawl's pagerank_s by 30%
# and 22% between the quartiles of ten seeds), and the resume target.
PR_ROUNDS = 10
CRASH_AFTER = 5  # the checkpoint run stops after rounds 0-4
CDLP_ROUNDS = 10  # LDBC default
RESUME_ATOL = 1e-12  # resumed vs straight ranks: same rounds, same arithmetic

TIMED_OPS = ("ingest", "pagerank")


@dataclass(frozen=True)
class Spec:
    name: str
    source: str  # "pages" or "synthetic"
    size: int  # pages, or synthetic vertices
    pagerank: str  # "tol" (convergence test after the last round) or "fixed"
    # ops of the traced pass only, run after the timed ones
    traced_ops: tuple[str, ...]
    # engine switches; None lets the engine decide from the graph size.
    # webgraph forces the above-threshold paths at a size that fits one
    # benchmark run (a pass over the 1M-vertex graph takes minutes).
    adjacency: bool | None = None
    local_finish_rows: int | None = None


SPECS = {
    "crawl": Spec("crawl", "pages", 2000, "tol", ("wcc", "cdlp", "triangles")),
    "webgraph": Spec("webgraph", "synthetic", 40_000, "fixed", ("wcc", "checkpoint_run", "resume"),
                     adjacency=True, local_finish_rows=0),
}


@dataclass
class Inputs:
    """What set-up leaves behind: the pages parquet or the cached edge table."""

    pages_path: str | None = None
    edges: DataFrame | None = None


@dataclass
class Expected:
    """Oracle view of one input: dense ids ``0..n-1`` and the edge list;
    each oracle output is computed once and kept."""

    n: int
    src: np.ndarray
    dst: np.ndarray
    _cache: dict = field(default_factory=dict)

    def _get(self, key, fn):
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]

    def pagerank(self, rounds: int) -> np.ndarray:
        return self._get(("pagerank", rounds), lambda: oracle.pagerank(self.src, self.dst, self.n, rounds))

    def wcc(self) -> np.ndarray:
        return self._get("wcc", lambda: oracle.wcc(self.src, self.dst, self.n))

    def cdlp(self) -> np.ndarray:
        return self._get("cdlp", lambda: oracle.cdlp(self.src, self.dst, self.n, CDLP_ROUNDS))

    def triangles(self) -> np.ndarray:
        return self._get("triangles", lambda: oracle.triangles(self.src, self.dst, self.n))


class Mismatch(Exception):
    """An op's output disagrees with its oracle."""


# Pages whose index ends in 7 are left uncrawled: their urls stay link
# targets, so every seed's graph has dangling vertices (the crawl
# frontier).  Without it, whether a seed draws a page that links only to
# itself decides if PageRank runs its dangling-mass stages at all.  (Not
# 0: the generator sends a link to an index ending in 0 only via a hub.)
UNCRAWLED = r"/p/[0-9]*7$"


def make_inputs(spark: SparkSession, spec: Spec, seed: int, parts: int, path: str) -> Inputs:
    if spec.source == "pages":
        pages = generate_pages(spark, spec.size, seed=seed, partitions=parts)
        pages.where(~F.col("url").rlike(UNCRAWLED)).write.mode("overwrite").parquet(path)
        return Inputs(pages_path=path)
    edges = powerlaw_edges(spark, spec.size, seed=seed, partitions=parts).cache()
    edges.agg(F.count(F.lit(1)), F.sum("src"), F.sum("dst")).collect()
    return Inputs(edges=edges)


def expected_for(inputs: Inputs, spec: Spec) -> Expected:
    """Read the generated input back outside Spark and derive the oracle graph."""
    if inputs.pages_path is not None:
        import pyarrow.parquet as pq

        t = pq.read_table(inputs.pages_path, columns=["url", "html"])
        n, src, dst = oracle.linkgraph_from_html(t["url"].to_pylist(), t["html"].to_pylist())
        return Expected(n, src, dst)
    pdf = inputs.edges.toPandas()
    return Expected(spec.size, pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64))


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def _ranks(df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas().sort_values("vid")
    return pdf["vid"].to_numpy(np.int64), pdf["rank"].to_numpy(np.float64)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _no_span(name: str):
    return nullcontext()


@dataclass
class Run:
    """One workload's ops over one set of inputs."""

    spark: SparkSession
    spec: Spec
    inputs: Inputs
    expected: Expected
    parts: int
    scratch: str
    g: Graph | None = None
    vertex_map: DataFrame | None = None
    info: dict = field(default_factory=dict)

    def _checked(self, out: DataFrame, col: str, want, what: str, is_float: bool = False):
        """Force ``out`` by checksum and return its check.  ``want`` is a
        callable giving the oracle column, so it runs after the timer."""
        chk = oracle.spark_checksum(out, "vid", col, is_float)
        atol = PR_TOL if is_float else 0.0

        def check():
            exp = oracle.np_checksum(np.arange(self.expected.n), want())
            _check(chk.matches(exp, atol), f"{what}: checksum {chk} != oracle {exp}")

        return check

    def _pagerank_checked(self, out: DataFrame, rounds, what: str):
        """Checksum, then (after the timer) every rank against the oracle
        run for the recorded number of rounds.  The output is a select
        over the last materialized barrier, so reading it back does not
        rerun the supersteps."""
        check_sum = self._checked(out, "rank", lambda: self.expected.pagerank(rounds()), what, True)

        def check():
            check_sum()
            vid, got = _ranks(out)
            _check(np.array_equal(vid, np.arange(self.expected.n)), f"{what}: vertex set")
            _check(np.allclose(got, self.expected.pagerank(rounds()), rtol=0, atol=PR_TOL),
                   f"{what}: ranks")

        return check

    def release(self) -> None:
        """Drop the cached graph and this pass's checkpoint dirs."""
        if self.g is not None:
            self.g.unpersist()
        if self.vertex_map is not None:
            self.vertex_map.unpersist()
        self.g = self.vertex_map = None
        shutil.rmtree(self.scratch, ignore_errors=True)

    # -- timed ops: each forces its result and returns the oracle check --
    def ingest(self, span=_no_span):
        self.release()
        exp = self.expected
        if self.inputs.pages_path is not None:
            pages = self.spark.read.parquet(self.inputs.pages_path)
            g, self.vertex_map = graph_from_pages(pages, num_partitions=self.parts)
        else:
            g = Graph.from_edges(self.inputs.edges, num_partitions=self.parts)
        self.g = g = g.cache()
        with span("graph.vertex_ids"):
            vc = oracle.spark_checksum(g.vertices, "vid", "vid", False)
        with span("graph.edge_cut"):
            ec = oracle.spark_checksum(g.edges, "src", "dst", False)
        self.info["edges"] = ec.rows
        ids = np.arange(exp.n)

        def check():
            _check(vc.matches(oracle.np_checksum(ids, ids)), "ingest: vertex checksum")
            _check(ec.matches(oracle.np_checksum(exp.src, exp.dst)), "ingest: edge checksum")

        return check

    def _pagerank(self, runner: SuperstepRunner, rounds: int, sync_every: int = 1,
                  tol: float | None = None) -> DataFrame:
        return pagerank(self.g, tol=tol, max_iter=rounds, runner=runner,
                        sync_every=sync_every, adjacency=self.spec.adjacency)

    def pagerank(self, span=_no_span):
        runner = SuperstepRunner(self.spark, "pagerank")
        # ten rounds chained into one job; with ``tol`` the engine also
        # carries the previous ranks and checks L1 < tol·N at the end
        tol = PR_TOL if self.spec.pagerank == "tol" else None
        out = self._pagerank(runner, PR_ROUNDS, sync_every=PR_ROUNDS, tol=tol)
        check = self._pagerank_checked(out, lambda: len(runner.metrics), "pagerank")
        self.info.update(pagerank_steps=len(runner.metrics), pagerank_runner=runner,
                         pagerank_out=out)
        return check

    def wcc(self, span=_no_span):
        kw = {} if self.spec.local_finish_rows is None else {"local_finish_rows": self.spec.local_finish_rows}
        out = wcc(self.g, adjacency=self.spec.adjacency, **kw)
        # the single-task finisher is the one plan with a grouped pandas UDF
        self.info["wcc_local_finish"] = int(
            "FlatMapGroupsInPandas" in out._jdf.queryExecution().logical().toString())
        return self._checked(out, "comp", self.expected.wcc, "wcc")

    # -- traced-only ops --------------------------------------------------
    def cdlp(self, span=_no_span):
        out = cdlp(self.g, max_round=CDLP_ROUNDS, adjacency=self.spec.adjacency)
        return self._checked(out, "label", self.expected.cdlp, "cdlp")

    def triangles(self, span=_no_span):
        return self._checked(triangles(self.g), "tri", self.expected.triangles, "triangles")

    def checkpoint_run(self, span=_no_span):
        """Fixed-round PageRank, rounds 0-4, a parquet checkpoint every round."""
        ckpt = os.path.join(self.scratch, "pagerank_ckpt")
        runner = SuperstepRunner(self.spark, "pagerank", checkpoint_dir=ckpt, resume=False)
        out = self._pagerank(runner, CRASH_AFTER)
        check = self._checked(out, "rank", lambda: self.expected.pagerank(CRASH_AFTER),
                              "checkpoint_run", True)
        self.info.update(ckpt_dir=ckpt, ckpt_runner=runner, checkpoint_bytes=_du(ckpt))
        return check

    def resume(self, span=_no_span):
        """A fresh runner on the checkpoint dir finishes rounds 5-9; the
        result must equal this pass's straight ten-round run."""
        runner = SuperstepRunner(self.spark, "pagerank", checkpoint_dir=self.info["ckpt_dir"],
                                 resume=True)
        out = self._pagerank(runner, PR_ROUNDS)
        check_oracle = self._pagerank_checked(out, lambda: PR_ROUNDS, "resume")
        self.info["resume_runner"] = runner
        straight = self.info["pagerank_out"]

        def check():
            _check([m["iteration"] for m in runner.metrics] == list(range(CRASH_AFTER, PR_ROUNDS)),
                   "resume: did not continue from the last checkpoint")
            check_oracle()
            _, a = _ranks(out)
            _, b = _ranks(straight)
            _check(np.allclose(a, b, rtol=0, atol=RESUME_ATOL), "resume: ranks differ from the straight run")

        return check

    def adjacency_decision(self) -> int:
        return int(auto_adjacency(self.expected.n, self.spec.adjacency))
