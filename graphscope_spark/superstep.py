"""Superstep runner: the BSP driver loop with checkpoint/resume.

Reference analog: the PIE worker loop — ``PEval`` then ``IncEval`` until
no messages (analytical_engine/core/worker/default_worker.h:89-131),
with MPI all-reduce for convergence scalars (pagerank_networkx.h:85,146).

Spark-native translation: each superstep is ONE job — a join + groupBy
aggregation over the edge table producing the next vertex-state
DataFrame; the driver loop (here) owns convergence and termination.

Execution discipline per iteration (this is what keeps iterative
DataFrame jobs viable at scale — naive chaining re-executes the whole
history every action):

1. build the next state lazily (``step``),
2. MATERIALIZE it — Parquet checkpoint (durable, resumable) or
   ``localCheckpoint`` (in-memory, lineage truncation only),
3. compute the convergence delta with a small aggregate over the
   materialized state (the reference's MPI all-reduce),
4. append per-iteration metrics + per-partition lineage (file-level row
   counts from the Parquet footers — no extra Spark job) to
   ``metrics.jsonl``.

Unlike the reference (pure in-memory MPI, failure = rerun from scratch,
SURVEY.md §4), a run with a checkpoint_dir is *resumable
mid-algorithm*: a restarted runner finds the last complete iteration on
disk and continues from it.  At cluster scale the checkpoint dir is
HDFS/S3.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def one_shuffle_mode(spark: SparkSession):
    """Run an iterative loop with AQE disabled (restored on exit).

    With AQE off, edges cached hash(src, P) and ``shuffle_hash`` join
    hints on the state, a superstep plans no Sort and never
    re-exchanges the cached edge side.  It does NOT plan one exchange
    per round: ``stats_barrier`` and ``columnar_barrier`` rebuild the
    state over an RDD (a LogicalRDD with unknown partitioning), so every
    round after the first re-exchanges the state by hash(vid) into both
    of its joins — three Exchanges per PageRank round, next to the
    message groupBy (tests/test_plans.py pins the shape; dropping the
    two state exchanges is a ROADMAP item).  AQE's skew-join split is
    not lost value inside these loops: the heavy shuffle is the message
    aggregation, which partial (map-side) aggregation already de-skews.
    """
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _ckpt_handle(df: DataFrame):
    """The persisted RDD behind a (local)checkpointed DataFrame — the
    LogicalRDD's rdd, which IS the unpersist handle (the derived
    ``queryExecution().toRdd()`` is a different RDD; unpersisting it is
    a no-op).  None when the plan isn't a LogicalRDD."""
    try:
        an = df._jdf.queryExecution().analyzed()
        if an.getClass().getSimpleName() == "LogicalRDD":
            return an.rdd()
    except Exception:  # pragma: no cover - handle is best-effort
        pass
    return None


def unpersist_barrier(df: DataFrame) -> None:
    """Free the storage of a DataFrame produced by ``stats_barrier`` /
    ``localCheckpoint`` once nothing downstream will read it again.

    Iterative drivers that re-bind their state every round otherwise
    RETAIN every round's materialized state (4M rows ≈ 320 MB
    deserialized) until the session dies — measured as 25-40% of task
    time spent in GC at 4M vertices / 13M edges.  NOTE: a local
    checkpoint truncates lineage, so only call this when the DataFrame
    is truly dead — any later action on it would fail.
    """
    c = getattr(df, "_gs_cache_handle", None)
    if c is not None:
        try:
            c.unpersist(False)
        except Exception:  # pragma: no cover
            pass
        return
    h = getattr(df, "_gs_ckpt_handle", None)
    if h is None:
        h = _ckpt_handle(df)
    if h is not None:
        try:
            h.unpersist(False)
        except Exception:  # pragma: no cover
            pass


def stats_barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df`` (lineage truncation, like an eager
    localCheckpoint) AND reset Catalyst's size statistics.

    Why: Spark's LogicalRDD produced by ``localCheckpoint`` CARRIES the
    origin plan's estimated ``sizeInBytes``.  In an iterative algorithm
    whose step joins the state with itself (pointer-jumping shortcuts,
    message aggregation + merge), the estimate is a *product* of the
    previous round's estimates, so its BigInteger digit count doubles
    or triples every round — after ~15 rounds the driver spends minutes
    multiplying million-digit integers inside plan statistics (observed:
    Borůvka rounds going 1s → 3s → 8s → 95s).  Rebuilding the
    DataFrame over the checkpointed InternalRow RDD drops the origin
    stats back to the engine default, making per-round planning cost
    constant.  AQE still sees REAL runtime sizes, so physical join
    choices are unaffected; broadcasts of genuinely small inputs are
    explicit (``F.broadcast``) throughout this repo.
    """
    d2 = df.localCheckpoint(eager=True)
    handle = _ckpt_handle(d2)
    try:
        jdf = d2._jdf
        jrdd = jdf.queryExecution().toRdd()
        jspark = d2.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
        out = DataFrame(new_jdf, d2.sparkSession)
    except Exception:  # pragma: no cover - future-Spark fallback
        out = d2
    # carry the unpersist handle so loops can release dead rounds
    out._gs_ckpt_handle = handle
    return out


def columnar_barrier(df: DataFrame) -> DataFrame:
    """Lineage/stats barrier backed by the COLUMNAR SQL cache instead
    of a local checkpoint.

    ``localCheckpoint`` persists the state as deserialized InternalRow
    objects — ~100 B/row of heap garbage per round (measured: 160 MB
    per 2M rows), which is where iterative loops burn 25-40% of task
    time in GC.  ``persist(MEMORY_AND_DISK)`` on a DataFrame instead
    caches compressed COLUMNAR batches (few objects, lz4-packed), and
    wrapping the post-persist ``toRdd`` in a fresh LogicalRDD gives the
    same constant-plan-size chaining.  Unlike a local checkpoint the
    lineage survives, so eviction under memory pressure recomputes
    instead of failing — strictly safer at scale.  Lazy: the cache
    fills on the first job that computes the state.

    Release with ``unpersist_barrier`` (handle = the persisted Dataset).
    """
    from pyspark.storagelevel import StorageLevel

    d = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        jdf = d._jdf
        # planned AFTER persist → reads the InMemoryRelation
        jrdd = jdf.queryExecution().toRdd()
        jspark = d.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
        out = DataFrame(new_jdf, d.sparkSession)
    except Exception:  # pragma: no cover - future-Spark fallback
        out = d
    out._gs_cache_handle = d
    return out


@dataclass
class StepResult:
    """Next state + convergence signal.

    Exactly one of ``delta`` / ``delta_fn`` should be set (or neither,
    for fixed-round algorithms):
    - ``delta``: already-known scalar (e.g. computed from carried state).
    - ``delta_fn``: called with the MATERIALIZED next state; should run
      a small aggregate and return the metric.  Prefer this — it costs
      one cheap scan of cached/checkpointed data instead of recomputing
      the superstep.
    """

    state: DataFrame
    delta: float | None = None
    delta_fn: Callable[[DataFrame], float] | None = None


class SuperstepRunner:
    """Drives ``state_{k+1} = step(state_k, k)`` to convergence."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        checkpoint_dir: str | None = None,
        resume: bool = True,
    ) -> None:
        """Chained intermediate rounds (sync_every > 1) are held in the
        compressed columnar SQL cache (see columnar_barrier); sync-point
        states use the lineage-truncating localCheckpoint (see run()).

        Round-3 A/B at 4M vertices / 13.1M edges, fixed-10-round
        PageRank chained into one job, 3 interleaved pairs on a noisy
        host: columnar 32.2/35.7/40.0 s vs localCheckpoint rows
        17.0/47.4/95.9 s (medians 35.7 vs 47.4, identical checksums).
        Columnar wins the median AND is far less variance-prone: ten
        rounds of deserialized localCheckpoint rows (~100 B/row heap
        objects) resident at once put them at the mercy of GC, while
        lz4 columnar batches are a handful of arrays."""
        self.spark = spark
        self.name = name
        self.dir = checkpoint_dir
        self.resume = resume
        self.metrics: list[dict] = []

    # -- checkpoint layout --------------------------------------------
    def _iter_path(self, k: int) -> str:
        return os.path.join(self.dir, f"iter_{k:05d}")

    def latest_checkpoint(self) -> int | None:
        """Last complete iteration on disk (validated by _SUCCESS)."""
        if not self.dir or not os.path.isdir(self.dir):
            return None
        best = None
        for d in os.listdir(self.dir):
            if d.startswith("iter_") and os.path.exists(
                os.path.join(self.dir, d, "_SUCCESS")
            ):
                k = int(d.split("_")[1])
                best = k if best is None else max(best, k)
        return best

    def _partition_lineage(self, path: str) -> list[dict]:
        """Per-partition (file) row counts from Parquet footers — the
        north rule's per-partition lineage, without an extra job."""
        try:
            import pyarrow.parquet as pq

            out = []
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(path, f)).metadata
                    out.append({"file": f, "rows": md.num_rows})
            return out
        except Exception:  # pragma: no cover - lineage is best-effort
            return []

    def _record(self, rec: dict) -> None:
        self.metrics.append(rec)
        if self.dir:
            with open(os.path.join(self.dir, "metrics.jsonl"), "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    # -- main loop ------------------------------------------------------
    def run(
        self,
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame, int], StepResult],
        max_iterations: int,
        tol: float | None = None,
        sync_every: int = 1,
        idempotent: bool = False,
    ) -> DataFrame:
        """Run the loop; stop when ``delta <= tol`` or iterations exhaust.

        ``sync_every``: materialize (and checkpoint / measure delta)
        every k-th iteration; in between, supersteps CHAIN LAZILY into
        one Spark job — no per-round action, no driver round-trip.
        This is the fixed-round fast path (5-6× fewer scheduling
        stalls measured locally); convergence-driven runs must keep
        ``sync_every=1`` so the stop decision sees every round, which
        is also the reference's per-round all-reduce behavior
        (default_worker.h:89-131) — UNLESS the step is ``idempotent``:
        extra rounds past the stop condition must be HARMLESS.  Two
        classes qualify: monotone fixpoints (BFS discovery,
        min-relaxation, min-label propagation — extra rounds change
        nothing once quiesced) and contractive iterations whose delta
        shrinks monotonically (power iterations — the batched check can
        only stop at or after the per-round stop, and the extra rounds
        move the state strictly closer to the fixpoint).  An iteration
        whose delta can oscillate does NOT qualify; keep sync_every=1.
        The batch's ``delta_fn`` must measure the FINAL chained round's
        change, which reproduces the per-round stop test.
        Requires ``step`` to be fully lazy (no driver-side collects) —
        see pagerank's broadcast-crossjoin dangling pool.
        """
        if tol is not None and sync_every != 1 and not idempotent:
            raise ValueError(
                "sync_every > 1 with a tolerance requires idempotent=True"
            )
        start_k = 0
        state = None
        if self.dir:
            os.makedirs(self.dir, exist_ok=True)
            last = self.latest_checkpoint() if self.resume else None
            if last is not None:
                state = self.spark.read.parquet(self._iter_path(last))
                start_k = last + 1
        if state is None:
            state = init()

        # storage handles of rounds not yet known-dead: everything here
        # is unpersisted as soon as a NEWER state is durably
        # materialized (chained intermediates + the previous sync
        # state); the final state's handle is left live for the caller
        stale: list = []
        for k in range(start_k, max_iterations):
            t0 = time.time()
            res = step(state, k)
            sync = (k + 1) % max(sync_every, 1) == 0 or k == max_iterations - 1
            if not sync:
                # Chain lazily via a LAZY barrier: the plan is
                # truncated to a LogicalRDD immediately (constant plan
                # size per round — a plain lazy chain grows the analyzed
                # tree exponentially when a step consumes its state in
                # several branches and OOMs the analyzer), while the
                # data is computed only by the sync-point job; the
                # persisted state materializes on first compute, so
                # multi-consumer steps read it once.
                state = columnar_barrier(res.state)
                stale.append(state._gs_cache_handle)
                self._record(
                    {
                        "algorithm": self.name,
                        "iteration": k,
                        "delta": None,
                        "seconds": round(time.time() - t0, 4),
                        "partitions": [],
                        "chained": True,
                        "ts": time.time(),
                    }
                )
                continue
            lineage: list[dict] = []
            if self.dir:
                path = self._iter_path(k)
                res.state.write.mode("overwrite").parquet(path)
                state = self.spark.read.parquet(path)
                lineage = self._partition_lineage(path)
                # prune older checkpoints, keep previous one for safety
                for d in os.listdir(self.dir):
                    if d.startswith("iter_") and int(d.split("_")[1]) < k - 1:
                        shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
            else:
                # sync points use the lineage-TRUNCATING eager
                # localCheckpoint, not the columnar cache: truncation is
                # what makes unpersisting the chained intermediates
                # below safe (nothing can recompute through a
                # checkpoint back into a freed cache; a columnar sync
                # state instead KEEPS lineage into the intermediates,
                # and freeing them mid-loop NPEs executors — observed)
                state = stats_barrier(res.state)
            # the new state is durably materialized (parquet or eager
            # barrier): every older round's storage is dead
            for h in stale:
                try:
                    h.unpersist(False)
                except Exception:  # pragma: no cover
                    pass
            stale = []
            h = getattr(state, "_gs_ckpt_handle", None)
            if h is not None:
                stale.append(h)
            delta = res.delta
            if delta is None and res.delta_fn is not None:
                delta = res.delta_fn(state)
            self._record(
                {
                    "algorithm": self.name,
                    "iteration": k,
                    "delta": delta,
                    "seconds": round(time.time() - t0, 4),
                    "partitions": lineage,
                    "ts": time.time(),
                }
            )
            if tol is not None and delta is not None and delta <= tol:
                break
        return state
