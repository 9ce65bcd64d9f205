"""SSSP — Bellman-Ford-style frontier relaxation.

Reference: grape::SSSPOpt / gs::SSSPProjected
(apps/projected/sssp_projected.h, .gs_conf.yaml:34-41): single-source
shortest paths over non-negative edge weights; distance DOUBLE;
unreachable = +inf (we emit NULL→infinity as a literal
``double('inf')``).

Spark plan: state (vid, dist); each round relaxes only edges out of
vertices improved last round (frontier-incremental, matching the
reference's curr_modified set), groupBy(dst).min(dist+w), keep the
smaller.  Converges when no distance improves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner

INF = float("inf")


def _sssp_local_pdf_factory(source: int):
    """Single-task Bellman-Ford: synchronous Jacobi rounds of the SAME
    min-plus operator the distributed supersteps apply (candidates are
    precomputed per round, so no intra-round chaining), from the same
    initial state — the state sequence, and therefore every float, is
    bit-identical.  Rows: tag=1 → (a=vid); tag=0 → (a=src, b=dst, w)."""

    def _pdf(pdf):
        import numpy as np
        import pandas as pd

        v = pdf[pdf["tag"] == 1]
        e = pdf[pdf["tag"] == 0]
        vids = np.sort(v["a"].to_numpy(np.int64))
        n = vids.size
        if n == 0:
            return pd.DataFrame(
                {"vid": np.empty(0, np.int64), "dist": np.empty(0, np.float64)}
            )
        se = np.searchsorted(vids, e["a"].to_numpy(np.int64))
        de = np.searchsorted(vids, e["b"].to_numpy(np.int64))
        w = e["w"].to_numpy(np.float64)
        dist = np.full(n, np.inf)
        sp = np.searchsorted(vids, source)
        if sp < n and vids[sp] == source:
            dist[sp] = 0.0
        while True:
            cand = dist[se] + w
            nxt = dist.copy()
            np.minimum.at(nxt, de, cand)
            if np.array_equal(nxt, dist):
                break
            dist = nxt
        return pd.DataFrame({"vid": vids, "dist": dist})

    return _pdf


def sssp(
    g: Graph,
    source: int,
    weight: str | None = "weight",
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    sync_every: int = 4,
    local_finish_rows: int = 4_000_000,
) -> DataFrame:
    """Returns (vid long, dist double); inf for unreachable.

    ``sync_every`` relaxation rounds chain lazily into ONE Spark job —
    min-relaxation past the fixpoint is idempotent, so the termination
    check (any distance changed in the batch's final round) legally
    runs once per batch; this is the same job-floor amortization as the
    multi-source wide sweep (multisource.py).
    """
    spark = g.edges.sparkSession
    cols = g.edges.columns
    if weight and weight in cols:
        edges = g.edges.select(SRC, DST, F.col(weight).cast("double").alias("w"))
    else:
        edges = g.edges.select(SRC, DST, F.lit(1.0).alias("w"))
    if not g.directed:
        edges = edges.unionByName(
            edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w")
        )
    edges = edges.cache()

    # single-task finisher (same contract as wcc): Jacobi min-plus in
    # numpy when the graph fits one task; distributed supersteps are the
    # scale path, and the ONLY path when checkpointing is requested or
    # the caller asked for a truncated run (small max_iter — the
    # finisher always runs to the fixpoint)
    if checkpoint_dir is None and max_iter >= 200 and local_finish_rows > 0:
        if g.vertices.count() + edges.count() <= local_finish_rows:
            packed = g.vertices.select(
                F.lit(1).alias("tag"),
                F.col(VID).alias("a"),
                F.lit(0).cast("long").alias("b"),
                F.lit(0.0).alias("w"),
            ).unionByName(
                edges.select(
                    F.lit(0).alias("tag"),
                    F.col(SRC).alias("a"),
                    F.col(DST).alias("b"),
                    "w",
                )
            )
            out = (
                packed.withColumn("g", F.lit(1))
                .groupBy("g")
                .applyInPandas(
                    _sssp_local_pdf_factory(source), f"{VID} long, dist double"
                )
            )
            return out

    # skew-aware packed (dst, w) adjacency for the relax scatter, always:
    # min relaxation is order-independent and dist+w is computed per
    # edge, so distances do not depend on the layout
    gather = Gather(edges, 0, True, SRC, DST, extras=("w",))

    def init() -> DataFrame:
        return g.vertices.select(
            VID,
            F.when(F.col(VID) == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
            (F.col(VID) == source).alias("changed"),
        )

    def step(state: DataFrame, k: int) -> StepResult:
        frontier = state.where(F.col("changed")).select(VID, "dist")
        scattered = gather.msgs(frontier, {"cand": F.col("dist") + F.col("w")}, VID)
        relaxed = scattered.groupBy(VID).agg(F.min("cand").alias("cand"))
        nxt = state.select(VID, "dist").join(relaxed, VID, "left").select(
            VID,
            F.least(F.col("dist"), F.coalesce("cand", F.lit(INF))).alias("dist"),
            (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
        )
        def delta_fn(m: DataFrame) -> float:
            updated = m.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
            return float(updated)

        return StepResult(nxt, delta_fn=delta_fn)

    run = SuperstepRunner(spark, "sssp", checkpoint_dir=checkpoint_dir)
    final = run.run(
        init,
        step,
        max_iterations=max_iter,
        tol=0.0,
        sync_every=max(1, sync_every),
        idempotent=True,
    )
    edges.unpersist()
    gather.unpersist()
    return final.select(VID, "dist")


def sssp_delta_stepping(
    g: Graph,
    source: int,
    weight: str | None = "weight",
    delta: float | None = None,
    max_inner: int = 1000,
    local_finish_rows: int = 4_000_000,
) -> DataFrame:
    """Delta-stepping SSSP (apps/flash/traversal/sssp-dlt-step.h:43-92):
    distances settle bucket [a, a+Δ) at a time; within a bucket, light
    relaxations iterate to fixpoint; Δ defaults to 2·avg edge weight
    (:50-57).  Returns (vid long, dist double) — identical output to
    ``sssp`` (the driver oracle for both is the same SQL), but the
    bucketed sweep bounds the number of times any long-tail edge is
    re-relaxed, the property that matters when one shuffle per
    superstep costs minutes at 10^12-edge scale.
    """
    from graphscope_spark.superstep import stats_barrier

    cols = g.edges.columns
    if weight and weight in cols:
        edges = g.edges.select(SRC, DST, F.col(weight).cast("double").alias("w"))
    else:
        edges = g.edges.select(SRC, DST, F.lit(1.0).alias("w"))
    if not g.directed:
        edges = edges.unionByName(
            edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w")
        )
    edges = edges.cache()

    # single-task finisher: every relaxation on either path computes the
    # same IEEE dist[u]+w, and both delta-stepping and Jacobi converge
    # to the LEAST fixpoint of that min-plus operator (min over
    # left-associated float path sums), so the finisher's distances are
    # bit-equal to the bucketed sweep's
    if local_finish_rows > 0:
        if g.vertices.count() + edges.count() <= local_finish_rows:
            packed = g.vertices.select(
                F.lit(1).alias("tag"),
                F.col(VID).alias("a"),
                F.lit(0).cast("long").alias("b"),
                F.lit(0.0).alias("w"),
            ).unionByName(
                edges.select(
                    F.lit(0).alias("tag"), F.col(SRC).alias("a"), F.col(DST).alias("b"), "w"
                )
            )
            return (
                packed.withColumn("g", F.lit(1))
                .groupBy("g")
                .applyInPandas(
                    _sssp_local_pdf_factory(source), f"{VID} long, dist double"
                )
            )

    if delta is None:
        row = edges.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("m")).collect()[0]
        delta = 2.0 * float(row["s"]) / float(row["m"])

    state = stats_barrier(
        g.vertices.select(
            VID,
            F.when(F.col(VID) == source, F.lit(0.0))
            .otherwise(F.lit(INF))
            .alias("dist"),
        )
    )
    a = 0.0
    while True:
        b = a + delta
        frontier = state.where((F.col("dist") >= a) & (F.col("dist") < b)).select(
            VID, "dist"
        )
        for _ in range(max_inner):
            if frontier.limit(1).count() == 0:
                break
            relaxed = (
                edges.join(frontier.withColumnRenamed(VID, SRC), SRC)
                .select(
                    F.col(DST).alias(VID),
                    (F.col("dist") + F.col("w")).alias("cand"),
                )
                .groupBy(VID)
                .agg(F.min("cand").alias("cand"))
            )
            nxt = state.join(relaxed, VID, "left").select(
                VID,
                F.least(F.col("dist"), F.coalesce("cand", F.lit(INF))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("chg"),
            )
            state = stats_barrier(nxt.select(VID, "dist"))
            frontier = (
                nxt.where(F.col("chg") & (F.col("dist") >= a) & (F.col("dist") < b))
                .select(VID, "dist")
            )
        maxd = state.where(F.col("dist") < INF).agg(F.max("dist")).collect()[0][0]
        a = b
        if maxd is None or a > maxd:
            break
    edges.unpersist()
    return state.select(VID, "dist")
