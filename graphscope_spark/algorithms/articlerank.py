"""ArticleRank — PageRank variant damping by (outdeg + avg outdeg).

Reference semantics (apps/flash/ranking/articlerank.h:41-72):
    deg[v] = outdeg(v); avg = Σ deg / N
    init val = 0
    per round (fixed ``max_iters``):
        next[d] = Σ_{s→d} damping · val[s] / (deg[s] + avg)   (:63)
        val[v]  = next[v] + (1 − damping)                     (:64-66)
Dangling vertices contribute nothing (no out-edges) but still damp the
denominator of every contributor through ``avg``.

Spark plan per superstep: one edges ⋈ state join on src, a
groupBy(dst) partial-aggregated sum, and a left join back — identical
shape to pagerank.py's superstep minus the dangling all-reduce, so
fixed rounds chain into one job (sync_every).  ``avg`` is a plain
Python float computed once up front (a count, not a per-round agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner, one_shuffle_mode


def articlerank(
    g: Graph,
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    runner: SuperstepRunner | None = None,
    sync_every: int = 5,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, rank double) after exactly ``max_iter`` rounds."""
    spark: SparkSession = g.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (g.distinct_edges() if g.directed else g.symmetrized()).select(
        SRC, DST
    )
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(VID, F.lit(0.0).alias("rank"))
    if g.num_partitions != p:
        edges = edges.repartition(p, SRC)
    gather = Gather(edges, n, adjacency, SRC, DST)

    degrees = (
        edges.groupBy(F.col(SRC).alias(VID))
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(g.vertices.select(VID), VID, "right")
        .select(VID, F.coalesce("deg", F.lit(0)).cast("double").alias("deg"))
    )
    avg = (edges.count()) / n

    def init() -> DataFrame:
        return degrees.select(VID, F.lit(0.0).alias("rank"), "deg").repartition(
            p, VID
        )

    def step(state: DataFrame, k: int) -> StepResult:
        state = state.hint("shuffle_hash")
        contrib_expr = damping * F.col("rank") / (F.col("deg") + F.lit(avg))
        msgs = gather.msgs(state, {"c": contrib_expr}, VID)
        contribs = msgs.groupBy(VID).agg(F.sum("c").alias("contrib"))
        nxt = state.hint("shuffle_hash").join(contribs, VID, "left").select(
            VID,
            (F.coalesce("contrib", F.lit(0.0)) + (1.0 - damping)).alias("rank"),
            "deg",
        )
        return StepResult(nxt)

    run = runner or SuperstepRunner(
        spark, "articlerank", checkpoint_dir=checkpoint_dir, resume=resume
    )
    with one_shuffle_mode(spark):
        final = run.run(init, step, max_iterations=max_iter, tol=None,
                        sync_every=sync_every)
    result = final.select(VID, "rank")
    gather.unpersist()
    return result
