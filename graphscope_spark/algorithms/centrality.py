"""Eigenvector / Katz / closeness centralities.

Reference registry entries: `eigenvector_centrality`, `katz_centrality`,
`closeness_centrality` (.gs_conf.yaml:138-149,214-219;
apps/centrality/{eigenvector,katz,closeness}/*.h) — all NetworkX-compatible
semantics (nx/algorithms/builtin.py):

- eigenvector: power iteration x' = (x + Aᵀx) / ‖·‖₂, init 1/n.
- katz:        init x = 0; iterate x' = α·Aᵀx + β; final L2
               normalization (per-iteration norm is NOT applied).
- closeness:   Wasserman-Faust improved: for each v over the undirected
               graph, c(v) = ((r−1)/(n−1)) · ((r−1)/Σd) with r =
               #reachable (incl. v), Σd = sum of BFS hop distances.

Spark plans: eigenvector/katz are the PageRank-shaped join-agg power
iteration (one shuffle per round + a scalar all-reduce for the norm).
Closeness is **multi-source BFS**: a (root, vid, dist) frontier
DataFrame expanded level-synchronously; at web scale this is run for a
sampled/designated root set (here: all vertices, since test graphs are
small — the operator takes an explicit ``roots`` DataFrame for the
sampled case, which is the 100TB-scale path: landmark/pivot closeness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner, one_shuffle_mode


def eigenvector_centrality(
    g: Graph,
    max_iter: int = 100,
    tol: float | None = 1e-6,
    checkpoint_dir: str | None = None,
    sync_every: int = 1,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, centrality double), L2-normalized.

    NX recurrence: x'[v] = x[v] + Σ_{u→v} x[u], then divide by the L2
    norm; stop when Σ|x'−x| < n·tol.  The norm is a lazy 1-row
    broadcast (flash_utils.h:40-42 all-reduce analog, no driver stop).
    """
    spark = g.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (g.edges if g.directed else g.symmetrized()).select(SRC, DST)
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(VID, F.lit(0.0).alias("centrality"))
    if g.num_partitions != p:
        edges = edges.repartition(p, SRC)
    gather = Gather(edges, n, adjacency, SRC, DST)

    cached: list[DataFrame] = []

    def init() -> DataFrame:
        return g.vertices.select(VID, F.lit(1.0 / n).alias("x")).repartition(p, VID)

    def step(state: DataFrame, k: int) -> StepResult:
        hstate = state.hint("shuffle_hash")
        stream = gather.msgs(hstate.select(VID, "x"), {"m": F.col("x")}, VID)
        msgs = stream.groupBy(VID).agg(F.sum("m").alias("s"))
        raw = state.hint("shuffle_hash").join(msgs, VID, "left").select(
            VID,
            (F.col("x") + F.coalesce("s", F.lit(0.0))).alias("raw"),
            F.col("x").alias("old_x"),
        ).cache()
        cached.append(raw)
        norm = raw.agg(
            F.coalesce(F.sqrt(F.sum(F.col("raw") * F.col("raw"))), F.lit(1.0)).alias(
                "_norm"
            )
        )
        nxt = raw.crossJoin(F.broadcast(norm)).select(
            VID, (F.col("raw") / F.col("_norm")).alias("x"), "old_x"
        )

        def delta_fn(m: DataFrame) -> float:
            return (
                m.agg(F.sum(F.abs(F.col("x") - F.col("old_x")))).collect()[0][0]
                or 0.0
            )

        return StepResult(nxt, delta_fn=delta_fn)

    run = SuperstepRunner(spark, "eigenvector", checkpoint_dir=checkpoint_dir)
    with one_shuffle_mode(spark):
        final = run.run(
            init,
            step,
            max_iterations=max_iter,
            tol=(tol * n if tol is not None else None),
            sync_every=sync_every if tol is None else 1,
        )
        final = final.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    gather.unpersist()
    return final.select(VID, F.col("x").alias("centrality"))


def katz_centrality(
    g: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 100,
    tol: float | None = 1e-6,
    checkpoint_dir: str | None = None,
    sync_every: int = 1,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, centrality double), L2-normalized at the end.

    NX recurrence: x init 0; x'[v] = α·Σ_{u→v} x[u] + β; stop when
    Σ|x'−x| < n·tol; then x /= ‖x‖₂.
    """
    spark = g.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (g.edges if g.directed else g.symmetrized()).select(SRC, DST)
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(VID, F.lit(0.0).alias("centrality"))
    if g.num_partitions != p:
        edges = edges.repartition(p, SRC)
    gather = Gather(edges, n, adjacency, SRC, DST)

    def init() -> DataFrame:
        return g.vertices.select(VID, F.lit(0.0).alias("x")).repartition(p, VID)

    def step(state: DataFrame, k: int) -> StepResult:
        hstate = state.hint("shuffle_hash")
        stream = gather.msgs(hstate.select(VID, "x"), {"m": F.col("x")}, VID)
        msgs = stream.groupBy(VID).agg(F.sum("m").alias("s"))
        nxt = state.hint("shuffle_hash").join(msgs, VID, "left").select(
            VID,
            (alpha * F.coalesce("s", F.lit(0.0)) + F.lit(beta)).alias("x"),
            F.col("x").alias("old_x"),
        )

        def delta_fn(m: DataFrame) -> float:
            return (
                m.agg(F.sum(F.abs(F.col("x") - F.col("old_x")))).collect()[0][0]
                or 0.0
            )

        return StepResult(nxt, delta_fn=delta_fn)

    run = SuperstepRunner(spark, "katz", checkpoint_dir=checkpoint_dir)
    with one_shuffle_mode(spark):
        final = run.run(
            init,
            step,
            max_iterations=max_iter,
            tol=(tol * n if tol is not None else None),
            sync_every=sync_every if tol is None else 1,
        )
    norm = final.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).collect()[0][0] or 1.0
    gather.unpersist()
    return final.select(VID, (F.col("x") / norm).alias("centrality"))


def closeness_centrality(
    g: Graph,
    roots: DataFrame | None = None,
    max_depth: int = 64,
    directed: bool = False,
) -> DataFrame:
    """Returns (vid long, centrality double) — WF-improved closeness over
    the undirected (symmetrized) graph, BFS hop distances.

    ``directed=True`` switches to NetworkX's DiGraph convention:
    INCOMING hop distances d(u, v) — implemented as the same
    multi-source sweep on the reversed-arc view, so the plan shape
    (and scale behavior) is identical.

    ``roots``: optional (vid) DataFrame restricting which vertices get a
    score (landmark closeness — the 100TB-scale form; all-vertex exact
    closeness is O(V·E) and only sensible on small/sampled graphs).

    Plan: the wide-column multi-source BFS kernel
    (:mod:`multisource`) — one distance column per root, so each level
    is a single join+groupBy over |E| message rows no matter how many
    landmarks run at once; per-root (reached, dist-sum) stats come from
    one final groupBy.
    """
    from graphscope_spark.algorithms.multisource import multi_source_distances

    n = g.num_vertices()
    root_df = (roots or g.vertices).select(F.col(VID).alias("root"))

    pairs = multi_source_distances(
        g.reverse() if directed else g,
        root_df,
        weight=None,
        directed=directed,
        max_rounds=max_depth,
    )
    stats = pairs.groupBy("root").agg(
        F.count(F.lit(1)).alias("r"), F.sum("dist").alias("sd")
    )
    out = stats.select(
        F.col("root").alias(VID),
        F.when(
            (F.col("sd") > 0) & (F.lit(n) > 1),
            ((F.col("r") - 1) / F.lit(float(max(n - 1, 1))))
            * ((F.col("r") - 1) / F.col("sd")),
        )
        .otherwise(0.0)
        .alias("centrality"),
    )
    return root_df.select(F.col("root").alias(VID)).join(out, VID, "left").select(
        VID, F.coalesce("centrality", F.lit(0.0)).alias("centrality")
    )
