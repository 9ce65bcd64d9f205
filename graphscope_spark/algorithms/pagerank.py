"""PageRank — NetworkX power iteration with dangling-mass pool.

Reference semantics (apps/pagerank/pagerank_networkx.h:54-163):
    init r = 1/N
    per round:
        dangling = Σ r[u] over u with outdeg(u)==0        (:76-87)
        r'[v] = alpha·Σ_{u→v} r[u]/outdeg(u)
                + (1-alpha)/N + alpha·dangling/N           (:135-147)
    stop when Σ|r' − r| < tol·N  or  round ≥ max_iter      (:147)
Python binding defaults alpha=0.85, max_iter=100, tol=1e-6
(python/graphscope/analytical/app/pagerank.py:91-121).  The LDBC
fixed-round form (grape::PageRankOpt, .gs_conf.yaml:2-9) is the same
recurrence with tol=None and max_iter=max_round.  Personalized
PageRank is the same superstep with the uniform 1/N teleport vector
replaced by one concentrated on a source set (``_power_iteration``).

Spark plan per superstep:
    scatter: edges ⋈ state on src — ShuffledHashJoin; edges are cached
             hash(src, P), or the packed adjacency (skew.packed_msgs)
             probes one row per source and explodes the messages.
    gather:  groupBy(dst).sum(rank/out_deg) — the message shuffle
             (|E| rows); map-side partial aggregation collapses hub
             keys before the exchange, which is also the skew story.
    apply:   state ⋈ contribs on vid — ShuffledHashJoin.
    all-reduce: lazy 1-row aggregate broadcast into the apply step.

What the plan holds (pinned by tests/test_plans.py): every round after
the first plans THREE shuffle Exchanges and no Sort — the message
groupBy, plus the state re-exchanged by hash(vid) into both joins,
because the round barrier (superstep.stats_barrier / columnar_barrier)
rebuilds the state as a LogicalRDD with unknown partitioning.  The
packed gather adds one Generate and no Exchange.  Two settings keep it
there:
- `hint("shuffle_hash")` on the state side of both joins — otherwise
  Catalyst picks SortMergeJoin and re-SORTS the cached edge table every
  round;
- AQE is toggled OFF for the duration of the loop (restored after,
  superstep.one_shuffle_mode).  AQE's skew-join is not needed here: the
  heavy shuffle is an aggregation, already skew-resistant via partial
  aggregation (plus the optional explicit hub salting below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import (
    auto_adjacency, hot_keys, packed_adjacency, packed_msgs, salted_sum,
)
from graphscope_spark.superstep import StepResult, SuperstepRunner, one_shuffle_mode


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float | None = 1e-6,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    runner: SuperstepRunner | None = None,
    salt_hot_threshold: int | None = None,
    salt_n: int = 16,
    sync_every: int = 1,
    weight: str | None = None,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, rank double); ranks sum to 1.

    ``tol=None`` selects the LDBC fixed-round convention (run exactly
    ``max_iter`` rounds, no convergence test).

    ``salt_hot_threshold``: when set, vertices with in-degree above it
    are treated as hubs and their gather aggregation is salted over
    ``salt_n`` sub-keys (two-stage sum — see graphscope_spark.skew).
    The hub set is computed once before the loop and broadcast.

    ``weight``: name of an edge-weight column (e.g. a contracted host
    graph's multiplicity, ``Graph.contract``).  Contributions become
    rank·w/Σ_out w and "dangling" means zero outgoing weight; with
    ``weight=None`` this reduces to the unweighted recurrence.

    ``adjacency`` (unweighted runs): freeze the out-adjacency as ONE
    packed array row per source — the CSR-encoded adjacency partition
    of the north rule, kept entirely JVM-side (columnar cache of
    array<long>, no Arrow round-trip).  Per round the state hash join
    probes |V| adjacency rows instead of |E| edge rows and the edge
    scan reads each src id once instead of out_deg times; the explode
    regenerates the per-edge messages pipelined straight into the
    partial aggregation, so gather semantics and exchange volume are
    unchanged.  Falls back to the edge-table join for weighted runs.
    """
    spark: SparkSession = g.edges.sparkSession
    run = runner or SuperstepRunner(
        spark, "pagerank", checkpoint_dir=checkpoint_dir, resume=resume
    )
    return _power_iteration(
        g, None, alpha, max_iter, tol, run, sync_every, adjacency,
        weight=weight, salt_hot_threshold=salt_hot_threshold, salt_n=salt_n,
    )


def _power_iteration(
    g: Graph,
    sources: DataFrame | None,
    alpha: float,
    max_iter: int,
    tol: float | None,
    run: SuperstepRunner,
    sync_every: int,
    adjacency: bool | None,
    weight: str | None = None,
    salt_hot_threshold: int | None = None,
    salt_n: int = 16,
) -> DataFrame:
    """The one PageRank superstep loop.  ``sources=None`` teleports
    uniformly (1/N per vertex); otherwise the teleport vector — carried
    in the state as column ``tele`` — is uniform over the first column
    of ``sources``, and dangling mass follows it."""
    spark: SparkSession = g.edges.sparkSession
    # P must be one value everywhere: edge cache, state, and the gather
    # shuffle — co-partitioning keeps the cached edge side of the
    # scatter join free of exchanges.
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = g.num_vertices()
    if n == 0:
        return g.vertices.select(VID, F.lit(0.0).alias("rank"))
    if weight is None:
        edges = (g.edges if g.directed else g.symmetrized()).select(SRC, DST)
    elif g.directed:
        # zero-weight edges contribute nothing; keeping them would make
        # an all-zero-weight source both "dangling" (Σw = 0) and a
        # message sender (rank·0/0 = NaN) — drop them up front
        edges = g.edges.select(SRC, DST, F.col(weight).alias("_w")).where(
            F.col("_w") != 0
        )
    else:
        e = g.edges.select(SRC, DST, F.col(weight).alias("_w"))
        edges = (
            e.unionByName(
                e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "_w")
            )
            .where(F.col(SRC) != F.col(DST))
            .groupBy(SRC, DST)
            .agg(F.sum("_w").alias("_w"))
            .where(F.col("_w") != 0)
        )
    if g.num_partitions != p:
        edges = edges.repartition(p, SRC)
    # size-resolved default (scripts/adj_ab_r5.jsonl + r4
    # pr_tune_r4_adj.jsonl): packed wins ~2x at 16M vertices, loses at
    # bench-scale graphs where rounds are stage-overhead-bound
    use_adj = auto_adjacency(n, adjacency) and weight is None
    if use_adj:
        # one-time local agg (already partitioned by src — no exchange);
        # über-degree sources stay row-form (skew.packed_adjacency)
        adj, adj_rest = packed_adjacency(edges, SRC, DST)
        adj = adj.cache()
        adj_rest = adj_rest.cache()
    edges = edges.cache()

    if weight is not None:
        degrees = (
            edges.groupBy(F.col(SRC).alias(VID))
            .agg(F.sum("_w").alias("out_deg"))
            .join(g.vertices.select(VID), VID, "right")
            .select(VID, F.coalesce("out_deg", F.lit(0.0)).alias("out_deg"))
        )
    else:
        degrees = g.out_degrees() if g.directed else (
            edges.groupBy(F.col(SRC).alias(VID))
            .agg(F.count(F.lit(1)).alias("out_deg"))
            .join(g.vertices.select(VID), VID, "right")
            .select(VID, F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"))
        )

    # one tiny job up front: graphs with no dangling vertices (every
    # vertex has an out-edge) skip the dangling-pool aggregate entirely
    # — its mass is identically 0, and dropping the per-round 1-row
    # aggregate removes two serial stages per superstep
    has_dangling = degrees.where(F.col("out_deg") == 0).limit(1).count() > 0

    if sources is None:
        r0 = F.lit(1.0 / n)
        carried = ["out_deg"]
    else:
        src_flag = sources.select(F.col(sources.columns[0]).alias(VID)).distinct()
        n_src = src_flag.count()
        if n_src == 0:
            raise ValueError("personalized_pagerank needs a non-empty source set")
        degrees = degrees.join(
            src_flag.withColumn("_p", F.lit(1.0 / n_src)), VID, "left"
        ).select(VID, "out_deg", F.coalesce("_p", F.lit(0.0)).alias("tele"))
        r0 = F.col("tele")
        carried = ["out_deg", "tele"]

    # fixed-round runs never read old_rank (no convergence test): drop
    # the column — a third less state to checkpoint and re-scan per
    # round, which is the memory-bandwidth-bound part of a superstep
    track_delta = tol is not None

    def init() -> DataFrame:
        cols = [VID, r0.alias("rank")]
        if track_delta:
            cols.append(r0.alias("old_rank"))
        return degrees.select(*cols, *carried).repartition(p, VID)

    hot = None
    if salt_hot_threshold is not None:
        in_deg = edges.groupBy(F.col(DST).alias(VID)).agg(F.count(F.lit(1)).alias("in_deg"))
        hot = hot_keys(in_deg, VID, "in_deg", salt_hot_threshold).cache()
        hot.count()

    def step(state: DataFrame, k: int) -> StepResult:
        # dangling mass as a LAZY 1-row aggregate, broadcast into the
        # apply step — the reference's MPI all-reduce'd dangling_sum
        # (pagerank_networkx.h:85) without a driver round-trip, so
        # fixed-round supersteps can chain into one job (sync_every>1).
        dang = (
            state.agg(
                F.coalesce(
                    F.sum(F.when(F.col("out_deg") == 0, F.col("rank"))), F.lit(0.0)
                ).alias("_dang")
            )
            if has_dangling
            else None
        )
        hstate = state.hint("shuffle_hash")
        contrib_c = (
            F.col("rank") * F.col("_w") / F.col("out_deg")
            if weight is not None
            else F.col("rank") / F.col("out_deg")
        )
        if use_adj:
            msgs = packed_msgs(
                adj, adj_rest, hstate, {"c": contrib_c},
                src=SRC, dst=DST, vid=VID, src_out="_src",
            )
        else:
            msgs = edges.join(hstate, edges[SRC] == hstate[VID]).select(
                F.col(SRC).alias("_src"), F.col(DST).alias(VID), contrib_c.alias("c")
            )
        if hot is not None:
            contribs = salted_sum(
                msgs, VID, "c", "contrib", hot=hot, salt_n=salt_n, salt_src="_src"
            )
        else:
            contribs = msgs.groupBy(VID).agg(F.sum("c").alias("contrib"))
        joined = state.hint("shuffle_hash").join(contribs, VID, "left")
        if dang is not None:
            joined = joined.crossJoin(F.broadcast(dang))
        gathered = alpha * F.coalesce("contrib", F.lit(0.0))
        if sources is None:
            rank_expr = gathered + (1.0 - alpha) / n
            if dang is not None:
                rank_expr = rank_expr + alpha * F.col("_dang") / n
        elif dang is not None:
            rank_expr = gathered + ((1.0 - alpha) + alpha * F.col("_dang")) * F.col("tele")
        else:
            rank_expr = gathered + (1.0 - alpha) * F.col("tele")
        out_cols = [VID, rank_expr.alias("rank")]
        if track_delta:
            out_cols.append(state["rank"].alias("old_rank"))
        nxt = joined.select(*out_cols, *carried)
        if not track_delta:
            return StepResult(nxt)

        def delta_fn(m: DataFrame) -> float:
            # L1 convergence metric over the materialized state
            return (
                m.agg(F.sum(F.abs(F.col("rank") - F.col("old_rank")))).collect()[0][0]
                or 0.0
            )

        return StepResult(nxt, delta_fn=delta_fn)

    # Batched convergence (tol with sync_every > 1) is sound for this
    # contractive iteration: the L1 delta shrinks monotonically (factor
    # ~alpha per round), so checking only at batch boundaries can stop
    # AT or AFTER the reference's per-round stop — never early — and
    # the extra rounds only move the result closer to the fixpoint.
    # delta_fn measures the final chained round's |r - r_prev|, exactly
    # the reference's per-round eps (pagerank_networkx.h:147).
    with one_shuffle_mode(spark):
        final = run.run(
            init,
            step,
            max_iterations=max_iter,
            tol=(tol * n if tol is not None else None),
            sync_every=sync_every,
            idempotent=(tol is not None and sync_every > 1),
        )
    result = final.select(VID, "rank")
    edges.unpersist()
    if use_adj:
        adj.unpersist()
        adj_rest.unpersist()
    if hot is not None:
        hot.unpersist()
    return result


def personalized_pagerank(
    g: Graph,
    sources: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    sync_every: int = 1,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to a
    uniform distribution over ``sources`` instead of all vertices.

    Reference analog: the push-style single/multi-source variants
    `pagerank_push` / `pagerank_push_opt` (.gs_conf.yaml:10-25,
    apps/pagerank/pagerank_push*) — this is the pull/power-iteration
    formulation of the same stationary equation, which is the shape that
    runs as PageRank's superstep on Spark:

        r⁰ = p   (uniform on S)
        rᵏ⁺¹[v] = α·Σ_{u→v} rᵏ[u]/outdeg(u)
                  + ((1−α) + α·dangling)·p[v]

    Returns (vid long, rank double); ranks sum to 1 every round.
    """
    spark: SparkSession = g.edges.sparkSession
    return _power_iteration(
        g, sources, alpha, max_iter, tol, SuperstepRunner(spark, "ppr"),
        sync_every if tol is None else 1, None,
    )
