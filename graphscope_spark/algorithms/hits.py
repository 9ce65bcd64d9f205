"""HITS hubs & authorities — alternating power iteration.

Reference: apps/hits/hits.h (.gs_conf.yaml:123-130), NetworkX-style:
per round  auth[v] = Σ_{u→v} hub[u];  hub[u] = Σ_{u→v} auth[v];
each vector normalized by its SUM each round (L1), fixed-round variant
(tolerance loop in the reference; we expose max_iter and an optional
L1 tolerance on the hub vector).

Spark plan: two join-aggs per round (one along dst, one along src) +
one small normalization aggregate.  The edge table is cached in BOTH
partitionings — hash(src, P) for the auth pass and hash(dst, P) for the
hub pass (the analog of the reference's kBothOutIn load strategy, which
also materializes both CSR directions) — so with the state kept
hash(vid, P), shuffle_hash join hints, and AQE off (one_shuffle_mode),
each round shuffles exactly its two message streams and nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner, one_shuffle_mode


def hits(
    g: Graph,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    sync_every: int = 1,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, hub double, auth double), each summing to 1.

    The per-round L1 normalizations are LAZY 1-row aggregates broadcast
    into the plan (no driver round-trip), so fixed-round runs may chain
    supersteps with ``sync_every`` > 1.

    ``adjacency=True`` gathers over skew-aware packed adjacency arrays
    in BOTH directions (out-lists for the auth pass, in-lists for the
    hub pass — the analog of the reference's kBothOutIn CSR pair): the
    per-round probe joins |V| packed rows instead of |E| edge rows,
    über-degree hubs stay row-form (skew.Gather)."""
    spark = g.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base_edges = g.distinct_edges()
    n = g.num_vertices()
    out_edges = base_edges if g.num_partitions == p else base_edges.repartition(p, SRC)
    g_out = Gather(out_edges, n, adjacency, SRC, DST)
    g_in = Gather(base_edges.repartition(p, DST), n, adjacency, DST, SRC)

    def init() -> DataFrame:
        return g.vertices.select(
            VID, F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
        ).repartition(p, VID)

    cached: list[DataFrame] = []

    def step(state: DataFrame, k: int) -> StepResult:
        hubs = state.select(VID, "hub").hint("shuffle_hash")
        auth_msgs = g_out.msgs(hubs, {"m": F.col("hub")}, VID)
        auth_raw = (
            auth_msgs.groupBy(VID).agg(F.sum("m").alias("auth_raw"))
        ).cache()
        cached.append(auth_raw)
        a_norm = auth_raw.agg(
            F.coalesce(F.sum("auth_raw"), F.lit(1.0)).alias("_an")
        )
        auth = auth_raw.crossJoin(F.broadcast(a_norm)).select(
            VID, (F.col("auth_raw") / F.col("_an")).alias("new_auth")
        )
        hauth = auth.hint("shuffle_hash")
        hub_msgs = g_in.msgs(hauth, {"m": F.col("new_auth")}, VID)
        hub_raw = (
            hub_msgs.groupBy(VID).agg(F.sum("m").alias("hub_raw"))
        ).cache()
        cached.append(hub_raw)
        h_norm = hub_raw.agg(
            F.coalesce(F.sum("hub_raw"), F.lit(1.0)).alias("_hn")
        )
        hub = hub_raw.crossJoin(F.broadcast(h_norm)).select(
            VID, (F.col("hub_raw") / F.col("_hn")).alias("new_hub")
        )
        nxt = (
            state.select(VID, "hub")
            .hint("shuffle_hash")
            .join(auth.hint("shuffle_hash"), VID, "left")
            .join(hub.hint("shuffle_hash"), VID, "left")
            .select(
                VID,
                F.coalesce("new_hub", F.lit(0.0)).alias("new_hub"),
                F.coalesce("new_auth", F.lit(0.0)).alias("auth"),
                F.col("hub").alias("old_hub"),
            )
        )
        delta = None
        if tol is not None:
            delta = nxt.agg(F.sum(F.abs(F.col("new_hub") - F.col("old_hub")))).collect()[0][0]
        return StepResult(
            nxt.select(VID, F.col("new_hub").alias("hub"), "auth"), delta=delta
        )

    run = SuperstepRunner(spark, "hits", checkpoint_dir=checkpoint_dir)
    with one_shuffle_mode(spark):
        final = run.run(
            init,
            step,
            max_iterations=max_iter,
            tol=tol,
            sync_every=sync_every if tol is None else 1,
        )
        final = final.localCheckpoint(eager=True)  # detach from round caches
    for c in cached:
        c.unpersist()
    g_out.unpersist()
    g_in.unpersist()
    return final.select(VID, "hub", "auth")


def salsa(
    g: Graph,
    rounds: int = 6,
    checkpoint_dir: str | None = None,
    adjacency: bool | None = None,
) -> DataFrame:
    """SALSA (Lempel & Moran 2000): the stochastic cousin of HITS —
    hub/authority weights propagated by RANDOM-WALK (degree-normalized)
    steps instead of raw sums, so no per-round renormalization is
    needed: both vectors stay L1 = 1 by construction.

    Returns (vid long, hub double, auth double) after ``rounds``
    alternations from the uniform hub start (hubs = pages with
    outdegree > 0).  Fixed-round and deterministic, so a DuckDB oracle
    replays it exactly.

    Reference analog: apps/hits/hits.h is the unnormalized-sum variant;
    SALSA is its named degree-normalized form on the same bipartite
    hub/authority support (registry has no salsa entry — this extends
    the link-analysis family alongside hits/articlerank).

    Spark plan: the shuffle shape of :func:`hits` — two gathers per
    round over the two-direction edge layout (skew.Gather); the degree
    normalizations ride the STATE (hub ⋈ out-degree before the auth
    pass, auth ⋈ in-degree before the hub pass — vid joins co-partitioned
    hash(vid, P), so no extra shuffle under one_shuffle_mode), and there
    is NO normalization aggregate at all."""
    spark = g.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = g.distinct_edges().select(SRC, DST)
    odeg = base.groupBy(SRC).agg(F.count(F.lit(1)).alias("od"))
    ideg = base.groupBy(DST).agg(F.count(F.lit(1)).alias("id_"))
    n = g.num_vertices()
    g_out = Gather(base.repartition(p, SRC), n, adjacency, SRC, DST)
    g_in = Gather(base.repartition(p, DST), n, adjacency, DST, SRC)
    odeg_v = odeg.select(F.col(SRC).alias(VID), "od").repartition(p, VID).cache()
    ideg_v = ideg.select(F.col(DST).alias(VID), "id_").repartition(p, VID).cache()
    n_hubs = odeg.count()

    def init() -> DataFrame:
        # SPARSE state: hub rows only over the hub support (od > 0) —
        # a vertex absent from the state contributes exactly 0 to the
        # next message pass, so no dense per-round vertex join is needed
        return odeg.select(
            F.col(SRC).alias(VID), F.lit(1.0 / n_hubs).alias("hub")
        ).repartition(p, VID)

    cached: list[DataFrame] = []

    def step(state: DataFrame, k: int) -> StepResult:
        hubs = (
            state.select(VID, "hub")
            .hint("shuffle_hash")
            .join(odeg_v.hint("shuffle_hash"), VID)
        )
        auth = (
            g_out.msgs(hubs, {"m": F.col("hub") / F.col("od")}, VID)
            .groupBy(VID)
            .agg(F.sum("m").alias("auth"))
        ).cache()  # round k's auth — the last one is joined into the result
        cached.append(auth)
        auth_st = auth.hint("shuffle_hash").join(ideg_v.hint("shuffle_hash"), VID)
        hub = (
            g_in.msgs(auth_st, {"m": F.col("auth") / F.col("id_")}, VID)
            .groupBy(VID)
            .agg(F.sum("m").alias("hub"))
        )
        return StepResult(hub)

    run = SuperstepRunner(spark, "salsa", checkpoint_dir=checkpoint_dir)
    with one_shuffle_mode(spark):
        hub_final = run.run(init, step, max_iterations=rounds, sync_every=rounds)
        final = (
            g.vertices.select(VID)
            .join(hub_final, VID, "left")
            .join(cached[-1].withColumnRenamed("auth", "auth_"), VID, "left")
            .select(
                VID,
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("auth_", F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
    for c in (*cached, odeg_v, ideg_v):
        c.unpersist()
    g_out.unpersist()
    g_in.unpersist()
    return final.select(VID, "hub", "auth")
