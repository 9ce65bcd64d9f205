"""Weakly-connected components — min-id label propagation with an
incremental frontier.

Reference semantics (apps/projected/wcc_projected.h:70-182): component
id = min vertex id in the component (LDBC convention, verified against
the p2p-31-WCC golden, tests/conftest.py:748-750); init comp=vid
(:76-81); each round only *modified* vertices rescan adjacency and send
their comp id to neighbors (:140-166); converged when nothing changed.

Spark plan: state (vid, comp, changed).  Each superstep joins ONLY the
changed frontier against the symmetrized edge table (the reference's
curr_modified set), aggregates min per dst, and keeps the smaller id.
FLASH's sparse/dense switch (api.h:361-369: dense when |U| > |V|/50)
maps to a broadcast hint on the frontier when it is small — the
previous round's update count is already on the driver, so the switch
is free.

Superstep recipe (same as pagerank.py): edges cached hash(src, P)
through skew.Gather, ``shuffle_hash`` hints on the state side of both
joins, AQE off for the loop.  What the plan holds (pinned by
tests/test_plans.py): a dense round after the first plans THREE
Exchanges and no Sort — the min aggregation, plus the state
re-exchanged by hash(vid) into the scatter and the apply join, because
the round barrier rebuilds the state with unknown partitioning; the
packed gather adds one Generate.  Sparse rounds broadcast the frontier
into the scatter instead of exchanging it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner, one_shuffle_mode

DENSE_FRACTION = 50  # dense when frontier > |V|/50 (flash_utils.h:36)


def wcc_log(g: Graph, max_iter: int = 60) -> DataFrame:
    """Star-contraction WCC — returns (vid long, comp long), comp = min
    vid in component (identical output to :func:`wcc`).

    Reference analog: ``flash_cc_log`` (apps/flash/connectivity/
    cc-log.h:33-44 star/jump/hook macros) — GraphScope's
    Shiloach-Vishkin-style logarithmic-round CC, registered alongside
    the propagation variants (.gs_conf.yaml flash_cc_log).  The
    DataFrame-native equivalent of that star/hook dance is the
    alternating **large-star / small-star** edge transformation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each phase is one groupBy(min) + one join, and the edge
    set converges to a star forest rooted at component minima in
    O(log^2 n) rounds.

    Why this variant exists at 10^12-document scale: the frontier
    min-propagation of :func:`wcc` runs O(diameter) supersteps (a web
    graph's diameter is dozens-to-hundreds of supersteps == shuffles),
    while star contraction is round-bound by log^2 of the LARGEST
    component regardless of diameter, and each round's shuffles carry a
    shrinking edge multiset.  Skew note: the groupBy-min is
    partial-aggregated map-side, so hub vertices cost one combiner
    entry per input partition, not a hot reduce key.
    """
    from graphscope_spark.superstep import stats_barrier, unpersist_barrier

    u, v, m = "u", "v", "m"
    # initial pair multiset: the undirected edge set, self-loops dropped
    pairs = (
        g.edges.select(F.col(SRC).alias(u), F.col(DST).alias(v))
        .where(F.col(u) != F.col(v))
        .distinct()
    )
    pairs = stats_barrier(pairs)
    n_pairs = pairs.count()
    for _ in range(max_iter):
        # ---- large-star: for each u, attach every LARGER neighbor to
        # min(Γ(u) ∪ {u}) ------------------------------------------------
        sym = pairs.unionByName(
            pairs.select(F.col(v).alias(u), F.col(u).alias(v))
        )
        mins = sym.groupBy(u).agg(F.least(F.min(v), F.first(u)).alias(m))
        large = (
            sym.join(mins, u)
            .where(F.col(v) > F.col(u))
            .select(F.col(v).alias(u), F.col(m).alias(v))
            .where(F.col(u) != F.col(v))
            .distinct()
        )
        large = stats_barrier(large)
        # ---- small-star: orient (max, min); attach every smaller
        # neighbor AND u itself to min(Γ⁻(u)) ----------------------------
        oriented = large.select(
            F.greatest(u, v).alias(u), F.least(u, v).alias(v)
        )
        smins = oriented.groupBy(u).agg(F.min(v).alias(m))
        joined = oriented.join(smins, u)
        nxt = (
            joined.select(F.col(v).alias(u), F.col(m).alias(v))
            .unionByName(joined.select(u, F.col(m).alias(v)))
            .where(F.col(u) != F.col(v))
            .distinct()
        )
        nxt = stats_barrier(nxt)
        unpersist_barrier(large)
        # fixpoint = exact set equality (both are distinct): no new rows
        # AND same cardinality — a strict subset is still progress
        n_nxt = nxt.count()
        changed = (n_nxt != n_pairs) or nxt.subtract(pairs).limit(1).count() > 0
        unpersist_barrier(pairs)
        pairs, n_pairs = nxt, n_nxt
        if not changed:
            break
    comp = pairs.groupBy(F.col(u).alias(VID)).agg(F.min(v).alias("comp"))
    out = (
        g.vertices.select(VID)
        .join(comp, VID, "left")
        .select(VID, F.coalesce("comp", F.col(VID)).alias("comp"))
    )
    return out


def _wcc_local_pdf(pdf):
    """Single-task WCC: scatter-min label propagation with pointer
    doubling over the edge arrays.  Component minima are a unique graph
    property, so this matches the distributed supersteps exactly.
    Rows: tag=1 → (a=vid); tag=0 → (a=src, b=dst) symmetrized."""
    import numpy as np
    import pandas as pd

    v = pdf[pdf["tag"] == 1]
    e = pdf[pdf["tag"] == 0]
    vids = np.sort(v["a"].to_numpy(np.int64))
    n = vids.size
    if n == 0:
        return pd.DataFrame(
            {"vid": np.empty(0, np.int64), "comp": np.empty(0, np.int64)}
        )
    se = np.searchsorted(vids, e["a"].to_numpy(np.int64))
    de = np.searchsorted(vids, e["b"].to_numpy(np.int64))
    comp = np.arange(n, dtype=np.int64)
    while True:
        prev = comp
        comp = comp.copy()
        np.minimum.at(comp, de, comp[se])
        comp = np.minimum(comp, comp[comp])  # pointer doubling
        if np.array_equal(comp, prev):
            break
    return pd.DataFrame({"vid": vids, "comp": vids[comp]})


def wcc(
    g: Graph,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    local_finish_rows: int = 4_000_000,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, comp long) with comp = min vid in component.

    Single-task finisher: when the graph fits one executor task the
    whole propagation runs as one applyInPandas (component minima are
    unique, so the replay is exact); the frontier supersteps below are
    the 10^12-edge path — ``local_finish_rows=0`` forces them (tested
    equal), and runs with a ``checkpoint_dir`` always take them so
    resumability is preserved."""
    spark = g.edges.sparkSession
    if local_finish_rows > 0 and checkpoint_dir is None:
        sym0 = g.symmetrized().select(SRC, DST)
        if g.vertices.count() + sym0.count() <= local_finish_rows:
            packed = g.vertices.select(
                F.lit(1).alias("tag"), F.col(VID).alias("a"), F.lit(0).cast("long").alias("b")
            ).unionByName(
                sym0.select(F.lit(0).alias("tag"), F.col(SRC).alias("a"), F.col(DST).alias("b"))
            )
            return (
                packed.withColumn("g", F.lit(1))
                .groupBy("g")
                .applyInPandas(_wcc_local_pdf, f"{VID} long, comp long")
            )
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = g.symmetrized()
    if g.num_partitions != p:
        sym = sym.repartition(p, SRC)
    n = g.num_vertices()
    gather = Gather(sym, n, adjacency, SRC, DST)

    def init() -> DataFrame:
        return g.vertices.select(
            VID, F.col(VID).alias("comp"), F.lit(True).alias("changed")
        ).repartition(p, VID)

    carry: dict[str, float | None] = {"frontier": None}

    def step(state: DataFrame, k: int) -> StepResult:
        frontier = state.where(F.col("changed")).select(VID, "comp")
        fsize = carry["frontier"]
        if fsize is not None and fsize <= max(1, n // DENSE_FRACTION):
            frontier = F.broadcast(frontier)  # sparse mode (EdgeMapSparse)
        else:
            # dense: frontier inherits state's hash(vid, P); with the
            # shuffle_hash hint the scatter join re-uses both cached
            # layouts instead of planning a sort-merge with two sorts.
            frontier = frontier.hint("shuffle_hash")
        scattered = gather.msgs(frontier, {"comp": F.col("comp")}, VID)
        msgs = scattered.groupBy(VID).agg(F.min("comp").alias("msg"))
        nxt = (
            state.select(VID, "comp")
            .hint("shuffle_hash")
            .join(msgs, VID, "left")
            .select(
                VID,
                F.least(F.col("comp"), F.coalesce("msg", F.col("comp"))).alias("comp"),
                (F.coalesce("msg", F.lit(2**62)) < F.col("comp")).alias("changed"),
            )
        )
        def delta_fn(m: DataFrame) -> float:
            updated = m.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
            carry["frontier"] = float(updated)
            return float(updated)

        return StepResult(nxt, delta_fn=delta_fn)

    run = SuperstepRunner(spark, "wcc", checkpoint_dir=checkpoint_dir, resume=resume)
    with one_shuffle_mode(spark):
        final = run.run(init, step, max_iterations=max_iter, tol=0.0)
    out = final.select(VID, "comp")
    gather.unpersist()
    return out
