"""Betweenness centrality — Brandes' algorithm, wide multi-source form.

Reference: `betweenness_centrality` / `betweenness_centrality_generic`
(.gs_conf.yaml:286-298, apps/centrality/betweenness/*) — NX semantics
on the undirected graph, unweighted shortest paths.

Brandes (public algorithm, Journal of Mathematical Sociology 2001):
for each source s,
  forward BFS computing depth d(v) and path counts σ(v);
  backward sweep by decreasing depth accumulating
      δ(v) = Σ_{w: v ∈ pred(w)} σ(v)/σ(w) · (1 + δ(w));
  bc(v) += δ(v) for v ≠ s.

Spark-native shape (same scale rationale as multisource.py): state is
keyed by ``vid`` with one (depth, sigma, delta) column TRIPLE per root
— roots batched ≤48 per pass — so every forward level and every
backward level is ONE join + groupBy over |E| message rows, with all
per-root arithmetic in whole-stage codegen.  A (root, vid) pair-table
formulation ships |roots|×|E| rows per level instead; at a 1000-executor
scale the edge scan is the only thing that should grow with the graph.
Exact betweenness is O(V·E); pass a sampled/landmark ``roots`` DataFrame
at scale (the standard Brandes-sampling estimator: scale by n/|roots|).

Undirected convention: each (s,t) pair contributes in both directions,
so final scores are halved; NX ``normalized=False`` semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.superstep import stats_barrier, unpersist_barrier
from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.algorithms.multisource import _collect_roots

BATCH = 128


def _brandes_local(
    sym: DataFrame,
    verts: DataFrame,
    root_list: list[int],
    max_depth: int,
    endpoints: bool,
) -> DataFrame:
    """Single-task replay of the identical Brandes sweeps once the whole
    graph fits one executor task (same size-gated finisher pattern as
    matching.min_dominating_set / peeling) — one shuffle instead of
    ~2·depth·ceil(|roots|/BATCH) Spark jobs against a tiny graph.  Pure
    numpy CSR level-synchronous BFS + backward dependency accumulation;
    bit-compatible with the distributed recurrence (σ sums are exact
    integer-valued floats; δ ratios are the same divisions).  Returns
    (vid, bc_part) summed over all roots."""
    roots = set(root_list)

    def _pdf(pdf):
        import numpy as np
        import pandas as pd

        vids = np.sort(pdf.loc[pdf["tag"] == 1, "a"].to_numpy(np.int64))
        e = pdf[pdf["tag"] == 0]
        n = vids.size
        if n == 0:
            return pd.DataFrame({"vid": [], "bc_part": []})
        es = np.searchsorted(vids, e["a"].to_numpy(np.int64))
        ed = np.searchsorted(vids, e["b"].to_numpy(np.int64))
        order = np.argsort(es, kind="stable")
        indptr = np.concatenate(
            ([0], np.bincount(es, minlength=n).cumsum())
        ).astype(np.int64)
        indices = ed[order]

        def expand(f):
            st, en = indptr[f], indptr[f + 1]
            cnt = en - st
            tot = int(cnt.sum())
            if tot == 0:
                return (np.empty(0, np.int64),) * 2
            idx = np.repeat(st, cnt) + (
                np.arange(tot, dtype=np.int64)
                - np.repeat(np.cumsum(cnt) - cnt, cnt)
            )
            return indices[idx], np.repeat(f, cnt)

        bc = np.zeros(n, dtype=np.float64)
        rks = np.searchsorted(vids, np.sort(np.fromiter(roots, np.int64)))
        for rk in rks:
            depth = np.full(n, -1, dtype=np.int64)
            sigma = np.zeros(n, dtype=np.float64)
            depth[rk] = 0
            sigma[rk] = 1.0
            levels = [np.array([rk], dtype=np.int64)]
            lvl = 0
            while lvl < max_depth:
                nbr, src = expand(levels[-1])
                fresh = nbr[depth[nbr] == -1]
                if fresh.size == 0:
                    break
                depth[fresh] = lvl + 1
                on_next = depth[nbr] == lvl + 1
                np.add.at(sigma, nbr[on_next], sigma[src[on_next]])
                levels.append(np.unique(fresh))
                lvl += 1
            delta = np.zeros(n, dtype=np.float64)
            for lv in range(len(levels) - 1, 0, -1):
                w = levels[lv]
                nbr, wrep = expand(w)
                pred = depth[nbr] == lv - 1
                np.add.at(
                    delta,
                    nbr[pred],
                    sigma[nbr[pred]] / sigma[wrep[pred]] * (1.0 + delta[wrep[pred]]),
                )
            if endpoints:
                reached = depth >= 0
                add = np.where(reached, delta + 1.0, 0.0)
                add[rk] = float(reached.sum() - 1)
                bc += add
            else:
                delta[rk] = 0.0
                bc += delta
        return pd.DataFrame({"vid": vids, "bc_part": bc})

    packed = verts.select(
        F.lit(1).alias("tag"), F.col(VID).alias("a"), F.lit(0).cast("long").alias("b")
    ).unionByName(
        sym.select(
            F.lit(0).alias("tag"), F.col(SRC).alias("a"), F.col(DST).alias("b")
        )
    )
    return (
        packed.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_pdf, f"{VID} long, bc_part double")
    )


def _chunk_delta(
    sym: DataFrame,
    verts: DataFrame,
    chunk: list[int],
    max_depth: int,
    endpoints: bool = False,
) -> DataFrame:
    """Forward + backward Brandes sweep for one root batch.  Returns
    (vid, bc_part) where bc_part = Σ_i delta_i[v], v ≠ root_i; with
    ``endpoints`` (betweenness_centrality_generic.h:155-165,207-217 /
    NX endpoints=True) each reached w≠root contributes delta+1 and the
    root contributes |reached|−1."""
    k = len(chunk)
    dp = [f"dp{i}" for i in range(k)]
    sg = [f"sg{i}" for i in range(k)]
    dl = [f"dl{i}" for i in range(k)]

    state = verts.select(
        VID,
        *[
            F.when(F.col(VID) == F.lit(r), 0).otherwise(-1)
            .cast("int").alias(d)
            for d, r in zip(dp, chunk)
        ],
        *[
            F.when(F.col(VID) == F.lit(r), 1.0).otherwise(0.0).alias(s)
            for s, r in zip(sg, chunk)
        ],
    ).transform(stats_barrier)

    # ---- forward: level-synchronous BFS accumulating path counts ------
    depth = 0
    while depth < max_depth:
        lvl = depth
        frontier = state.where(
            F.greatest(*[(F.col(d) == lvl) for d in dp])
            if k > 1
            else (F.col(dp[0]) == lvl)
        )
        msgs = (
            sym.join(frontier, sym[SRC] == frontier[VID])
            .groupBy(DST)
            .agg(
                *[
                    F.sum(F.when(F.col(d) == lvl, F.col(s)).otherwise(0.0)).alias(f"m{i}")
                    for i, (d, s) in enumerate(zip(dp, sg))
                ]
            )
        )
        nxt = state.join(msgs, state[VID] == msgs[DST], "left").select(
            state[VID],
            *[
                F.when(
                    (F.col(d) == -1) & (F.coalesce(F.col(f"m{i}"), F.lit(0.0)) > 0.0),
                    lvl + 1,
                ).otherwise(F.col(d)).alias(d)
                for i, d in enumerate(dp)
            ],
            *[
                F.when(
                    (F.col(d) == -1) & (F.coalesce(F.col(f"m{i}"), F.lit(0.0)) > 0.0),
                    F.col(f"m{i}"),
                ).otherwise(F.col(s)).alias(s)
                for i, (d, s) in enumerate(zip(dp, sg))
            ],
        ).transform(stats_barrier)
        grew = (
            nxt.agg(
                F.sum(
                    sum(
                        (F.col(d) == lvl + 1).cast("long") for d in dp
                    )
                )
            ).collect()[0][0]
            or 0
        )
        unpersist_barrier(state)  # nxt is materialized; prior level dead
        state = nxt
        if grew == 0:
            break
        depth += 1

    # ---- backward: accumulate dependencies from depth down to 1 -------
    # (lazy columnar chaining of backward levels was MEASURED SLOWER
    # here — 66-85 s vs 51 s at sf0.1 — the wide state recompresses
    # poorly and the mega-job serializes; eager per-level barriers stay,
    # with superseded level states released as soon as the next lands)
    state = state.select(VID, *dp, *sg, *[F.lit(0.0).alias(d) for d in dl])
    for lvl in range(depth, 0, -1):
        w_side = state.where(
            F.greatest(*[(F.col(d) == lvl) for d in dp])
            if k > 1
            else (F.col(dp[0]) == lvl)
        )
        # coef_i(w) = (1 + delta_i) / sigma_i, shipped to predecessors
        msgs = (
            sym.join(w_side, sym[DST] == w_side[VID])
            .groupBy(SRC)
            .agg(
                *[
                    F.sum(
                        F.when(
                            F.col(d) == lvl,
                            (1.0 + F.col(l)) / F.col(s),
                        ).otherwise(0.0)
                    ).alias(f"c{i}")
                    for i, (d, s, l) in enumerate(zip(dp, sg, dl))
                ]
            )
        )
        nxt_b = state.join(msgs, state[VID] == msgs[SRC], "left").select(
            state[VID],
            *dp,
            *sg,
            *[
                F.when(
                    F.col(d) == lvl - 1,
                    F.col(l) + F.col(s) * F.coalesce(F.col(f"c{i}"), F.lit(0.0)),
                ).otherwise(F.col(l)).alias(l)
                for i, (d, s, l) in enumerate(zip(dp, sg, dl))
            ],
        )
        prev = state
        state = stats_barrier(nxt_b)
        unpersist_barrier(prev)  # new level materialized; prior one dead

    if endpoints:
        # |reached| per root as a lazy 1-row broadcast (no driver trip)
        reach = state.agg(
            *[
                F.sum((F.col(d) >= 0).cast("long")).alias(f"rc{i}")
                for i, d in enumerate(dp)
            ]
        )
        state = state.crossJoin(F.broadcast(reach))
        bc = sum(
            F.when(F.col(VID) == F.lit(r), (F.col(f"rc{i}") - 1).cast("double"))
            .when(F.col(d) >= 0, F.col(l) + 1.0)
            .otherwise(0.0)
            for i, (d, l, r) in enumerate(zip(dp, dl, chunk))
        )
    else:
        bc = sum(
            F.when(F.col(VID) == F.lit(r), 0.0).otherwise(F.col(l))
            for l, r in zip(dl, chunk)
        )
    out = stats_barrier(state.select(VID, bc.alias("bc_part")))
    unpersist_barrier(state)  # materialized into `out`; last level dead
    return out


def betweenness_centrality(
    g: Graph,
    roots: DataFrame | None = None,
    max_depth: int = 64,
    normalized: bool = False,
    endpoints: bool = False,
    weight: str | None = None,
    local_finish_rows: int = 4_000_000,
) -> DataFrame:
    """Returns (vid long, betweenness double).

    ``roots=None`` uses every vertex (exact; small graphs only).
    With a sampled root set, scores are scaled by n/|roots|.
    ``endpoints`` counts path endpoints (NX betweenness_centrality
    endpoints=True; betweenness_centrality_generic.h ctx.endpoints).
    ``weight``: edge-weight column → Dijkstra-DAG Brandes
    (betweenness_centrality_generic.h dijkstra path).
    ``local_finish_rows``: if the whole graph (vertices + symmetrized
    edges) fits one executor task, the unweighted sweeps run in a
    single applyInPandas task (see _brandes_local) — the distributed
    wide-column path remains the 10¹²-scale route and is pinned equal
    in tests.  0 forces the distributed path.
    """
    weighted = weight is not None and weight in g.edges.columns
    if weighted:
        e = g.edges.select(SRC, DST, F.col(weight).cast("double").alias("w"))
        sym = (
            e.unionByName(
                e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w")
            )
            .groupBy(SRC, DST)
            .agg(F.min("w").alias("w"))  # parallel edges: keep the lightest
            .cache()
        )
    else:
        sym = g.symmetrized().select(SRC, DST).cache()
    n = g.num_vertices()
    root_list = _collect_roots(g, roots)
    n_roots = len(root_list)
    if n_roots == 0:
        sym.unpersist()
        return g.vertices.select(VID, F.lit(0.0).alias("betweenness"))
    verts = g.vertices.select(VID)

    if (
        not weighted
        and local_finish_rows > 0
        and n + sym.count() <= local_finish_rows
    ):
        total = _brandes_local(
            sym, verts, root_list, max_depth, endpoints
        ).transform(stats_barrier)
        scale = 0.5
        if n_roots < n:
            scale *= n / n_roots
        if normalized and n > 2:
            scale *= 2.0 / ((n - 1) * (n - 2))
        out = verts.join(total, VID, "left").select(
            VID,
            (F.coalesce("bc_part", F.lit(0.0)) * scale).alias("betweenness"),
        )
        sym.unpersist()
        return out

    total: DataFrame | None = None
    for lo in range(0, n_roots, BATCH):
        if weighted:
            part = _chunk_delta_weighted(
                sym, verts, root_list[lo : lo + BATCH], max_depth, endpoints=endpoints
            )
        else:
            part = _chunk_delta(
                sym, verts, root_list[lo : lo + BATCH], max_depth, endpoints=endpoints
            )
        total = part if total is None else (
            total.unionByName(part)
            .groupBy(VID)
            .agg(F.sum("bc_part").alias("bc_part"))
            .transform(stats_barrier)
        )

    scale = 0.5  # undirected: each pair counted in both directions
    if n_roots < n:
        scale *= n / n_roots  # Brandes sampling estimator
    if normalized and n > 2:
        scale *= 2.0 / ((n - 1) * (n - 2))
    out = verts.join(total, VID, "left").select(
        VID,
        (F.coalesce("bc_part", F.lit(0.0)) * scale).alias("betweenness"),
    )
    sym.unpersist()
    return out


def _chunk_delta_weighted(
    wsym: DataFrame,
    verts: DataFrame,
    chunk: list[int],
    max_rounds: int,
    endpoints: bool = False,
) -> DataFrame:
    """Dijkstra-DAG Brandes for one root batch on a WEIGHTED graph
    (betweenness_centrality_generic.h:106-153 dijkstra path; NX
    _single_source_dijkstra_path_basic semantics).

    Wide-column sweeps, all join+groupBy supersteps:
    1. dist_i: frontier Bellman-Ford over (src, dst, w).
    2. DAG edge flags: is_i(src→dst) = (dist_i[src] + w == dist_i[dst])
       — exact float equality is sound because both sides come from the
       same min-plus relaxation arithmetic.  One cached table.
    3. hop_i: longest-hop depth inside the DAG (hop levels are a
       topological order, since every DAG edge increases hop by ≥1).
    4. σ by ascending hop level, δ by descending level — the same
       sweeps as the unweighted kernel with DAG flags as the
       predecessor test.
    """
    from graphscope_spark.superstep import unpersist_barrier

    # Catalyst's constraint propagation is super-linear in expression
    # width; at 4 column families × |chunk| roots it OOMs the driver
    # deriving isNotNull constraints that buy nothing here.
    spark = wsym.sparkSession
    prev_cp = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        return _chunk_delta_weighted_inner(
            wsym, verts, chunk, max_rounds, endpoints, unpersist_barrier
        )
    finally:
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def _chunk_delta_weighted_inner(
    wsym: DataFrame,
    verts: DataFrame,
    chunk: list[int],
    max_rounds: int,
    endpoints: bool,
    unpersist_barrier,
) -> DataFrame:
    k = len(chunk)
    INF = float("inf")
    ds = [f"ds{i}" for i in range(k)]
    hp = [f"hp{i}" for i in range(k)]
    sg = [f"sg{i}" for i in range(k)]
    dl = [f"dl{i}" for i in range(k)]
    iscol = [f"is{i}" for i in range(k)]

    # ---- 1. weighted distances ---------------------------------------
    state = verts.select(
        VID,
        *[
            F.when(F.col(VID) == F.lit(r), 0.0).otherwise(INF).alias(d)
            for d, r in zip(ds, chunk)
        ],
        F.lit(True).alias("chg"),
    ).transform(stats_barrier)
    for _ in range(max_rounds):
        frontier = state.where(F.col("chg")).select(VID, *ds)
        msgs = (
            wsym.join(frontier, wsym[SRC] == frontier[VID])
            .groupBy(DST)
            .agg(
                *[
                    F.min(F.col(d) + F.col("w")).alias(f"m{i}")
                    for i, d in enumerate(ds)
                ]
            )
        )
        nxt = state.join(msgs, state[VID] == msgs[DST], "left").select(
            state[VID],
            *[
                F.least(F.col(d), F.coalesce(F.col(f"m{i}"), F.lit(INF))).alias(d)
                for i, d in enumerate(ds)
            ],
            (
                sum(
                    (F.coalesce(F.col(f"m{i}"), F.lit(INF)) < F.col(d)).cast("int")
                    for i, d in enumerate(ds)
                )
                > 0
            ).alias("chg"),
        )
        prev = state
        state = stats_barrier(nxt)
        changed = state.agg(F.sum(F.col("chg").cast("long"))).collect()[0][0] or 0
        unpersist_barrier(prev)
        if changed == 0:
            break
    dists = state.select(VID, *ds)

    # ---- 2. DAG edge flags (cached once) ------------------------------
    dsrc = dists.select(F.col(VID).alias(SRC), *[F.col(d).alias(f"s_{d}") for d in ds])
    ddst = dists.select(F.col(VID).alias(DST), *[F.col(d).alias(f"t_{d}") for d in ds])
    dag = (
        wsym.join(dsrc, SRC)
        .join(ddst, DST)
        .select(
            SRC,
            DST,
            *[
                (
                    (F.col(f"s_{d}") < INF)
                    & (F.col(f"s_{d}") + F.col("w") == F.col(f"t_{d}"))
                ).alias(c)
                for d, c in zip(ds, iscol)
            ],
        )
        .where(F.greatest(*[F.col(c).cast("int") for c in iscol]) > 0 if k > 1
               else F.col(iscol[0]))
    ).transform(stats_barrier)

    # ---- 3. hop depth (longest path from root inside the DAG) --------
    hstate = dists.select(
        VID,
        *[
            F.when(F.col(VID) == F.lit(r), 0).otherwise(-1).cast("int").alias(h)
            for h, r in zip(hp, chunk)
        ],
    ).transform(stats_barrier)
    # stop only when NO vertex's hop changed (the global max can
    # plateau while interior longest-paths are still rising); the hop
    # sum is monotone nondecreasing, so equality means fixpoint
    prev_hopsum = None
    for _ in range(max_rounds):
        fr = hstate.select(VID, *hp)
        msgs = (
            dag.join(fr, dag[SRC] == fr[VID])
            .groupBy(DST)
            .agg(
                *[
                    F.max(
                        F.when(F.col(c) & (F.col(h) >= 0), F.col(h) + 1).otherwise(-1)
                    ).alias(f"mh{i}")
                    for i, (c, h) in enumerate(zip(iscol, hp))
                ]
            )
        )
        nxt = hstate.join(msgs, hstate[VID] == msgs[DST], "left").select(
            hstate[VID],
            *[
                F.greatest(F.col(h), F.coalesce(F.col(f"mh{i}"), F.lit(-1))).alias(h)
                for i, h in enumerate(hp)
            ],
        )
        prev = hstate
        hstate = stats_barrier(nxt)
        unpersist_barrier(prev)
        hopsum = hstate.agg(
            F.sum(sum(F.col(h).cast("long") for h in hp))
        ).collect()[0][0]
        if hopsum == prev_hopsum:
            break
        prev_hopsum = hopsum
    max_hop = int(
        hstate.agg(
            F.max(F.greatest(*[F.col(h) for h in hp]) if k > 1 else F.col(hp[0]))
        ).collect()[0][0]
        or 0
    )

    # ---- 4. σ ascending, δ descending ---------------------------------
    state = hstate.select(
        VID,
        *hp,
        *[
            F.when(F.col(VID) == F.lit(r), 1.0).otherwise(0.0).alias(s)
            for s, r in zip(sg, chunk)
        ],
        *[F.lit(0.0).alias(l) for l in dl],
    ).transform(stats_barrier)
    for lvl in range(1, max_hop + 1):
        fr = state.select(VID, *hp, *sg)
        msgs = (
            dag.join(fr, dag[SRC] == fr[VID])
            .groupBy(DST)
            .agg(
                *[
                    F.sum(F.when(F.col(c), F.col(s)).otherwise(0.0)).alias(f"m{i}")
                    for i, (c, s) in enumerate(zip(iscol, sg))
                ]
            )
        )
        nxt = state.join(msgs, state[VID] == msgs[DST], "left").select(
            state[VID],
            *hp,
            *[
                F.when(
                    F.col(h) == lvl, F.coalesce(F.col(f"m{i}"), F.lit(0.0))
                ).otherwise(F.col(s)).alias(s)
                for i, (h, s) in enumerate(zip(hp, sg))
            ],
            *dl,
        )
        prev = state
        state = stats_barrier(nxt)
        unpersist_barrier(prev)
    for lvl in range(max_hop, 0, -1):
        w_side = state.select(VID, *hp, *sg, *dl)
        msgs = (
            dag.join(w_side, dag[DST] == w_side[VID])
            .groupBy(SRC)
            .agg(
                *[
                    F.sum(
                        F.when(
                            F.col(c) & (F.col(h) == lvl),
                            (1.0 + F.col(l)) / F.col(s),
                        ).otherwise(0.0)
                    ).alias(f"c{i}")
                    for i, (c, h, s, l) in enumerate(zip(iscol, hp, sg, dl))
                ]
            )
        )
        # ACCUMULATE unconditionally: a weighted-DAG edge can skip hop
        # levels (hop_w ≥ hop_v+1, not ==), so a predecessor at any
        # lower hop receives from level-lvl successors; each (v,w) pair
        # contributes exactly once because coef sums only over w at
        # hop == lvl, and δ_v is consumed only when lvl reaches hop_v
        nxt = state.join(msgs, state[VID] == msgs[SRC], "left").select(
            state[VID],
            *hp,
            *sg,
            *[
                (
                    F.col(l)
                    + F.col(s) * F.coalesce(F.col(f"c{i}"), F.lit(0.0))
                ).alias(l)
                for i, (s, l) in enumerate(zip(sg, dl))
            ],
        )
        prev = state
        state = stats_barrier(nxt)
        unpersist_barrier(prev)

    if endpoints:
        reach = state.agg(
            *[
                F.sum((F.col(h) >= 0).cast("long")).alias(f"rc{i}")
                for i, h in enumerate(hp)
            ]
        )
        state = state.crossJoin(F.broadcast(reach))
        bc = sum(
            F.when(F.col(VID) == F.lit(r), (F.col(f"rc{i}") - 1).cast("double"))
            .when(F.col(h) >= 0, F.col(l) + 1.0)
            .otherwise(0.0)
            for i, (h, l, r) in enumerate(zip(hp, dl, chunk))
        )
    else:
        bc = sum(
            F.when(F.col(VID) == F.lit(r), 0.0).otherwise(F.col(l))
            for l, r in zip(dl, chunk)
        )
    return state.select(VID, bc.alias("bc_part"))
