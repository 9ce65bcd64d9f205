"""Skew handling: the gather layout and salted two-stage aggregation
for hub vertices.

The reference has NO skew handling — its loader hash-partitions vertices
and hopes (arrow_fragment_loader.h:351-390); a Common-Crawl link graph
is power-law, so a handful of hub urls receive a large share of all
in-links and the gather step's ``groupBy(dst)`` concentrates their
messages on single reducers.

Two mechanisms attack this:

1. **The gather layout** (:class:`Gather`): above
   ``ADJ_AUTO_MIN_VERTICES`` the scatter side probes one packed
   adjacency row per source, and über-degree sources stay row-form so
   Spark spreads their fan-out over partitions.  AQE's skew-join
   splitting (enabled in session.py) does NOT help here: every
   superstep loop inside ``superstep.one_shuffle_mode`` runs with AQE
   off, so a join's layout is what the plan says.
2. **Explicit salting** (:func:`salted_sum`) — for the gather
   aggregation: messages destined for a *hot* key are first aggregated
   under ``(key, salt)`` sub-keys (spreading one hub over ``salt_n``
   reducers), then re-aggregated by key.  Map-side partial aggregation
   already takes most of the sting out of commutative sums, so this
   matters at the 10^12-edge scale where even the post-combine per-hub
   partial count exceeds a reducer's share; correctness holds at any
   scale, which is what the tests pin.

Hot-key detection is a degree statistic computed once per graph (the
in-degree table the algorithms already need), not a per-superstep scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(degrees: DataFrame, key: str, deg_col: str, threshold: int) -> DataFrame:
    """Keys whose degree exceeds ``threshold`` — the hub set.

    Returned small (power-law ⇒ few hubs), so callers can broadcast it.
    """
    return degrees.where(F.col(deg_col) > threshold).select(key)


def salted_sum(
    msgs: DataFrame,
    key: str,
    value: str,
    out: str,
    hot: DataFrame | None = None,
    salt_n: int = 16,
    salt_src: str | None = None,
) -> DataFrame:
    """``groupBy(key).sum(value)`` with hub keys spread over ``salt_n``
    sub-keys first.

    ``hot``: small DataFrame of hub keys (broadcast).  ``None`` salts
    every key (simplest; two stages for all).  ``salt_src``: column to
    derive the salt from deterministically (e.g. the message's source
    vertex) — keeps results reproducible run-to-run; falls back to a
    deterministic spread via ``monotonically_increasing_id`` bits.
    """
    if hot is not None:
        flagged = msgs.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))), key, "left"
        )
        hot_msgs = flagged.where(F.col("_hot").isNotNull()).drop("_hot")
        cold = (
            flagged.where(F.col("_hot").isNull())
            .drop("_hot")
            .groupBy(key)
            .agg(F.sum(value).alias(out))
        )
        salted = _two_stage(hot_msgs, key, value, out, salt_n, salt_src)
        return cold.unionByName(salted)
    return _two_stage(msgs, key, value, out, salt_n, salt_src)


def _two_stage(
    msgs: DataFrame, key: str, value: str, out: str, salt_n: int, salt_src: str | None
) -> DataFrame:
    if salt_src is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt_n))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_n))
    partial = (
        msgs.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(out))


def packed_adjacency(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cap: int = 65536,
    extra: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(adj, rest): skew-aware CSR-style adjacency packing.

    ``adj``: ONE row per source with degree ≤ ``cap`` — the neighbor
    list as a packed ``array<long>`` (columnar cache stores each src id
    once; the gather join probes |V| rows and explodes matches straight
    into the partial aggregation).  ``rest``: the raw edge rows of the
    über-degree sources — a 10^8-degree hub must NOT become one
    multi-GB array row (single columnar batch, single task), so hub
    fan-out stays row-form where Spark splits it across partitions.
    The hub id set is degree-derived and broadcast-small by power-law
    construction.  :class:`Gather` unions the two gathers; aggregation
    semantics are unchanged (same multiset of per-edge messages).
    """
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("_d"))
    hubs = deg.where(F.col("_d") > cap).select(src)
    if extra:
        # weighted/attributed edges: pack (dst, extras...) structs —
        # explode exposes _nb.d / _nb.<extra>
        item = F.struct(F.col(dst).alias("d"), *[F.col(c) for c in extra])
    else:
        item = F.col(dst)
    adj = (
        edges.join(F.broadcast(hubs), src, "anti")
        .groupBy(src)
        # collect_list order is shuffle-arrival order, i.e.
        # nondeterministic — and float gathers (PageRank contributions)
        # sum in array order, so unsorted lists make ranks vary
        # run-to-run at ~1e-12, enough to flip a round(,8) hash near a
        # boundary (ADVICE r4).  sort_array canonicalizes the order;
        # O(deg·log deg) JVM-side, once per graph build.
        .agg(F.sort_array(F.collect_list(item)).alias("_nbrs"))
    )
    rest = edges.join(F.broadcast(hubs), src, "semi")
    return adj, rest


class Gather:
    """The one gather every superstep algorithm reads its neighbours
    through: one message row per edge, message expressions computed
    from the SOURCE vertex's state columns (+ edge ``extras``).

    The layout is decided once per graph, here: ``adjacency`` resolves
    through :func:`auto_adjacency` against ``n_vertices``.  Packed, the
    edges become :func:`packed_adjacency` rows (state ⋈ one row per
    source, then explode) plus the row-form edges of über-degree hubs;
    otherwise every edge stays a row.  Both parts are cached here and
    dropped by :meth:`unpersist`.  Pass ``edges`` un-cached and already
    hash(``src``, P)-partitioned: the row part keeps that partitioning,
    so the scatter join plans no exchange on the edge side.
    """

    def __init__(
        self,
        edges: DataFrame,
        n_vertices: int,
        adjacency: bool | None = None,
        src: str = "src",
        dst: str = "dst",
        extras: tuple[str, ...] = (),
    ):
        self.src, self.dst, self.extras = src, dst, tuple(extras)
        self._adj = None
        if auto_adjacency(n_vertices, adjacency):
            adj, edges = packed_adjacency(edges, src, dst, extra=list(self.extras))
            self._adj = adj.cache()
        # edge rows the caller already cached for its own one-time
        # aggregates (lpa_u2i) stay the caller's to unpersist
        self._own_rows = not edges.is_cached
        self._rows = edges.cache() if self._own_rows else edges

    def msgs(
        self,
        state: DataFrame,
        msg_cols: dict[str, "F.Column"],
        vid: str = "vid",
        src_out: str | None = None,
    ) -> DataFrame:
        """(``vid`` = gather target, *msg_cols) [+ ``src_out`` = the
        message's source, for salting].  ``msg_cols``: output-name ->
        Column over ``state`` columns and ``extras``.  Callers aggregate
        (groupBy(vid) or salted_sum)."""
        st_cols = [c for c in state.columns if c != vid]

        def finish(base: DataFrame) -> DataFrame:
            return base.select(
                *([F.col("_g").alias(src_out)] if src_out else []),
                F.col("_t").alias(vid),
                *[expr.alias(name) for name, expr in msg_cols.items()],
            )

        rows = self._rows
        out = finish(
            rows.join(state, rows[self.src] == state[vid]).select(
                rows[self.src].alias("_g"), rows[self.dst].alias("_t"),
                *self.extras, *st_cols,
            )
        )
        if self._adj is None:
            return out
        adj = self._adj
        j = adj.join(state, adj[self.src] == state[vid])
        if self.extras:
            j = j.select(
                adj[self.src].alias("_g"), F.explode("_nbrs").alias("_nb"), *st_cols
            ).select(
                "_g",
                F.col("_nb.d").alias("_t"),
                *[F.col(f"_nb.{e}").alias(e) for e in self.extras],
                *st_cols,
            )
        else:
            j = j.select(
                adj[self.src].alias("_g"), F.explode("_nbrs").alias("_t"), *st_cols
            )
        return finish(j).unionByName(out)

    def unpersist(self) -> None:
        if self._own_rows:
            self._rows.unpersist()
        if self._adj is not None:
            self._adj.unpersist()


# Packed-gather adoption threshold (round-5 A/B, scripts/adj_ab_r5.jsonl
# + round-4 scripts/pr_tune_r4_adj.jsonl): at 16M vertices the packed
# |V|-probe gather beat the edge join ~2x (build amortizes, rest-branch
# near-empty), but at bench-scale graphs (~16k vertices) the TWO gather
# branches per round (packed + hub union) add stages to rounds that are
# stage-overhead-bound, losing 1.3-3.9x.  Gather resolves
# ``adjacency=None`` to ``n_vertices >= ADJ_AUTO_MIN_VERTICES`` — the
# 100TB path gets the packed plan, small interactive graphs keep the
# single-join plan.
ADJ_AUTO_MIN_VERTICES = 1_000_000


def auto_adjacency(n_vertices: int, override: bool | None = None) -> bool:
    """Resolve an ``adjacency`` tri-state: explicit True/False wins;
    None picks the packed gather iff the graph is big enough for the
    build to amortize (see ADJ_AUTO_MIN_VERTICES)."""
    if override is not None:
        return override
    return n_vertices >= ADJ_AUTO_MIN_VERTICES
