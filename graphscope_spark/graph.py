"""Graph: the DataFrame-based property/simple graph abstraction.

Reference analog: ``vineyard::ArrowFragment`` + ``ArrowProjectedFragment``
(analytical_engine/core/fragment/arrow_projected_fragment.h:696-830) —
columnar, hash edge-cut partitioned, with a vertex map oid→dense id
(docs/analytical_engine/performance_tuning.md:20-41).

Spark-native translation (SURVEY.md §1.5):
- vertices: DataFrame ``(vid long, ...props)``; ``vid`` is a dense or
  stable long id (the "oid→gid" dictionary is :func:`build_vertex_ids`).
- edges: DataFrame ``(src long, dst long, [weight double])``,
  hash-repartitioned by ``src`` — the edge-cut.  CSR adjacency is an
  optional materialization (:meth:`Graph.adjacency`) per the north star;
  normal supersteps use the flat edge table so Catalyst/AQE keep
  freedom to pick shuffle strategies.
- inner/outer mirror vertices + message channels collapse into the
  shuffle performed by join/groupBy.

Scale notes: at 10^12 documents the edge table is the only large
object.  Everything here keeps it columnar, pruned to (src, dst
[,weight]), partitioned on the join key used every superstep, and never
collected to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.superstep import stats_barrier

SRC, DST, VID = "src", "dst", "vid"


def build_vertex_ids(
    df: DataFrame, key: str, out: str = VID, num_partitions: int = 32
) -> DataFrame:
    """Dense vertex dictionary ``key → vid`` (long), deterministic:
    vid = rank of ``key`` in the global sort order.

    Reference analog: per-label vertex map o2g / oid_arrays
    (performance_tuning.md:20-41).

    Scalable dense-rank assignment WITHOUT a single-partition window:
    range-partition the distinct keys into ``num_partitions``, sort
    within partitions and materialize them once (``stats_barrier``),
    then vid = row index within the partition + exclusive prefix-sum of
    the partition sizes.  The sizes are one tiny collect; the offsets go
    back as a literal map, so no Python-worker job and no shuffle runs
    after the materialization.  The result is invariant to the sampled
    range boundaries — vid is always the global rank — so ids are
    deterministic across runs and parallelism levels.  One sort shuffle,
    paid once per graph load; dense longs keep every superstep's state
    narrow (vs shuffling url strings ~60B each).

    The materialized keys live in the block store, not in the cache
    manager: a later call on the same input recomputes them, and their
    blocks go with the last DataFrame that reads them.
    """
    keys = stats_barrier(
        df.select(F.col(key))
        .distinct()
        .repartitionByRange(num_partitions, F.col(key))
        .sortWithinPartitions(key)
    )
    # monotonically_increasing_id = (partition id << 33) + row number;
    # both are evaluated straight over the materialized partitions, so
    # the partition id is the range partition and rows follow the sort
    pid = F.spark_partition_id()
    row = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    sizes = sorted(keys.groupBy(pid.alias("_pid")).count().collect())
    offsets, acc = [], 0
    for p, n in sizes:
        offsets += [F.lit(p), F.lit(acc).cast("long")]
        acc += n
    off = F.create_map(*offsets)[pid] if offsets else F.lit(0)
    return keys.select((off + row).cast("long").alias(out), F.col(key))


@dataclass(frozen=True)
class Graph:
    """Simple graph over DataFrames.

    ``edges``    (src long, dst long [, weight double])
    ``vertices`` (vid long [, ...props])
    ``directed`` whether edges are directed (reference: session.g(directed=...))
    """

    edges: DataFrame
    vertices: DataFrame
    directed: bool = True
    num_partitions: int = 32
    _cached: bool = field(default=False, compare=False)

    # -- constructors -------------------------------------------------
    @staticmethod
    def from_edges(
        edges: DataFrame,
        vertices: DataFrame | None = None,
        directed: bool = True,
        num_partitions: int = 32,
        weight: str | None = None,
    ) -> "Graph":
        """Build from an edge table; vertices deduced from endpoints when
        absent (reference: graph.py:565-577 deduces vertices from edges)."""
        cols = [F.col(SRC).cast("long"), F.col(DST).cast("long")]
        if weight:
            cols.append(F.col(weight).cast("double").alias("weight"))
        e = edges.select(*cols)
        if vertices is None:
            # cache the deduced vertex set: it is tiny (one long column)
            # but its lineage re-runs the WHOLE edge derivation, and
            # algorithms touch vertices several times per run (counts,
            # degree right-joins, state init) — measured 2× on the
            # sf0.1 order-graph PageRank (14.6 s → 7.2 s)
            vertices = (
                e.select(F.col(SRC).alias(VID))
                .unionByName(e.select(F.col(DST).alias(VID)))
                .distinct()
            ).cache()
        else:
            vertices = vertices.withColumn(VID, F.col(VID).cast("long"))
        # hash edge-cut: co-locate all out-edges of a vertex
        # (arrow_fragment_loader.h:351-390 HASH_PARTITION analog).
        # NOT cached here: loop algorithms barrier their own working
        # sets up front, and a blanket edge cache was MEASURED slower
        # on the sweep (scc 20→33 s, domset 77→90 s at sf0.1) — the
        # block-store round-trip costs more than the fused re-derivation
        # it avoids; callers that re-scan raw edges cache explicitly.
        e = e.repartition(num_partitions, SRC)
        return Graph(e, vertices, directed=directed, num_partitions=num_partitions)

    # -- views ---------------------------------------------------------
    def symmetrized(self) -> DataFrame:
        """Undirected view of the edge table: each edge in both
        directions, deduplicated, self-loops dropped.

        Reference: TO_UNDIRECTED (dag_utils.py:583-638); the LDBC algos
        (WCC/CDLP/triangles) all run on the symmetrized graph.
        """
        e = self.edges.select(SRC, DST)
        both = e.unionByName(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        return (
            both.where(F.col(SRC) != F.col(DST))
            .distinct()
            .repartition(self.num_partitions, SRC)
        )

    def distinct_edges(self) -> DataFrame:
        """Directed edges deduplicated, self-loops removed."""
        return (
            self.edges.select(SRC, DST)
            .where(F.col(SRC) != F.col(DST))
            .distinct()
            .repartition(self.num_partitions, SRC)
        )

    def out_degrees(self) -> DataFrame:
        """(vid, out_deg) for every vertex, 0 for dangling.

        groupBy benefits from map-side partial aggregation; the
        left join fills vertices with no out-edges (the dangling set
        that PageRank redistributes, pagerank_networkx.h:76-87).
        """
        deg = self.edges.groupBy(F.col(SRC).alias(VID)).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        return self.vertices.select(VID).join(deg, VID, "left").select(
            VID, F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg")
        )

    def in_degrees(self) -> DataFrame:
        deg = self.edges.groupBy(F.col(DST).alias(VID)).agg(
            F.count(F.lit(1)).alias("in_deg")
        )
        return self.vertices.select(VID).join(deg, VID, "left").select(
            VID, F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg")
        )

    def degrees(self) -> DataFrame:
        """Undirected degree over the symmetrized, dedup'd graph."""
        sym = self.symmetrized()
        deg = sym.groupBy(F.col(SRC).alias(VID)).agg(F.count(F.lit(1)).alias("deg"))
        return self.vertices.select(VID).join(deg, VID, "left").select(
            VID, F.coalesce("deg", F.lit(0)).cast("long").alias("deg")
        )

    def adjacency(self) -> DataFrame:
        """Explicit CSR-style adjacency: (src, dsts sorted array, deg).

        Reference: per-fragment CSR oe_lists/oe_offsets
        (performance_tuning.md:42-80).  In Spark this is an *optional*
        materialization — useful when one vertex's full neighbor list is
        consumed at once (triangle intersection); the flat edge table is
        better for join-agg supersteps.
        """
        return self.edges.groupBy(SRC).agg(
            F.sort_array(F.collect_list(DST)).alias("dsts"),
            F.count(F.lit(1)).cast("long").alias("deg"),
        )

    # -- §2.1 DAG-op surface -------------------------------------------
    def project(
        self,
        vertex_cols: list[str] | None = None,
        edge_cols: list[str] | None = None,
    ) -> "Graph":
        """PROJECT_GRAPH (dag_utils.py:490-513): keep a subset of
        vertex/edge property columns — pure column pruning, pushed into
        the parquet scan by Catalyst."""
        from dataclasses import replace

        v = self.vertices.select(VID, *(vertex_cols or []))
        e = self.edges.select(
            SRC, DST, *(c for c in (edge_cols or []) if c in self.edges.columns)
        )
        return replace(self, vertices=v, edges=e)

    def to_undirected(self) -> "Graph":
        """TO_UNDIRECTED (dag_utils.py:583-638): symmetrized edge set,
        marked undirected."""
        from dataclasses import replace

        return replace(self, edges=self.symmetrized(), directed=False)

    def to_directed(self) -> "Graph":
        """TO_DIRECTED: reinterpret current edges as directed arcs."""
        from dataclasses import replace

        return replace(self, directed=True)

    def reverse(self) -> "Graph":
        """Reversed-arc view (NX ``DiGraph.reverse`` analog): swap
        src/dst, repartition on the new src so out-edge co-location
        holds for the reversed graph too."""
        from dataclasses import replace

        extras = [c for c in self.edges.columns if c not in (SRC, DST)]
        rev = self.edges.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST), *extras
        ).repartition(self.num_partitions, SRC)
        return replace(self, edges=rev)

    def induce_subgraph(self, vertex_set: DataFrame) -> "Graph":
        """INDUCE_SUBGRAPH (dag_utils.py:709-737): restrict to the
        given (vid) set — semi-joins on both edge endpoints, so the
        filter is a broadcast when the set is small."""
        from dataclasses import replace

        vs = vertex_set.select(VID)
        v = self.vertices.join(vs, VID, "semi")
        e = (
            self.edges.join(vs.select(F.col(VID).alias(SRC)), SRC, "semi")
            .join(vs.select(F.col(VID).alias(DST)), DST, "semi")
            .select(*self.edges.columns)
        )
        return replace(self, vertices=v, edges=e)

    def contract(self, mapping: DataFrame, drop_self_loops: bool = False) -> "Graph":
        """Quotient graph: merge vertices by ``mapping`` (vid, gid) and
        sum parallel-edge weights — the Common-Crawl host-graph product
        and the Louvain phase-2 contraction, exposed as a first-class
        graph op (reference analog: the community-contraction step of
        apps/pregel/louvain/ and CONSOLIDATE-style label merging).

        Edge weight = count of underlying edges, or the sum of their
        ``weight`` column when present.  Plan shape for 100 TB: two
        dictionary joins (same pattern as the url→vid load joins) + one
        hash aggregate keyed by (gsrc, gdst); map-side partial
        aggregation collapses the fan-in before the shuffle, so hub
        hosts don't skew the exchange.
        """
        m_src = mapping.select(F.col(VID).alias(SRC), F.col("gid").alias("_gsrc"))
        m_dst = mapping.select(F.col(VID).alias(DST), F.col("gid").alias("_gdst"))
        w = F.col("weight") if "weight" in self.edges.columns else F.lit(1.0)
        e = (
            self.edges.join(m_src, SRC)
            .join(m_dst, DST)
            .select(
                F.col("_gsrc").alias(SRC),
                F.col("_gdst").alias(DST),
                w.alias("_w"),
            )
        )
        if drop_self_loops:
            e = e.where(F.col(SRC) != F.col(DST))
        e = e.groupBy(SRC, DST).agg(F.sum("_w").alias("weight"))
        verts = mapping.select(F.col("gid").cast("long").alias(VID)).distinct()
        return Graph.from_edges(
            e,
            verts,
            directed=self.directed,
            num_partitions=self.num_partitions,
            weight="weight",
        )

    def add_vertices(self, new_vertices: DataFrame) -> "Graph":
        """MODIFY_VERTICES/ADD analog (dag_utils.py:359-412): functional
        update — returns a new Graph with the (vid [, props]) rows
        merged in (NX G.add_nodes_from; existing vids keep their row)."""
        from dataclasses import replace

        nv = new_vertices.withColumn(VID, F.col(VID).cast("long"))
        fresh = nv.join(self.vertices.select(VID), VID, "anti")
        for c in self.vertices.columns:
            if c not in fresh.columns:
                fresh = fresh.withColumn(c, F.lit(None))
        return replace(
            self,
            vertices=self.vertices.unionByName(
                fresh.select(*self.vertices.columns)
            ),
        )

    def add_edges(self, new_edges: DataFrame) -> "Graph":
        """MODIFY_EDGES/ADD analog: append (src, dst [, weight]) rows;
        endpoints missing from the vertex table are added
        (NX G.add_edges_from)."""
        from dataclasses import replace

        cols = [F.col(SRC).cast("long"), F.col(DST).cast("long")]
        if "weight" in self.edges.columns:
            w = (
                F.col("weight").cast("double")
                if "weight" in new_edges.columns
                else F.lit(1.0)
            )
            cols.append(w.alias("weight"))
        ne = new_edges.select(*cols)
        ends = (
            ne.select(F.col(SRC).alias(VID))
            .unionByName(ne.select(F.col(DST).alias(VID)))
            .distinct()
        )
        g2 = self.add_vertices(ends)
        return replace(
            g2, edges=self.edges.unionByName(ne.select(*self.edges.columns))
        )

    def remove_edges(self, gone: DataFrame) -> "Graph":
        """MODIFY_EDGES/DEL analog: drop the listed (src, dst) pairs —
        an anti join, broadcast when the removal set is small."""
        from dataclasses import replace

        return replace(
            self,
            edges=self.edges.join(
                gone.select(
                    F.col(SRC).cast("long").alias(SRC),
                    F.col(DST).cast("long").alias(DST),
                ),
                [SRC, DST],
                "anti",
            ),
        )

    def remove_vertices(self, gone: DataFrame) -> "Graph":
        """MODIFY_VERTICES/DEL analog: drop vids and every incident
        edge (NX G.remove_nodes_from)."""
        from dataclasses import replace

        gv = gone.select(F.col(VID).cast("long").alias(VID))
        v = self.vertices.join(gv, VID, "anti")
        e = (
            self.edges.join(gv.select(F.col(VID).alias(SRC)), SRC, "anti")
            .join(gv.select(F.col(VID).alias(DST)), DST, "anti")
        )
        return replace(self, vertices=v, edges=e)

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()

    def cache(self) -> "Graph":
        """Cache edge + vertex tables (they are re-scanned every superstep)."""
        if self._cached:
            return self
        self.edges.cache()
        self.vertices.cache()
        return replace(self, _cached=True)

    def unpersist(self) -> "Graph":
        self.edges.unpersist()
        self.vertices.unpersist()
        return replace(self, _cached=False)


def report_graph(g: Graph) -> dict:
    """REPORT_GRAPH analog (dag_utils.py:413-489): node/edge counts."""
    return {"num_vertices": g.num_vertices(), "num_edges": g.num_edges()}


def partition_report(g: Graph, p: int | None = None) -> DataFrame:
    """Per-partition quality report for the modulo hash edge-cut the
    engine runs on: (part, vertices, owned_edges, cut_edges,
    cut_frac) with owner(v) = v % p — the dense-vid analog of the
    reference's hash partitioner (grape fragment loaders assign
    gid % fnum; analytical_engine/core/fragment/* fragment ownership).
    An edge is OWNED by its source's partition and CUT when its
    endpoints land on different partitions; at 10^12-document scale
    the cut fraction is what prices every superstep's shuffle and the
    balance columns expose hub-induced skew before it burns a run.

    One groupBy on the owner key — the same single shuffle the engine's
    own repartition(src) performs; no joins, no collect.
    """
    p = p or g.num_partitions
    e = g.edges.select(
        (F.col(SRC) % p).alias("part"),
        (F.col(SRC) % p != F.col(DST) % p).cast("long").alias("is_cut"),
    )
    edge_stats = e.groupBy("part").agg(
        F.count(F.lit(1)).alias("owned_edges"),
        F.sum("is_cut").alias("cut_edges"),
    )
    vert_stats = (
        g.vertices.select((F.col(VID) % p).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("vertices"))
    )
    return (
        vert_stats.join(edge_stats, "part", "full")
        .select(
            "part",
            F.coalesce("vertices", F.lit(0)).cast("long").alias("vertices"),
            F.coalesce("owned_edges", F.lit(0)).cast("long").alias("owned_edges"),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.round(
                F.coalesce("cut_edges", F.lit(0))
                / F.greatest(F.coalesce("owned_edges", F.lit(0)), F.lit(1)),
                8,
            ).alias("cut_frac"),
        )
    )
