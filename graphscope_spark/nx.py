"""NetworkX-compatibility facade.

Reference analog: `python/graphscope/nx/algorithms/builtin.py` — a
NetworkX-named function surface (pagerank:87, degree_centrality:174,
has_path:279, k_core:505, ...) that projects the graph and delegates to
the built-in engine apps, returning Python-native results.

Here each function delegates to the DataFrame implementation in
``graphscope_spark.algorithms`` and collects into the NetworkX-shaped
return type (dict keyed by node, scalar, set, ...).  Collecting is the
NX contract — this facade is for interactive/small-result use; pipelines
that stay distributed should call the ``algorithms`` modules directly
and keep DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark import algorithms as A
from graphscope_spark.graph import DST, SRC, VID, Graph


# -- NetworkX-compatible exception hierarchy ---------------------------
# The reference's vendored NX test suite asserts exception TYPES, not
# just messages (python/graphscope/nx/tests).  These mirror networkx's
# classes by name and inherit the builtin types this facade used to
# raise, so except ValueError/RuntimeError call sites keep working.


class NetworkXException(Exception):
    """Base for NX-convention errors (nx.NetworkXException analog)."""


class NetworkXError(NetworkXException, ValueError):
    """nx.NetworkXError analog (invalid input / undefined result)."""


class NetworkXNoPath(NetworkXException, ValueError):
    """nx.NetworkXNoPath analog (no path between the given nodes)."""


class NetworkXUnfeasible(NetworkXException, ValueError):
    """nx.NetworkXUnfeasible analog (e.g. topological sort of a cycle)."""


class AmbiguousSolution(NetworkXException, ValueError):
    """nx.AmbiguousSolution analog (e.g. bipartite sets of a
    disconnected graph)."""


class NetworkXNotImplemented(NetworkXException, ValueError):
    """nx.NetworkXNotImplemented analog (e.g. k-truss of a graph with
    self-loops)."""


class NodeNotFound(NetworkXException, ValueError):
    """nx.NodeNotFound analog (path query endpoint absent from the
    graph — distinct from NetworkXNoPath, which means both endpoints
    exist but are disconnected)."""


def _require_nodes(g: Graph, *nodes: int) -> None:
    """Raise NodeNotFound (nx convention) for any endpoint not in the
    vertex set — one broadcast-trivial isin filter."""
    want = set(int(n) for n in nodes)
    have = {
        r[VID]
        for r in g.vertices.where(F.col(VID).isin(*want)).select(VID).collect()
    }
    for n in sorted(want - have):
        raise NodeNotFound(f"Node {n} is not in G")


def _to_dict(df: DataFrame, key: str = VID) -> dict:
    cols = [c for c in df.columns if c != key]
    if len(cols) == 1:
        return {r[key]: r[cols[0]] for r in df.collect()}
    return {r[key]: tuple(r[c] for c in cols) for r in df.collect()}


def _scalar(df: DataFrame):
    return df.collect()[0][0]


# -- ranking ----------------------------------------------------------
def pagerank(g: Graph, alpha: float = 0.85, max_iter: int = 100, tol: float = 1e-6) -> dict:
    return _to_dict(A.pagerank(g, alpha=alpha, max_iter=max_iter, tol=tol))


def hits(g: Graph, max_iter: int = 100, tol: float = 1e-8) -> tuple[dict, dict]:
    rows = A.hits(g, max_iter=max_iter, tol=tol).collect()
    return (
        {r[VID]: r["hub"] for r in rows},
        {r[VID]: r["auth"] for r in rows},
    )


def voterank(g: Graph, number_of_nodes: int | None = None) -> list:
    """``number_of_nodes=None`` elects until votes run out (nx default:
    the returned list stops at the last positive-score seed)."""
    if number_of_nodes is None:
        number_of_nodes = g.num_vertices()
    rows = A.voterank(g, num_seeds=number_of_nodes).collect()
    return [r[VID] for r in sorted(rows, key=lambda r: r["rank"])]


# -- centrality -------------------------------------------------------
def degree_centrality(g: Graph) -> dict:
    return _to_dict(A.degree_centrality(g))


def in_degree_centrality(g: Graph) -> dict:
    return _to_dict(A.degree_centrality(g, centrality_type="in"))


def out_degree_centrality(g: Graph) -> dict:
    return _to_dict(A.degree_centrality(g, centrality_type="out"))


def eigenvector_centrality(g: Graph, max_iter: int = 100, tol: float = 1e-6) -> dict:
    return _to_dict(A.eigenvector_centrality(g, max_iter=max_iter, tol=tol))


def katz_centrality(
    g: Graph, alpha: float = 0.1, beta: float = 1.0, max_iter: int = 100, tol: float = 1e-6
) -> dict:
    return _to_dict(A.katz_centrality(g, alpha=alpha, beta=beta, max_iter=max_iter, tol=tol))


def closeness_centrality(g: Graph) -> dict:
    # NX convention follows the graph type: DiGraph -> incoming paths
    return _to_dict(A.closeness_centrality(g, directed=g.directed))


def betweenness_centrality(g: Graph, normalized: bool = True) -> dict:
    return _to_dict(A.betweenness_centrality(g, normalized=normalized))


def harmonic_centrality(g: Graph) -> dict:
    # NX convention follows the graph type: DiGraph -> incoming distances
    return _to_dict(A.harmonic_centrality(g, directed=g.directed))


# -- clustering / cohesion -------------------------------------------
def triangles(g: Graph) -> dict:
    return _to_dict(A.triangles(g))


def clustering(g: Graph) -> dict:
    return _to_dict(A.lcc(g))


def average_clustering(g: Graph) -> float:
    return _scalar(A.avg_clustering(g))


def transitivity(g: Graph) -> float:
    return _scalar(A.transitivity(g))


def core_number(g: Graph) -> dict:
    # nx convention: k-core is undefined with self-loops
    # (NetworkXNotImplemented) — mirror the reject, not a silent answer
    if g.edges.where(F.col("src") == F.col("dst")).limit(1).count() > 0:
        raise NetworkXError(
            "Input graph has self loops which is not permitted; "
            "Consider using G.remove_edges_from(nx.selfloop_edges(G))."
        )
    return _to_dict(A.core_number(g))


def k_core(g: Graph, k: int) -> set:
    rows = A.kcore(g, k=k).collect()
    return {r[VID] for r in rows if r["in_core"]}


def k_shell(g: Graph, k: int) -> set:
    rows = A.kshell(g, k=k).collect()
    return {r[VID] for r in rows if r["in_shell"]}


def k_truss(g: Graph, k: int) -> list[tuple[int, int]]:
    if g.edges.where(F.col("src") == F.col("dst")).limit(1).count():
        raise NetworkXNotImplemented(
            "Input graph has self loops which is not permitted; "
            "Consider using G.remove_edges_from(nx.selfloop_edges(G))."
        )
    return sorted((r["src"], r["dst"]) for r in A.k_truss(g, k=k).collect())


def maximal_independent_set(g: Graph) -> set:
    rows = A.maximal_independent_set(g).collect()
    return {r[VID] for r in rows if r["in_mis"]}


# -- components -------------------------------------------------------
def connected_components(g: Graph) -> list[set]:
    comp = _to_dict(A.wcc(g))
    groups: dict[int, set] = {}
    for v, c in comp.items():
        groups.setdefault(c, set()).add(v)
    return sorted(groups.values(), key=lambda s: (-len(s), min(s)))


def number_connected_components(g: Graph) -> int:
    return A.wcc(g).select("comp").distinct().count()


def strongly_connected_components(g: Graph) -> list[set]:
    comp = _to_dict(A.strongly_connected_components(g))
    groups: dict[int, set] = {}
    for v, c in comp.items():
        groups.setdefault(c, set()).add(v)
    return sorted(groups.values(), key=lambda s: (-len(s), min(s)))


# -- paths / traversal ------------------------------------------------
def single_source_shortest_path_length(g: Graph, source: int) -> dict:
    rows = A.bfs(g, source=source).collect()
    return {r[VID]: r["depth"] for r in rows if r["depth"] >= 0}


def shortest_path_length(g: Graph, source: int, weight: str | None = None) -> dict:
    if weight is None:
        return single_source_shortest_path_length(g, source)
    rows = A.sssp(g, source=source, weight=weight).collect()
    return {r[VID]: r["dist"] for r in rows if r["dist"] != float("inf")}


def has_path(g: Graph, source: int, target: int) -> bool:
    _require_nodes(g, source, target)
    return bool(_scalar(A.sssp_has_path(g, source=source, target=target)))


def average_shortest_path_length(g: Graph) -> float:
    # nx convention: undefined on trivial or disconnected graphs
    if g.num_vertices() <= 1:
        raise NetworkXError("Graph has fewer than two nodes.")
    if number_connected_components(g) != 1:
        raise NetworkXError("Graph is not connected.")
    return _scalar(A.sssp_average_length(g, weight=None))


def bfs_predecessors(g: Graph, source: int) -> dict:
    _require_nodes(g, source)
    rows = A.bfs_parent(g, source=source).collect()
    return {r[VID]: r["parent"] for r in rows if r["depth"] > 0}


def bfs_successors(g: Graph, source: int) -> dict:
    """parent → sorted list of children in the (deterministic min-parent)
    BFS tree (builtin.py bfs_successors analog).  Missing source raises
    (nx convention)."""
    _require_nodes(g, source)
    rows = A.bfs_parent(g, source=source).collect()
    out: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r["depth"], r[VID])):
        if r["depth"] > 0:
            out.setdefault(r["parent"], []).append(r[VID])
    return out


def bfs_edges(g: Graph, source: int) -> list:
    """Tree edges (parent, child) in discovery (depth, parent, child)
    order (builtin.py bfs_edges analog, deterministic parent choice)."""
    rows = A.bfs_parent(g, source=source).collect()
    return [
        (r["parent"], r[VID])
        for r in sorted(rows, key=lambda r: (r["depth"], r["parent"], r[VID]))
        if r["depth"] > 0
    ]


def bfs_tree(g: Graph, source: int) -> Graph:
    """The BFS tree as a directed Graph (builtin.py bfs_tree returns a
    DiGraph; here the same edge set stays a DataFrame-backed Graph)."""
    parents = A.bfs_parent(g, source=source)
    edges = parents.where(F.col("depth") > 0).select(
        F.col("parent").alias("src"), F.col(VID).alias("dst")
    )
    verts = parents.where(F.col("depth") >= 0).select(VID)
    return Graph.from_edges(
        edges, vertices=verts, directed=True, num_partitions=g.num_partitions
    )


def single_source_dijkstra_path_length(g: Graph, source: int, weight: str = "weight") -> dict:
    """builtin.py single_source_dijkstra_path_length analog — weighted
    distances from ``source`` (inf-unreachable dropped)."""
    rows = A.sssp(g, source=source, weight=weight).collect()
    return {r[VID]: r["dist"] for r in rows if r["dist"] != float("inf")}


def all_simple_edge_paths(g: Graph, source: int, target: int, cutoff: int = 5) -> list:
    """Each simple path as its edge list (builtin.py
    all_simple_edge_paths analog).  nx convention: ``source == target``
    yields exactly one empty path; a missing endpoint raises
    NodeNotFound, also when ``source == target``."""
    _require_nodes(g, source, target)
    if source == target:
        return [[]]
    rows = A.all_simple_paths(g, source=source, target=target, cutoff=cutoff).collect()
    paths = sorted([int(v) for v in r["path"].split("-")] for r in rows)
    return [list(zip(p[:-1], p[1:])) for p in paths]


def eccentricity(g: Graph) -> dict:
    """nx.eccentricity raises on disconnected input ("Found infinite
    path length...") — the distributed kernel returns per-component
    eccentricities, so guard here (round-5 differential find)."""
    if number_connected_components(g) != 1:
        raise NetworkXError(
            "Found infinite path length because the graph is not connected"
        )
    return {r[VID]: r["ecc"] for r in A.eccentricity(g).collect()}


def diameter(g: Graph) -> int:
    return _scalar(A.diameter_approx(g))


def radius(g: Graph) -> int:
    """min eccentricity; nx raises on disconnected input."""
    if number_connected_components(g) != 1:
        raise NetworkXError("Found infinite path length because the graph is not connected")
    return min(eccentricity(g).values())


def center(g: Graph) -> set:
    """vertices whose eccentricity equals the radius."""
    ecc = eccentricity(g)
    if number_connected_components(g) != 1:
        raise NetworkXError("Found infinite path length because the graph is not connected")
    r = min(ecc.values())
    return {v for v, e in ecc.items() if e == r}


def periphery(g: Graph) -> set:
    """vertices whose eccentricity equals the diameter."""
    ecc = eccentricity(g)
    if number_connected_components(g) != 1:
        raise NetworkXError("Found infinite path length because the graph is not connected")
    d = max(ecc.values())
    return {v for v, e in ecc.items() if e == d}


def isolates(g: Graph) -> set:
    """vertices with no incident edges (self-loops count as incident)."""
    touched = (
        g.edges.select(F.col("src").alias(VID))
        .unionByName(g.edges.select(F.col("dst").alias(VID)))
        .distinct()
    )
    return {
        r[VID]
        for r in g.vertices.select(VID).join(touched, VID, "anti").collect()
    }


def number_of_isolates(g: Graph) -> int:
    return len(isolates(g))


# -- assortativity / mixing ------------------------------------------
def degree_assortativity_coefficient(g: Graph) -> float:
    return _scalar(A.degree_assortativity(g))


def attribute_assortativity_coefficient(g: Graph, attrs: DataFrame) -> float:
    return _scalar(A.attribute_assortativity(g, attrs))


def numeric_assortativity_coefficient(g: Graph, attrs: DataFrame) -> float:
    return _scalar(A.numeric_assortativity(g, attrs))


def average_degree_connectivity(g: Graph) -> dict:
    """Documented deviation: self-loops are IGNORED (the symmetrized
    LDBC edge set is loop-free), while nx counts a loop as degree 2 and
    as a self-neighbor.  Differential tests therefore use loop-free
    inputs; every other convention (isolates class, undirected degree)
    matches nx."""
    out = {r["degree"]: r["knn"] for r in A.average_degree_connectivity(g).collect()}
    # NX includes the degree-0 class (isolated vertices) as {0: 0}; the
    # core op's domain is vertices with edges (LDBC convention)
    endpoints = g.symmetrized().select(F.col(SRC).alias(VID))
    if g.vertices.join(endpoints, VID, "left_anti").limit(1).count():
        out[0] = 0
    return out


# -- boundary ---------------------------------------------------------
def node_boundary(g: Graph, nbunch: list[int]) -> set:
    s = g.edges.sparkSession.createDataFrame([(int(v),) for v in nbunch], "vid long")
    return {r[VID] for r in A.node_boundary(g, s).collect()}


def edge_boundary(g: Graph, nbunch: list[int]) -> list[tuple[int, int]]:
    s = g.edges.sparkSession.createDataFrame([(int(v),) for v in nbunch], "vid long")
    return sorted((r["src"], r["dst"]) for r in A.edge_boundary(g, s).collect())


def minimum_spanning_edges(g: Graph, weight: str = "weight") -> list[tuple[int, int, float]]:
    rows = A.minimum_spanning_forest(g, weight=weight).collect()
    return sorted((r["src"], r["dst"], r["weight"]) for r in rows)


# -- link prediction --------------------------------------------------
def jaccard_coefficient(g: Graph) -> list[tuple[int, int, float]]:
    rows = A.link_prediction(g).collect()
    return sorted((r["a"], r["b"], r["jaccard"]) for r in rows)


def adamic_adar_index(g: Graph) -> list[tuple[int, int, float]]:
    rows = A.link_prediction(g).collect()
    return sorted((r["a"], r["b"], r["adamic_adar"]) for r in rows)


def preferential_attachment(g: Graph) -> list[tuple[int, int, int]]:
    rows = A.link_prediction(g).collect()
    return sorted((r["a"], r["b"], r["pref_attach"]) for r in rows)


# -- shortest-path variants (round 3: NX long tail) --------------------
def _follow_tree(tree: dict, source: int, target: int) -> list:
    if target not in tree:
        raise NetworkXNoPath(f"no path to {target}")
    path = [target]
    while path[-1] != source:
        path.append(tree[path[-1]])
    return list(reversed(path))


def shortest_path(g: Graph, source: int, target: int, weight: str | None = None) -> list:
    """One shortest path source→target as a node list (NX
    shortest_path); unweighted hops when ``weight`` is None.  A missing
    endpoint raises NodeNotFound (nx), NOT NetworkXNoPath."""
    _require_nodes(g, source, target)
    tree = {
        r[VID]: r["pred"]
        for r in A.sssp_path(g, source=source, weight=weight).collect()
    }
    return _follow_tree(tree, source, target)


def dijkstra_path(g: Graph, source: int, target: int, weight: str = "weight") -> list:
    return shortest_path(g, source, target, weight=weight)


def bidirectional_shortest_path(g: Graph, source: int, target: int) -> list:
    return shortest_path(g, source, target, weight=None)


def single_target_shortest_path_length(g: Graph, target: int) -> dict:
    """{u: hops u→target} — BFS from ``target`` over reversed edges."""
    rev = Graph(
        g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ),
        g.vertices,
        directed=g.directed,
        num_partitions=g.num_partitions,
    )
    res = A.bfs(rev, source=target, directed=g.directed)
    return {r[VID]: r["depth"] for r in res.collect() if r["depth"] >= 0}


def all_pairs_shortest_path_length(g: Graph) -> dict:
    """{u: {v: d}} for every reachable pair — the FULL APSP surface
    (reference apps/apsp/); O(V·E) compute, collect()-bound output."""
    pairs = A.multi_source_distances(g, None, weight=None, directed=None)
    out: dict = {}
    for r in pairs.collect():
        out.setdefault(r["root"], {})[r[VID]] = (
            int(r["dist"]) if float(r["dist"]).is_integer() else r["dist"]
        )
    return out


# -- structure scalars --------------------------------------------------
def density(g: Graph) -> float:
    # nx counts self-loops in m (distinct_edges/symmetrized strip them,
    # which under-counted density on loopy graphs)
    n = g.num_vertices()
    if n <= 1:
        return 0.0
    e = g.edges.dropDuplicates(["src", "dst"])
    if g.directed:
        return e.count() / (n * (n - 1))
    m = (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .count()
    )
    return 2.0 * m / (n * (n - 1))


def degree_histogram(g: Graph) -> list:
    deg = (
        g.symmetrized()
        .groupBy(F.col("src").alias(VID))
        .agg(F.count(F.lit(1)).alias("d"))
        .join(g.vertices.select(VID), VID, "right")
        .select(F.coalesce("d", F.lit(0)).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = {r["d"]: r["c"] for r in deg}
    top = max(counts) if counts else 0
    return [counts.get(i, 0) for i in range(top + 1)]


def is_connected(g: Graph) -> bool:
    return number_connected_components(g) == 1


def number_of_selfloops(g: Graph) -> int:
    return g.edges.where(F.col("src") == F.col("dst")).count()


def reciprocity(g: Graph) -> float:
    """nx.overall_reciprocity convention (vendored reciprocity tests):
    ``2·(m − m_undirected) / m`` over DISTINCT directed edges — a
    self-loop counts in the denominator but is never reciprocated (it
    collapses to itself in the undirected edge set), and an edgeless
    graph raises NetworkXError, matching nx 3.6 exactly."""
    e = g.edges.select("src", "dst").distinct().cache()
    m = e.count()
    if m == 0:
        e.unpersist()
        raise NetworkXError("Not defined for empty graphs")
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .count()
    )
    e.unpersist()
    return 2.0 * (m - und) / m


# -- coloring / communities ---------------------------------------------
def greedy_color(g: Graph) -> dict:
    return _to_dict(A.graph_coloring(g).select(VID, "color"))


def louvain_communities(g: Graph) -> list[set]:
    comm: dict = {}
    for r in A.louvain(g).collect():
        comm.setdefault(r["community"], set()).add(r[VID])
    return sorted(comm.values(), key=lambda s: min(s))


# -- bipartite module -----------------------------------------------------
def _parity_color(g: Graph) -> DataFrame:
    """(vid, color 0/1): BFS depth parity from each component's min-vid
    root — the distributed 2-coloring attempt behind is_bipartite."""
    comp = A.wcc(g)
    roots = [r[0] for r in comp.select("comp").distinct().collect()]
    pairs = A.multi_source_distances(g, roots, weight=None, directed=False)
    return pairs.select(VID, (F.col("dist").cast("long") % 2).alias("color"))


def is_bipartite(g: Graph) -> bool:
    colors = _parity_color(g)
    sym = g.symmetrized()
    bad = (
        sym.join(colors.select(F.col(VID).alias("src"), F.col("color").alias("cs")), "src")
        .join(colors.select(F.col(VID).alias("dst"), F.col("color").alias("cd")), "dst")
        .where(F.col("cs") == F.col("cd"))
        .limit(1)
        .count()
    )
    return bad == 0


def bipartite_color(g: Graph) -> dict:
    """NX bipartite.color: a proper 2-coloring; raises if impossible."""
    if not is_bipartite(g):
        raise NetworkXError("graph is not bipartite")
    return _to_dict(_parity_color(g))


def bipartite_sets(g: Graph) -> tuple[set, set]:
    """nx.bipartite.sets convention: a DISCONNECTED graph has no
    canonical two-set split (each component could flip), so nx raises
    AmbiguousSolution — mirrored here (vendored bipartite tests)."""
    if not is_connected(g):
        raise AmbiguousSolution(
            "Disconnected graph: Ambiguous solution for bipartite sets."
        )
    colors = bipartite_color(g)
    return (
        {v for v, c in colors.items() if c == 0},
        {v for v, c in colors.items() if c == 1},
    )


def bipartite_density(g: Graph, nodes: list[int]) -> float:
    """NX bipartite.density(B, nodes): m / (|nodes| · |others|)
    (undirected convention)."""
    nodes_set = set(nodes)
    n_top = len(nodes_set)
    n_bot = g.num_vertices() - n_top
    if n_top == 0 or n_bot == 0:
        return 0.0
    m = g.symmetrized().count() / 2
    return m / (n_top * n_bot)


def bipartite_degrees(g: Graph, nodes: list[int]) -> tuple[dict, dict]:
    """NX bipartite.degrees(B, nodes): (degrees of the OTHER side,
    degrees of ``nodes``)."""
    deg = {
        r[VID]: r["d"]
        for r in g.symmetrized()
        .groupBy(F.col("src").alias(VID))
        .agg(F.count(F.lit(1)).alias("d"))
        .join(g.vertices.select(VID), VID, "right")
        .select(VID, F.coalesce("d", F.lit(0)).alias("d"))
        .collect()
    }
    nodes_set = set(nodes)
    return (
        {v: d for v, d in deg.items() if v not in nodes_set},
        {v: d for v, d in deg.items() if v in nodes_set},
    )


def bipartite_projected_graph(g: Graph, nodes: list[int]) -> Graph:
    """NX bipartite.projected_graph: the graph on ``nodes`` with an
    edge (u, w) when they share any neighbor — one wedge self-join on
    the shared-neighbor key (broadcastable node filter; at scale pass
    the node set as a DataFrame semi-join instead of an isin literal)."""
    spark = g.edges.sparkSession
    nodes_df = spark.createDataFrame([(int(v),) for v in nodes], f"{VID} long")
    sym = g.symmetrized()
    side = sym.join(nodes_df.select(F.col(VID).alias("src")), "src", "semi")
    a = side.select(F.col("src").alias("u"), F.col("dst").alias("n"))
    b = side.select(F.col("src").alias("w"), F.col("dst").alias("n"))
    edges = (
        a.join(b, "n")
        .where(F.col("u") < F.col("w"))
        .select(F.col("u").alias("src"), F.col("w").alias("dst"))
        .distinct()
    )
    return Graph(edges, nodes_df, directed=False, num_partitions=g.num_partitions)


# -- DAG family (round 3c: NX long tail) -------------------------------
def descendants(g: Graph, source: int) -> set:
    """All vertices reachable from ``source`` along directed edges
    (nx.descendants): one directed BFS."""
    rows = A.bfs(g, source=source, directed=True).collect()
    return {r[VID] for r in rows if r["depth"] >= 0 and r[VID] != source}


def ancestors(g: Graph, source: int) -> set:
    """All vertices that reach ``source`` (nx.ancestors): the same BFS
    on the reversed-arc view."""
    rows = A.bfs(g.reverse(), source=source, directed=True).collect()
    return {r[VID] for r in rows if r["depth"] >= 0 and r[VID] != source}


def _kahn_generations(g: Graph) -> tuple[DataFrame, int]:
    """(vid, gen) Kahn layering: gen r = vertices whose in-neighbors
    all sit in generations < r.  Returns (assigned, n_unassigned);
    n_unassigned > 0 ⟺ a directed cycle survives every peel.

    One join + anti-join per layer, assigned set checkpointed per
    round — O(DAG depth) rounds, each a single shuffle over the
    remaining edges (the standard iterative-peel shape, cf. kcore)."""
    e = g.distinct_edges().cache()
    verts = g.vertices.select(VID)
    assigned = (
        verts.join(e.select(F.col(DST).alias(VID)), VID, "left_anti")
        .select(VID, F.lit(0).alias("gen"))
        .localCheckpoint(eager=True)
    )
    gen = 0
    while True:
        unassigned = verts.join(assigned.select(VID), VID, "left_anti")
        if unassigned.limit(1).count() == 0:
            e.unpersist()
            return assigned, 0
        gen += 1
        # dsts still blocked: an in-edge from an unassigned src
        blocked = (
            e.join(unassigned.select(F.col(VID).alias(SRC)), SRC)
            .select(F.col(DST).alias(VID))
            .distinct()
        )
        newly = unassigned.join(blocked, VID, "left_anti").select(
            VID, F.lit(gen).alias("gen")
        )
        if newly.limit(1).count() == 0:
            n_left = unassigned.count()
            e.unpersist()
            return assigned, n_left
        assigned = assigned.unionByName(newly).localCheckpoint(eager=True)


def is_directed_acyclic_graph(g: Graph) -> bool:
    """nx.is_directed_acyclic_graph: the zero-indegree peel consumes
    every vertex ⟺ no directed cycle."""
    _, left = _kahn_generations(g)
    return left == 0


def topological_generations(g: Graph) -> list[set]:
    """nx.topological_generations: antichain layers of the DAG.
    Raises on a cyclic graph, like NX's NetworkXUnfeasible."""
    assigned, left = _kahn_generations(g)
    if left:
        raise NetworkXUnfeasible("graph contains a cycle")
    layers: dict[int, set] = {}
    for r in assigned.collect():
        layers.setdefault(r["gen"], set()).add(r[VID])
    return [layers[i] for i in sorted(layers)]


def topological_sort(g: Graph) -> list:
    """A valid topological order (layer-major, vid within layer —
    deterministic, one of NX's admissible orders)."""
    return [v for layer in topological_generations(g) for v in sorted(layer)]


def condensation(g: Graph) -> tuple[Graph, dict]:
    """nx.condensation: the SCC quotient DAG.  Returns (quotient graph,
    vid → component-id mapping); component ids are the MIN member vid
    (deterministic, unlike NX's discovery order)."""
    comp = A.strongly_connected_components(g)
    m = comp.groupBy("scc").agg(F.min(VID).alias("cid"))
    lab = comp.join(m, "scc").select(VID, "cid")
    e = (
        g.distinct_edges()
        .join(lab.select(F.col(VID).alias(SRC), F.col("cid").alias("cs")), SRC)
        .join(lab.select(F.col(VID).alias(DST), F.col("cid").alias("cd")), DST)
        .where(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias(SRC), F.col("cd").alias(DST))
        .distinct()
    )
    qg = Graph.from_edges(
        e,
        lab.select(F.col("cid").alias(VID)).distinct(),
        directed=True,
        num_partitions=g.num_partitions,
    )
    return qg, {r[VID]: r["cid"] for r in lab.collect()}


def common_neighbors(g: Graph, u: int, v: int) -> set:
    """nx.common_neighbors on the undirected view."""
    sym = g.symmetrized()
    nu = sym.where(F.col(SRC) == u).select(F.col(DST).alias(VID))
    nv = sym.where(F.col(SRC) == v).select(F.col(DST).alias(VID))
    return {r[VID] for r in nu.join(nv, VID, "semi").collect()}
