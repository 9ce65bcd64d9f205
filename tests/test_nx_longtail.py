"""NX long-tail edge-case parity (VERDICT r3 task 6): the reference
vendors the whole NetworkX suite (python/graphscope/nx/tests/); this
file ports the highest-traffic EDGE-CASE behaviors — self-loops,
disconnected inputs, empty graphs, isolated vertices, cyclic DAG
inputs — for the most-used facade functions, differentially against
real networkx 3.6."""

from __future__ import annotations

import pytest

nx = pytest.importorskip("networkx")

from graphscope_spark import Graph
from graphscope_spark import nx as gnx

# -- fixture graphs ----------------------------------------------------

LOOP_EDGES = [(0, 1), (1, 2), (2, 0), (2, 2), (3, 3), (1, 3)]
LOOP_VERTICES = [0, 1, 2, 3, 4]           # 4 isolated

DISC_EDGES = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12)]
DISC_VERTICES = [0, 1, 2, 10, 11, 12, 20]  # 20 isolated


def _g(spark, edges, vertices, directed=True):
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in vertices], "vid long")
    return Graph.from_edges(e, v, directed=directed, num_partitions=4)


@pytest.fixture(scope="module")
def loop_g(spark):
    return _g(spark, LOOP_EDGES, LOOP_VERTICES)


@pytest.fixture(scope="module")
def loop_nxd():
    g = nx.DiGraph()
    g.add_nodes_from(LOOP_VERTICES)
    g.add_edges_from(LOOP_EDGES)
    return g


@pytest.fixture(scope="module")
def disc_g(spark):
    return _g(spark, DISC_EDGES, DISC_VERTICES)


@pytest.fixture(scope="module")
def disc_nxd():
    g = nx.DiGraph()
    g.add_nodes_from(DISC_VERTICES)
    g.add_edges_from(DISC_EDGES)
    return g


@pytest.fixture(scope="module")
def empty_g(spark):
    return _g(spark, [], [0, 1, 2])


@pytest.fixture(scope="module")
def empty_nxd():
    g = nx.DiGraph()
    g.add_nodes_from([0, 1, 2])
    return g


# -- self-loop conventions --------------------------------------------


def test_selfloop_count(loop_g, loop_nxd):
    assert gnx.number_of_selfloops(loop_g) == nx.number_of_selfloops(loop_nxd)


def test_selfloop_degree_centrality(loop_g, loop_nxd):
    got = gnx.degree_centrality(loop_g)
    exp = nx.degree_centrality(loop_nxd)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9), k


def test_selfloop_in_out_degree_centrality(loop_g, loop_nxd):
    for gf, nf in (
        (gnx.in_degree_centrality, nx.in_degree_centrality),
        (gnx.out_degree_centrality, nx.out_degree_centrality),
    ):
        got, exp = gf(loop_g), nf(loop_nxd)
        assert set(got) == set(exp)
        for k in exp:
            assert got[k] == pytest.approx(exp[k], abs=1e-9), k


def test_selfloops_ignored_by_triangles(loop_g, loop_nxd):
    u = loop_nxd.to_undirected()
    assert gnx.triangles(loop_g) == nx.triangles(u)
    got, exp = gnx.clustering(loop_g), nx.clustering(u)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9), k


def test_selfloop_density(loop_g, loop_nxd):
    assert gnx.density(loop_g) == pytest.approx(nx.density(loop_nxd), abs=1e-12)


# -- disconnected inputs ----------------------------------------------


def test_disconnected_components(disc_g, disc_nxd):
    got = {frozenset(c) for c in gnx.connected_components(disc_g)}
    exp = {frozenset(c) for c in nx.connected_components(disc_nxd.to_undirected())}
    assert got == exp
    assert gnx.number_connected_components(disc_g) == nx.number_connected_components(
        disc_nxd.to_undirected()
    )


def test_disconnected_is_connected(disc_g, disc_nxd):
    assert gnx.is_connected(disc_g) is False
    assert nx.is_connected(disc_nxd.to_undirected()) is False


def test_disconnected_sssp_reaches_only_component(disc_g, disc_nxd):
    got = gnx.single_source_shortest_path_length(disc_g, 0)
    exp = dict(nx.single_source_shortest_path_length(disc_nxd, 0))
    assert got == exp  # no inf entries for the other component


def test_disconnected_has_path(disc_g, disc_nxd):
    assert gnx.has_path(disc_g, 0, 12) is nx.has_path(disc_nxd, 0, 12) is False
    assert gnx.has_path(disc_g, 10, 12) is nx.has_path(disc_nxd, 10, 12) is True


def test_disconnected_average_shortest_path_length_raises(disc_g, disc_nxd):
    with pytest.raises(nx.NetworkXError):
        nx.average_shortest_path_length(disc_nxd)
    with pytest.raises(Exception):
        gnx.average_shortest_path_length(disc_g)


def test_isolated_vertex_in_degree_histogram(disc_g, disc_nxd):
    assert gnx.degree_histogram(disc_g) == nx.degree_histogram(
        disc_nxd.to_undirected()
    )


def test_isolated_source_bfs(disc_g, disc_nxd):
    assert gnx.single_source_shortest_path_length(disc_g, 20) == dict(
        nx.single_source_shortest_path_length(disc_nxd, 20)
    )
    t = gnx.bfs_tree(disc_g, 20)
    nt = nx.bfs_tree(disc_nxd, 20)
    assert {r["vid"] for r in t.vertices.collect()} == set(nt.nodes)
    assert t.edges.count() == nt.number_of_edges() == 0


# -- empty / trivial graphs -------------------------------------------


def test_empty_graph_basics(empty_g, empty_nxd):
    assert gnx.density(empty_g) == nx.density(empty_nxd) == 0.0
    assert gnx.number_of_selfloops(empty_g) == 0
    assert gnx.triangles(empty_g) == nx.triangles(empty_nxd.to_undirected())
    assert gnx.transitivity(empty_g) == nx.transitivity(empty_nxd.to_undirected()) == 0


def test_empty_graph_components(empty_g, empty_nxd):
    got = {frozenset(c) for c in gnx.connected_components(empty_g)}
    exp = {frozenset(c) for c in nx.connected_components(empty_nxd.to_undirected())}
    assert got == exp == {frozenset({0}), frozenset({1}), frozenset({2})}


def test_empty_graph_degree_centrality(empty_g, empty_nxd):
    assert gnx.degree_centrality(empty_g) == nx.degree_centrality(empty_nxd)


def test_empty_graph_pagerank_uniform(empty_g, empty_nxd):
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    got = gnx.pagerank(empty_g, max_iter=50, tol=1e-10)
    exp = _pagerank_python(empty_nxd)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


# -- directed-vs-undirected and DAG kwarg/exception conventions -------


def test_reciprocity(disc_g, disc_nxd):
    assert gnx.reciprocity(disc_g) == pytest.approx(
        nx.reciprocity(disc_nxd), abs=1e-12
    )


def test_cyclic_graph_is_not_dag(disc_g, disc_nxd):
    assert gnx.is_directed_acyclic_graph(disc_g) is nx.is_directed_acyclic_graph(
        disc_nxd
    ) is False


def test_topological_sort_on_cycle_raises(disc_g, disc_nxd):
    with pytest.raises(nx.NetworkXUnfeasible):
        list(nx.topological_sort(disc_nxd))
    with pytest.raises(Exception):
        gnx.topological_sort(disc_g)


def test_dag_topological_generations(spark):
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    g = _g(spark, edges, [0, 1, 2, 3, 4])
    d = nx.DiGraph(edges)
    assert [set(s) for s in gnx.topological_generations(g)] == [
        set(s) for s in nx.topological_generations(d)
    ]


def test_k_core_above_degeneracy_is_empty(disc_g, disc_nxd):
    u = disc_nxd.to_undirected()
    assert gnx.k_core(disc_g, 5) == set(nx.k_core(u, 5).nodes) == set()


def test_odd_even_cycle_bipartite(spark):
    odd = _g(spark, [(0, 1), (1, 2), (2, 0)], [0, 1, 2])
    even = _g(spark, [(0, 1), (1, 2), (2, 3), (3, 0)], [0, 1, 2, 3])
    assert gnx.is_bipartite(odd) is nx.is_bipartite(nx.cycle_graph(3)) is False
    assert gnx.is_bipartite(even) is nx.is_bipartite(nx.cycle_graph(4)) is True


def test_shortest_path_trivial_and_missing(disc_g, disc_nxd):
    assert gnx.shortest_path(disc_g, 0, 0) == nx.shortest_path(disc_nxd, 0, 0) == [0]
    with pytest.raises(nx.NetworkXNoPath):
        nx.shortest_path(disc_nxd, 0, 12)
    with pytest.raises(Exception):
        gnx.shortest_path(disc_g, 0, 12)


def test_core_number_rejects_selfloops(loop_g, loop_nxd):
    with pytest.raises(nx.NetworkXNotImplemented):
        nx.core_number(loop_nxd)
    with pytest.raises(Exception):
        gnx.core_number(loop_g)


def test_radius_center_periphery_connected(spark):
    # path graph 0-1-2-3-4 (undirected semantics via symmetrized facade)
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    g = _g(spark, edges, [0, 1, 2, 3, 4])
    u = nx.Graph(edges)
    assert gnx.radius(g) == nx.radius(u)
    assert gnx.center(g) == set(nx.center(u))
    assert gnx.periphery(g) == set(nx.periphery(u))


def test_radius_raises_on_disconnected(disc_g, disc_nxd):
    with pytest.raises(nx.NetworkXError):
        nx.radius(disc_nxd.to_undirected())
    with pytest.raises(Exception):
        gnx.radius(disc_g)


def test_isolates(disc_g, disc_nxd, loop_g, loop_nxd):
    assert gnx.isolates(disc_g) == set(nx.isolates(disc_nxd))
    assert gnx.number_of_isolates(disc_g) == nx.number_of_isolates(disc_nxd)
    # a self-loop vertex is NOT isolated
    assert gnx.isolates(loop_g) == set(nx.isolates(loop_nxd)) == {4}


# -- round 5: next 20 long-tail behaviors ------------------------------


@pytest.fixture(scope="module")
def disc_ug(spark):
    return _g(spark, DISC_EDGES, DISC_VERTICES, directed=False)


@pytest.fixture(scope="module")
def disc_nxu():
    g = nx.Graph()
    g.add_nodes_from(DISC_VERTICES)
    g.add_edges_from(DISC_EDGES)
    return g


def test_descendants_ancestors_disconnected(disc_g, disc_nxd):
    for v in (0, 10, 20):
        assert gnx.descendants(disc_g, v) == nx.descendants(disc_nxd, v)
        assert gnx.ancestors(disc_g, v) == nx.ancestors(disc_nxd, v)


def test_descendants_with_selfloop(loop_g, loop_nxd):
    for v in (0, 2, 3):
        assert gnx.descendants(loop_g, v) == nx.descendants(loop_nxd, v)


def test_bfs_tree_from_isolated(disc_g, disc_nxd):
    t = gnx.bfs_tree(disc_g, 20)
    nt = nx.bfs_tree(disc_nxd, 20)
    assert {r["vid"] for r in t.vertices.collect()} == set(nt.nodes)
    assert t.edges.count() == nt.number_of_edges() == 0


def test_bfs_edges_vs_nx_edge_set(disc_g, disc_nxd):
    # BFS tree edge sets agree level-by-level up to sibling order; on
    # this graph each vertex has a unique predecessor, so sets match
    assert set(gnx.bfs_edges(disc_g, 10)) == set(nx.bfs_edges(disc_nxd, 10))


def test_single_target_shortest_path_length_disconnected(disc_g, disc_nxd):
    got = gnx.single_target_shortest_path_length(disc_g, 2)
    want = dict(nx.single_target_shortest_path_length(disc_nxd, 2))
    assert got == want


def test_all_pairs_shortest_path_length(disc_g, disc_nxd):
    got = gnx.all_pairs_shortest_path_length(disc_g)
    want = {s: dict(d) for s, d in nx.all_pairs_shortest_path_length(disc_nxd)}
    assert got == want


def test_condensation_mapping(disc_g, disc_nxd):
    _, mapping = gnx.condensation(disc_g)
    nc = nx.condensation(disc_nxd)
    nmap = nc.graph["mapping"]
    # same partition into SCCs (ids differ: ours are min-vid)
    from collections import defaultdict

    def blocks(m):
        b = defaultdict(set)
        for v, c in m.items():
            b[c].add(v)
        return sorted(b.values(), key=min)

    assert blocks(mapping) == blocks(nmap)


def test_condensation_quotient_is_dag(disc_g):
    qg, _ = gnx.condensation(disc_g)
    assert gnx.is_directed_acyclic_graph(qg)


def test_link_prediction_on_undirected(disc_ug, disc_nxu):
    got = {(u, v): round(p, 9) for u, v, p in gnx.jaccard_coefficient(disc_ug)}
    want = {
        (min(u, v), max(u, v)): round(p, 9)
        for u, v, p in nx.jaccard_coefficient(disc_nxu)
    }
    norm = {(min(u, v), max(u, v)): p for (u, v), p in got.items()}
    # nx only emits non-edges with >=1 common neighbor? it emits all
    # non-edge pairs of the ebunch default; compare on shared keys and
    # require agreement wherever both produced a score
    for k in set(norm) & set(want):
        assert abs(norm[k] - want[k]) < 1e-9


def test_preferential_attachment_values(disc_ug, disc_nxu):
    got = {(min(u, v), max(u, v)): s for u, v, s in gnx.preferential_attachment(disc_ug)}
    want = {
        (min(u, v), max(u, v)): s
        for u, v, s in nx.preferential_attachment(disc_nxu)
    }
    for k in set(got) & set(want):
        assert got[k] == want[k]


def test_minimum_spanning_edges_forest(spark):
    edges = [(0, 1, 4.0), (1, 2, 1.0), (0, 2, 2.0), (10, 11, 3.0)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    g = Graph.from_edges(e, directed=False, weight="weight")
    ng = nx.Graph()
    for u, v, w in edges:
        ng.add_edge(u, v, weight=w)
    got = {(min(u, v), max(u, v)) for u, v, w in gnx.minimum_spanning_edges(g)}
    want = {
        (min(u, v), max(u, v))
        for u, v, _ in nx.minimum_spanning_edges(ng, data=True)
    }
    assert got == want


def test_harmonic_centrality_disconnected(disc_g, disc_nxd):
    got = gnx.harmonic_centrality(disc_g)
    want = nx.harmonic_centrality(disc_nxd)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_density_single_node(spark):
    g1 = _g(spark, [], [7])
    n1 = nx.DiGraph()
    n1.add_node(7)
    assert gnx.density(g1) == nx.density(n1) == 0.0


def test_transitivity_empty_and_no_triangles(empty_g, empty_nxd, disc_ug, disc_nxu):
    assert gnx.transitivity(empty_g) == nx.transitivity(empty_nxd) == 0.0
    assert abs(gnx.transitivity(disc_ug) - nx.transitivity(disc_nxu)) < 1e-12


def test_average_clustering_empty(empty_g, empty_nxd):
    # nx raises ZeroDivisionError on 0 nodes? our empty fixture has 3
    # isolated nodes: avg clustering is 0.0
    assert gnx.average_clustering(empty_g) == nx.average_clustering(empty_nxd) == 0.0


def test_is_bipartite_with_isolates(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]  # even cycle
    g = _g(spark, edges, [0, 1, 2, 3, 9], directed=False)
    ng = nx.Graph()
    ng.add_nodes_from([0, 1, 2, 3, 9])
    ng.add_edges_from(edges)
    assert gnx.is_bipartite(g) == nx.is_bipartite(ng) is True


def test_greedy_color_is_proper_and_compact(disc_ug, disc_nxu):
    got = gnx.greedy_color(disc_ug)
    want = nx.greedy_color(disc_nxu)
    assert set(got) == set(want)
    # both must be PROPER colorings (exact colors may differ)
    for u, v in DISC_EDGES:
        assert got[u] != got[v]
    assert max(got.values()) <= max(want.values()) + 1


def test_voterank_more_seeds_than_nodes(disc_ug, disc_nxu):
    got = gnx.voterank(disc_ug, number_of_nodes=100)
    want = nx.voterank(disc_nxu, number_of_nodes=100)
    # both truncate to the vertices with positive vote score
    assert set(got) == set(want)


def test_common_neighbors_none(disc_ug, disc_nxu):
    assert gnx.common_neighbors(disc_ug, 0, 10) == set(
        nx.common_neighbors(disc_nxu, 0, 10)
    ) == set()
    assert gnx.common_neighbors(disc_ug, 0, 2) == set(
        nx.common_neighbors(disc_nxu, 0, 2)
    )


def test_pagerank_empty_edge_graph_uniform(empty_g, empty_nxd):
    # nx.pagerank needs scipy (absent in this container); NX semantics
    # on an edgeless graph are analytic: uniform 1/n
    got = gnx.pagerank(empty_g)
    assert set(got) == set(empty_nxd.nodes)
    for v in got:
        assert abs(got[v] - 1.0 / empty_nxd.number_of_nodes()) < 1e-9


def test_katz_disconnected_matches(disc_g, disc_nxd):
    got = gnx.katz_centrality(disc_g, alpha=0.05)
    want = nx.katz_centrality(disc_nxd, alpha=0.05)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6


def test_eccentricity_raises_on_disconnected(disc_ug, disc_nxu):
    with pytest.raises(Exception):
        nx.eccentricity(disc_nxu)
    with pytest.raises(Exception):
        gnx.eccentricity(disc_ug)


def test_exception_types_match_nx(disc_g, disc_nxd, disc_ug, disc_nxu, spark):
    """The reference's vendored NX tests assert exception TYPES; the
    facade's exceptions mirror networkx's class names (and still
    subclass ValueError for old call sites)."""
    # eccentricity / radius on disconnected: NetworkXError
    with pytest.raises(nx.NetworkXError):
        nx.eccentricity(disc_nxu)
    with pytest.raises(gnx.NetworkXError):
        gnx.eccentricity(disc_ug)
    with pytest.raises(gnx.NetworkXError):
        gnx.radius(disc_ug)
    # average_shortest_path_length on disconnected: NetworkXError
    with pytest.raises(nx.NetworkXError):
        nx.average_shortest_path_length(disc_nxu)
    with pytest.raises(gnx.NetworkXError):
        gnx.average_shortest_path_length(disc_ug)
    # topological sort of a cycle: NetworkXUnfeasible
    with pytest.raises(nx.NetworkXUnfeasible):
        list(nx.topological_sort(disc_nxd))
    with pytest.raises(gnx.NetworkXUnfeasible):
        gnx.topological_sort(disc_g)
    # shortest_path to an unreachable target: NetworkXNoPath
    with pytest.raises(nx.NetworkXNoPath):
        nx.shortest_path(disc_nxd, 0, 10)
    with pytest.raises(gnx.NetworkXNoPath):
        gnx.shortest_path(disc_g, 0, 10)
    # core_number with self-loops: NetworkXError
    # (loop fixtures are module-scoped; rebuild tiny here)
    lg = _g(spark, [(0, 0), (0, 1)], [0, 1])
    with pytest.raises(gnx.NetworkXError):
        gnx.core_number(lg)
    # backward compatibility: every facade exception is a ValueError
    assert issubclass(gnx.NetworkXError, ValueError)
    assert issubclass(gnx.NetworkXUnfeasible, ValueError)
    assert issubclass(gnx.NetworkXNoPath, ValueError)


# -- round-5b batch: reciprocity/bipartite/truss/voterank conventions --


def test_reciprocity_selfloop_nx_formula(loop_g, loop_nxd):
    """nx.overall_reciprocity counts a self-loop in the denominator but
    never as reciprocated (it collapses to itself undirected)."""
    assert gnx.reciprocity(loop_g) == pytest.approx(
        nx.reciprocity(loop_nxd), abs=1e-12
    )


def test_reciprocity_empty_raises(empty_g, empty_nxd):
    with pytest.raises(nx.NetworkXError):
        nx.reciprocity(empty_nxd)
    with pytest.raises(gnx.NetworkXError):
        gnx.reciprocity(empty_g)


def test_bipartite_sets_disconnected_ambiguous(spark):
    """nx.bipartite.sets raises AmbiguousSolution on disconnected
    input (each component's two-coloring could flip independently)."""
    import networkx.algorithms.bipartite as bp

    gg = _g(spark, [(0, 1), (2, 3)], [0, 1, 2, 3], directed=False)
    ng = nx.Graph([(0, 1), (2, 3)])
    with pytest.raises(nx.AmbiguousSolution):
        bp.sets(ng)
    with pytest.raises(gnx.AmbiguousSolution):
        gnx.bipartite_sets(gg)


def test_ktruss_selfloop_raises(spark):
    gg = _g(spark, [(0, 1), (1, 2), (2, 0), (2, 2)], [0, 1, 2], directed=False)
    ng = nx.Graph([(0, 1), (1, 2), (2, 0), (2, 2)])
    with pytest.raises(nx.NetworkXNotImplemented):
        nx.k_truss(ng, 3)
    with pytest.raises(gnx.NetworkXNotImplemented):
        gnx.k_truss(gg, 3)
    assert issubclass(gnx.NetworkXNotImplemented, ValueError)


def test_voterank_default_stops_early(spark):
    """nx.voterank() with no count elects only positive-vote seeds
    (P5 -> [1, 3], not all five nodes)."""
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    gg = _g(spark, edges, [0, 1, 2, 3, 4], directed=False)
    ng = nx.Graph(edges)
    assert gnx.voterank(gg) == nx.voterank(ng)


def test_attribute_assortativity_uniform_is_nan(spark):
    """A single attribute category makes (t-s)/(1-s) 0/0 -> nan in nx;
    the facade must not turn that into an exception or a number."""
    import math

    edges = [(0, 1), (1, 2)]
    gg = _g(spark, edges, [0, 1, 2], directed=False)
    ng = nx.Graph(edges)
    nx.set_node_attributes(ng, "x", "a")
    want = nx.attribute_assortativity_coefficient(ng, "a")
    attrs = gg.vertices.sparkSession.createDataFrame(
        [(0, "x"), (1, "x"), (2, "x")], "vid long, attr string"
    )
    got = gnx.attribute_assortativity_coefficient(gg, attrs)
    assert math.isnan(want)
    assert got is None or math.isnan(got)


def test_dijkstra_path_weighted(spark):
    """Weighted shortest path must pick the 2-hop cheap route over the
    1-hop expensive edge (and match nx node-for-node)."""
    rows = [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    from graphscope_spark.graph import Graph

    gg = Graph.from_edges(e, directed=True, num_partitions=4, weight="weight")
    ng = nx.DiGraph()
    ng.add_weighted_edges_from(rows)
    assert gnx.dijkstra_path(gg, 0, 3) == nx.dijkstra_path(ng, 0, 3)
    got = gnx.single_source_dijkstra_path_length(gg, 0)
    want = dict(nx.single_source_dijkstra_path_length(ng, 0))
    assert got == pytest.approx(want)


def test_dijkstra_path_no_path_raises(spark):
    rows = [(0, 1, 1.0), (2, 3, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    from graphscope_spark.graph import Graph

    gg = Graph.from_edges(e, directed=True, num_partitions=4, weight="weight")
    ng = nx.DiGraph()
    ng.add_weighted_edges_from(rows)
    with pytest.raises(nx.NetworkXNoPath):
        nx.dijkstra_path(ng, 0, 3)
    with pytest.raises(gnx.NetworkXNoPath):
        gnx.dijkstra_path(gg, 0, 3)


def test_all_simple_edge_paths_source_equals_target(disc_g, disc_nxd):
    """nx yields one empty path when source == target, and raises
    NodeNotFound first when that node is missing."""
    want = list(nx.all_simple_edge_paths(disc_nxd, 0, 0))
    got = list(gnx.all_simple_edge_paths(disc_g, 0, 0))
    assert got == want
    with pytest.raises(nx.NodeNotFound):
        list(nx.all_simple_edge_paths(disc_nxd, 99, 99))
    with pytest.raises(gnx.NodeNotFound):
        gnx.all_simple_edge_paths(disc_g, 99, 99)


def test_greedy_color_ignores_selfloops(loop_g, loop_nxd):
    """nx.greedy_color colors a self-loop node normally (the loop edge
    is ignored); the facade must terminate and stay proper on the
    non-loop edges."""
    want = nx.greedy_color(loop_nxd)
    got = gnx.greedy_color(loop_g)
    assert set(got) == set(want)
    for u, v in LOOP_EDGES:
        if u != v:
            assert got[u] != got[v]


def test_bfs_predecessors_successors_selfloop_graph(loop_g, loop_nxd):
    want_p = dict(nx.bfs_predecessors(loop_nxd, 0))
    got_p = dict(gnx.bfs_predecessors(loop_g, 0))
    assert got_p == want_p
    want_s = {k: sorted(v) for k, v in nx.bfs_successors(loop_nxd, 0)}
    got_s = {k: sorted(v) for k, v in gnx.bfs_successors(loop_g, 0).items()}
    assert got_s == want_s


def test_louvain_partition_validity(disc_ug):
    comms = gnx.louvain_communities(disc_ug)
    seen = [v for c in comms for v in c]
    assert len(seen) == len(set(seen))           # disjoint
    assert set(seen) == set(DISC_VERTICES)       # covers every node


def test_topological_generations_forest_with_isolate(spark):
    edges = [(0, 1), (0, 2), (10, 11)]
    verts = [0, 1, 2, 10, 11, 20]
    gg = _g(spark, edges, verts)
    ng = nx.DiGraph()
    ng.add_nodes_from(verts)
    ng.add_edges_from(edges)
    want = [sorted(gen) for gen in nx.topological_generations(ng)]
    got = [sorted(gen) for gen in gnx.topological_generations(gg)]
    assert got == want


# -- round-5c batch: NodeNotFound, isolate/self-loop centrality tails --


def test_missing_endpoint_raises_node_not_found(disc_g, disc_nxd):
    """nx distinguishes NodeNotFound (endpoint absent) from
    NetworkXNoPath (endpoints present, disconnected)."""
    with pytest.raises(nx.NodeNotFound):
        nx.shortest_path(disc_nxd, 0, 99)
    with pytest.raises(gnx.NodeNotFound):
        gnx.shortest_path(disc_g, 0, 99)
    with pytest.raises(nx.NodeNotFound):
        nx.has_path(disc_nxd, 99, 0)
    with pytest.raises(gnx.NodeNotFound):
        gnx.has_path(disc_g, 99, 0)
    assert issubclass(gnx.NodeNotFound, ValueError)


def test_closeness_with_isolate_wf_scaling(spark):
    """nx closeness scales by (reachable-1)/(n-1) and gives isolates
    0.0 — both conventions on one disconnected input."""
    edges = [(0, 1), (1, 2)]
    gg = _g(spark, edges, [0, 1, 2, 9], directed=False)
    ng = nx.Graph(edges)
    ng.add_node(9)
    want = nx.closeness_centrality(ng)
    got = gnx.closeness_centrality(gg)
    assert got == pytest.approx(want, abs=1e-9)


def test_harmonic_ignores_selfloop(spark):
    edges = [(0, 1), (1, 1)]
    gg = _g(spark, edges, [0, 1], directed=False)
    ng = nx.Graph(edges)
    assert gnx.harmonic_centrality(gg) == pytest.approx(
        nx.harmonic_centrality(ng), abs=1e-9
    )


def test_core_number_edgeless_all_zero(empty_g, empty_nxd):
    assert gnx.core_number(empty_g) == nx.core_number(empty_nxd)
    assert sorted(gnx.k_core(empty_g, 1)) == sorted(nx.k_core(empty_nxd, 1).nodes())


def test_scc_selfloop_singleton(spark):
    """A self-loop vertex is its own SCC — the loop neither merges nor
    splits anything."""
    edges = [(0, 1), (2, 2)]
    gg = _g(spark, edges, [0, 1, 2])
    ng = nx.DiGraph(edges)
    want = sorted(sorted(c) for c in nx.strongly_connected_components(ng))
    got = sorted(sorted(c) for c in gnx.strongly_connected_components(gg))
    assert got == want


def test_bfs_missing_source_raises(disc_g, disc_nxd):
    with pytest.raises(nx.NetworkXError):
        dict(nx.bfs_successors(disc_nxd, 99))
    with pytest.raises((gnx.NetworkXError, gnx.NodeNotFound)):
        gnx.bfs_successors(disc_g, 99)
