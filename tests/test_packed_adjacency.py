"""Skew-aware packed adjacency (skew.packed_adjacency): hub split
correctness, and gather equivalence across the two skew.Gather layouts
(packed adjacency vs edge rows) for every algorithm with an
``adjacency=`` switch.  SSSP always gathers packed, so it has no second
layout to compare."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from graphscope_spark import Graph
from graphscope_spark.skew import packed_adjacency
from tests.conftest import make_random_graph


@pytest.fixture(scope="module")
def hub_graph(spark):
    """Random graph + one 40-out-degree hub (vertex 999)."""
    vertices, edges = make_random_graph(n=120, seed=13)
    hub_edges = [(999, v) for v in vertices[:40]]
    all_edges = sorted(set(edges) | set(hub_edges))
    e = spark.createDataFrame(all_edges, "src long, dst long")
    v = spark.createDataFrame(
        [(i,) for i in vertices + [999]], "vid long"
    )
    return Graph.from_edges(e, v, directed=True, num_partitions=4)


def test_hub_split(spark, hub_graph):
    adj, rest = packed_adjacency(hub_graph.edges, cap=30)
    adj_srcs = {r["src"] for r in adj.select("src").collect()}
    rest_srcs = {r["src"] for r in rest.select("src").distinct().collect()}
    assert 999 not in adj_srcs           # über-degree source stays row-form
    assert rest_srcs == {999}
    # the two parts partition the edge multiset exactly
    n_adj = adj.select(F.explode("_nbrs")).count()
    assert n_adj + rest.count() == hub_graph.edges.count()


def test_weighted_struct_packing(spark):
    e = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 3.0), (1, 2, 4.0)], "src long, dst long, w double"
    )
    adj, rest = packed_adjacency(e, extra=["w"], cap=10)
    assert rest.count() == 0
    rows = {
        (r["src"], r["_nb"]["d"]): r["_nb"]["w"]
        for r in adj.select("src", F.explode("_nbrs").alias("_nb")).collect()
    }
    assert rows == {(0, 1): 2.0, (0, 2): 3.0, (1, 2): 4.0}


def test_pagerank_gather_paths_bit_equal(spark, hub_graph):
    from graphscope_spark.algorithms import pagerank

    a = {r["vid"]: r["rank"] for r in pagerank(
        hub_graph, tol=None, max_iter=5, adjacency=True).collect()}
    b = {r["vid"]: r["rank"] for r in pagerank(
        hub_graph, tol=None, max_iter=5, adjacency=False).collect()}
    assert set(a) == set(b)
    for v in a:  # order-insensitive to 1e-12; sums may reorder
        assert a[v] == pytest.approx(b[v], abs=1e-12), v


def test_wcc_gather_paths_identical(spark, hub_graph):
    from graphscope_spark.algorithms import wcc

    a = {r["vid"]: r["comp"] for r in wcc(
        hub_graph, local_finish_rows=0, adjacency=True).collect()}
    b = {r["vid"]: r["comp"] for r in wcc(
        hub_graph, local_finish_rows=0, adjacency=False).collect()}
    assert a == b  # min labels: exactly identical


def test_pagerank_weighted_gather_paths_equal(spark, hub_graph):
    from graphscope_spark.algorithms import pagerank

    e = hub_graph.edges.withColumn(
        "weight", ((F.col("src") * 7 + F.col("dst")) % 5 + 1).cast("double")
    )
    wg = Graph.from_edges(
        e, hub_graph.vertices, directed=True, num_partitions=4, weight="weight"
    )
    a = {r["vid"]: r["rank"] for r in pagerank(
        wg, tol=None, max_iter=5, weight="weight", adjacency=True).collect()}
    b = {r["vid"]: r["rank"] for r in pagerank(
        wg, tol=None, max_iter=5, weight="weight", adjacency=False).collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_cdlp_gather_paths_identical(spark, hub_graph):
    from graphscope_spark.algorithms import cdlp

    a = {r["vid"]: r["label"] for r in cdlp(
        hub_graph, max_round=5, adjacency=True).collect()}
    b = {r["vid"]: r["label"] for r in cdlp(
        hub_graph, max_round=5, adjacency=False).collect()}
    assert a == b  # label counts are order-independent: exactly identical


# -- round 5: packed gather extended to the remaining superstep-heavy
#    algorithms (VERDICT r4 task 4) — cross-plan equality per algorithm


def test_hits_gather_paths_equal(spark, hub_graph):
    from graphscope_spark.algorithms.hits import hits

    a = {r["vid"]: (r["hub"], r["auth"]) for r in hits(
        hub_graph, max_iter=6, adjacency=True).collect()}
    b = {r["vid"]: (r["hub"], r["auth"]) for r in hits(
        hub_graph, max_iter=6, adjacency=False).collect()}
    assert set(a) == set(b)
    assert all(
        abs(a[v][0] - b[v][0]) < 1e-12 and abs(a[v][1] - b[v][1]) < 1e-12
        for v in a
    )


def test_salsa_gather_paths_equal(spark, hub_graph):
    from graphscope_spark.algorithms.hits import salsa

    a = {r["vid"]: (r["hub"], r["auth"]) for r in salsa(
        hub_graph, rounds=5, adjacency=True).collect()}
    b = {r["vid"]: (r["hub"], r["auth"]) for r in salsa(
        hub_graph, rounds=5, adjacency=False).collect()}
    assert set(a) == set(b)
    assert all(
        abs(a[v][0] - b[v][0]) < 1e-12 and abs(a[v][1] - b[v][1]) < 1e-12
        for v in a
    )


def test_eigenvector_katz_gather_paths_equal(spark, hub_graph):
    from graphscope_spark.algorithms.centrality import (
        eigenvector_centrality,
        katz_centrality,
    )

    for fn in (eigenvector_centrality, katz_centrality):
        a = {r["vid"]: r["centrality"] for r in fn(
            hub_graph, max_iter=8, tol=None, adjacency=True).collect()}
        b = {r["vid"]: r["centrality"] for r in fn(
            hub_graph, max_iter=8, tol=None, adjacency=False).collect()}
        assert set(a) == set(b)
        assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_articlerank_gather_paths_equal(spark, hub_graph):
    from graphscope_spark.algorithms.articlerank import articlerank

    a = {r["vid"]: r["rank"] for r in articlerank(
        hub_graph, max_iter=6, adjacency=True).collect()}
    b = {r["vid"]: r["rank"] for r in articlerank(
        hub_graph, max_iter=6, adjacency=False).collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_lpa_u2i_gather_paths_equal(spark):
    import random

    from graphscope_spark.algorithms.lpa_u2i import lpa_u2i

    rng = random.Random(3)
    pairs = list({(rng.randrange(40), 100 + rng.randrange(30)) for _ in range(200)})
    edges = spark.createDataFrame(
        [(s, d, round(rng.random(), 3)) for s, d in pairs],
        "src long, dst long, w double",
    )
    users = spark.createDataFrame(
        [(u, round(rng.random(), 3), float(rng.randrange(2))) for u in range(40)],
        "vid long, p0 double, p1 double",
    )
    a = {r["vid"]: (r["p0"], r["p1"]) for r in lpa_u2i(
        users, edges, ["p0", "p1"], max_round=7, adjacency=True).collect()}
    b = {r["vid"]: (r["p0"], r["p1"]) for r in lpa_u2i(
        users, edges, ["p0", "p1"], max_round=7, adjacency=False).collect()}
    assert set(a) == set(b)
    assert all(
        abs(a[v][0] - b[v][0]) < 1e-12 and abs(a[v][1] - b[v][1]) < 1e-12
        for v in a
    )


def test_packed_adjacency_lists_are_sorted(spark, hub_graph):
    """Determinism guard (ADVICE r4): neighbor lists must be canonical
    (sorted) so float gathers sum in a fixed order run-to-run."""
    adj, _ = packed_adjacency(hub_graph.edges, cap=30)
    for r in adj.select("_nbrs").collect():
        assert list(r["_nbrs"]) == sorted(r["_nbrs"])


def test_auto_adjacency_threshold():
    """Size-resolved default (round-5 A/B, scripts/adj_ab_r5.jsonl):
    small graphs keep the single edge-join gather, big graphs get the
    packed |V|-probe plan; explicit override always wins."""
    from graphscope_spark.skew import ADJ_AUTO_MIN_VERTICES, auto_adjacency

    assert not auto_adjacency(16_000)
    assert auto_adjacency(ADJ_AUTO_MIN_VERTICES)
    assert auto_adjacency(16_000, override=True)
    assert not auto_adjacency(10**9, override=False)


def test_packed_pagerank_run_to_run_deterministic(spark, hub_graph):
    """With sorted neighbor lists the packed gather's float sum order
    is fixed, so two runs of the same plan agree BIT-exactly (the
    ADVICE-r4 gate-flake scenario: a rank near a round(,8) boundary
    must not flip between runs)."""
    from graphscope_spark.algorithms import pagerank

    a = {r["vid"]: r["rank"] for r in pagerank(
        hub_graph, tol=None, max_iter=6, adjacency=True).collect()}
    b = {r["vid"]: r["rank"] for r in pagerank(
        hub_graph, tol=None, max_iter=6, adjacency=True).collect()}
    assert a == b
