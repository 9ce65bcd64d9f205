"""The benchmark's numpy oracles agree with the repository's reference
oracles (tests/oracle.py) on the conftest tiny and random graphs."""

import numpy as np
import pytest

import oracle
from tests import oracle as reference
from tests.conftest import TINY_EDGES, TINY_VERTICES, make_random_graph

GRAPHS = {
    "tiny": (TINY_VERTICES, TINY_EDGES),
    "random": make_random_graph(),
    "random_dense": make_random_graph(n=120, seed=7),
}


def _arrays(name):
    vertices, edges = GRAPHS[name]
    assert vertices == list(range(len(vertices)))
    e = np.array(edges, np.int64)
    return len(vertices), e[:, 0], e[:, 1], vertices, edges


def _dense(d, n, dtype):
    return np.array([d[v] for v in range(n)], dtype)


@pytest.mark.parametrize("name", sorted(GRAPHS))
@pytest.mark.parametrize("rounds", [1, 5, 10])
def test_pagerank(name, rounds):
    n, src, dst, vertices, edges = _arrays(name)
    want = reference.pagerank_oracle(edges, vertices, max_iter=rounds, tol=None)
    assert np.allclose(oracle.pagerank(src, dst, n, rounds), _dense(want, n, float), rtol=0, atol=1e-12)


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_wcc(name):
    n, src, dst, vertices, edges = _arrays(name)
    want = _dense(reference.wcc_oracle(edges, vertices), n, np.int64)
    assert np.array_equal(oracle.wcc(src, dst, n), want)


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cdlp(name):
    n, src, dst, vertices, edges = _arrays(name)
    want = _dense(reference.cdlp_oracle(edges, vertices, max_round=10, directed=True), n, np.int64)
    assert np.array_equal(oracle.cdlp(src, dst, n, 10), want)


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_triangles(name):
    n, src, dst, vertices, edges = _arrays(name)
    want = _dense(reference.triangles_oracle(edges, vertices), n, np.int64)
    assert np.array_equal(oracle.triangles(src, dst, n), want)


def test_linkgraph_from_html_ranks_urls_and_dedups_links():
    urls = ["https://b/1", "https://a/0"]
    htmls = [
        b'<a href="https://a/0">x</a><a href="https://a/0">again</a><a href="https://c/9">y</a>',
        b'<p>no links</p>',
    ]
    n, src, dst = oracle.linkgraph_from_html(urls, htmls)
    # sorted urls: a/0 -> 0, b/1 -> 1, c/9 (uncrawled target) -> 2
    assert n == 3
    assert list(zip(src.tolist(), dst.tolist())) == [(1, 0), (1, 2)]


def test_checksum_detects_single_value_and_swap_corruption():
    vid = np.arange(50)
    val = np.arange(50) % 7
    exp = oracle.np_checksum(vid, val)
    assert oracle.np_checksum(vid, val).matches(exp)
    bumped = val.copy()
    bumped[3] += 1
    assert not oracle.np_checksum(vid, bumped).matches(exp)
    swapped = val.copy()
    swapped[[1, 2]] = swapped[[2, 1]]
    assert not oracle.np_checksum(vid, swapped).matches(exp)
    assert not oracle.np_checksum(vid[:-1], val[:-1]).matches(exp)


def test_float_checksum_tolerance():
    vid = np.arange(100)
    rank = np.full(100, 0.01)
    exp = oracle.np_checksum(vid, rank)
    assert oracle.np_checksum(vid, rank + 1e-8).matches(exp, atol=1e-6)
    off = rank.copy()
    off[10] += 1e-3
    assert not oracle.np_checksum(vid, off).matches(exp, atol=1e-6)
