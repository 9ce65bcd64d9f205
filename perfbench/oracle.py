"""Independent numpy oracles and output checksums for the benchmark.

Every oracle here works on dense vertex ids ``0..n-1`` and plain numpy
edge arrays; none of it imports the engine.  The checksums are the
aggregates the benchmark uses to force each timed result: the same
expression runs in Spark (``spark_checksum``) and in numpy
(``np_checksum``), so a timed output is checked against its oracle
without collecting it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

# Per-vertex weight for the weighted checksum: a multiplicative hash
# mod a prime, so swapping two vertices' values changes the sum.  Both
# products stay far below 2**63 for ids and values below 10**6.
_MIX = 2654435761
_MOD = 1_000_003


def vertex_weight(vid: np.ndarray) -> np.ndarray:
    return (vid.astype(np.int64) * _MIX) % _MOD + 1


@dataclass(frozen=True)
class Checksum:
    """(rows, Σ value, Σ value·w(vid), Σ w(vid)) of one per-vertex column."""

    rows: int
    total: float
    weighted: float
    weights: int

    def matches(self, expected: "Checksum", atol: float = 0.0) -> bool:
        """Exact for integer outputs (``atol=0``).  For float outputs a
        per-vertex ``atol`` bounds each sum by ``atol`` times the sum of
        its weights — a necessary condition of ``allclose(atol=atol)``."""
        if (self.rows, self.weights) != (expected.rows, expected.weights):
            return False
        if atol == 0.0:
            return (self.total, self.weighted) == (expected.total, expected.weighted)
        return (
            abs(self.total - expected.total) <= atol * self.rows
            and abs(self.weighted - expected.weighted) <= atol * self.weights
        )


def np_checksum(vid: np.ndarray, value: np.ndarray) -> Checksum:
    vid = np.asarray(vid, np.int64)
    w = vertex_weight(vid)
    value = np.asarray(value)
    if np.issubdtype(value.dtype, np.floating):
        v = value.astype(np.float64)
        return Checksum(int(vid.size), float(v.sum()), float((v * w).sum()), int(w.sum()))
    v = value.astype(np.int64)
    return Checksum(int(vid.size), int(v.sum()), int((v * w).sum()), int(w.sum()))


def spark_checksum(df, key: str, col: str, is_float: bool) -> Checksum:
    """Force ``df`` with one aggregate over its key and value columns."""
    from pyspark.sql import functions as F

    w = (F.col(key) * F.lit(_MIX)) % F.lit(_MOD) + F.lit(1)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(col)).alias("s"),
        F.sum(F.col(col) * w).alias("ws"),
        F.sum(w).alias("w"),
    ).collect()[0]
    conv = float if is_float else int
    return Checksum(int(row["n"]), conv(row["s"] or 0), conv(row["ws"] or 0), int(row["w"] or 0))


# -- inputs -----------------------------------------------------------

_HREF = re.compile(rb'<a\s+href="([^"]+)"')


def linkgraph_from_html(urls: list[str], htmls: list[bytes]) -> tuple[int, np.ndarray, np.ndarray]:
    """Pages → (n, src, dst) with vid = rank of the url in sorted order
    over crawled urls and link targets; links deduplicated."""
    pairs = set()
    for u, h in zip(urls, htmls):
        for t in _HREF.findall(h):
            pairs.add((u, t.decode()))
    names = sorted(set(urls) | {t for _, t in pairs})
    vid = {u: i for i, u in enumerate(names)}
    e = np.array(sorted((vid[s], vid[t]) for s, t in pairs), np.int64).reshape(-1, 2)
    return len(names), e[:, 0].copy(), e[:, 1].copy()


# -- algorithms -------------------------------------------------------


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, rounds: int, alpha: float = 0.85) -> np.ndarray:
    """Power iteration with the dangling-mass pool, exactly ``rounds``
    rounds; out-degree counts parallel edges."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(rounds):
        contrib = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r = alpha * contrib + (1.0 - alpha) / n + alpha * r[dangling].sum() / n
    return r


def wcc(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Component id = minimum vertex id of the weak component."""
    comp = np.arange(n, dtype=np.int64)
    while True:
        nxt = comp.copy()
        np.minimum.at(nxt, src, comp[dst])
        np.minimum.at(nxt, dst, comp[src])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, comp):
            return comp
        comp = nxt


def cdlp(src: np.ndarray, dst: np.ndarray, n: int, rounds: int = 10) -> np.ndarray:
    """LDBC CDLP on a directed graph: neighbours along both directions
    with multiplicity, self-loops ignored; most frequent label wins,
    ties to the smallest label; isolated vertices keep their own."""
    keep = src != dst
    to = np.concatenate([dst[keep], src[keep]])
    frm = np.concatenate([src[keep], dst[keep]])
    label = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        lab = label[frm]
        order = np.lexsort((lab, to))
        t, lab = to[order], lab[order]
        start = np.flatnonzero(np.r_[True, (t[1:] != t[:-1]) | (lab[1:] != lab[:-1])])
        counts = np.diff(np.r_[start, t.size])
        gt, gl = t[start], lab[start]
        # per target: max count, then min label
        pick = np.lexsort((gl, -counts, gt))
        gt, gl = gt[pick], gl[pick]
        first = np.r_[True, gt[1:] != gt[:-1]]
        new = label.copy()
        new[gt[first]] = gl[first]
        label = new
    return label


def triangles(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Per-vertex triangle counts of the undirected simple graph."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    pairs = np.unique(a * n + b)
    a, b = pairs // n, pairs % n
    # orient each edge from the lower to the higher (degree, id) end
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    flip = (deg[a] > deg[b]) | ((deg[a] == deg[b]) & (a > b))
    lo, hi = np.where(flip, b, a), np.where(flip, a, b)
    out: list[set[int]] = [set() for _ in range(n)]
    for u, v in zip(lo.tolist(), hi.tolist()):
        out[u].add(v)
    tri = np.zeros(n, np.int64)
    for u, v in zip(lo.tolist(), hi.tolist()):
        for w in out[u] & out[v]:
            tri[u] += 1
            tri[v] += 1
            tri[w] += 1
    return tri
