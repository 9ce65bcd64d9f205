"""pages → link Graph: the end-to-end loader (north-star pipeline).

pages (url, warc_ts, html, text, lang)
  → links (src_url, dst_url)                 [vectorized UDF extraction,
                                              materialized once]
  → vertices (vid, url)                      [dense dictionary ids]
  → edges (src, dst)                         [hash edge-cut by src]
  → Graph

Reference analog: CREATE_GRAPH/ADD_LABELS + ArrowFragmentLoader hash
partitioning (graph.py:477-713, arrow_fragment_loader.h:351-390).

Scale notes: the html column is the dominant I/O, so it is read and
parsed exactly once per load: the link table is materialized
(``stats_barrier``) and both the dictionary and the edge joins read it
from there.  The dictionary itself needs no Python-worker job
(:func:`build_vertex_ids`).  The two dictionary joins (src_url→vid,
dst_url→vid) are the standard dimension-join pattern; at 10^12 pages
the dictionary is large, so both joins shuffle on url — done ONCE at
load, after which every superstep works on narrow longs.  Dangling link
targets (urls never crawled) still get vertex ids (union of endpoints),
matching the reference's deduce-vertices-from-edges path
(graph.py:565-577).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph, build_vertex_ids
from graphscope_spark.sources.extract import links_from_pages
from graphscope_spark.superstep import stats_barrier


# URL → lowercase host: single source of truth in functions/urls.py so
# host-graph contraction can never drift from URL canonicalization
from graphscope_spark.functions.urls import url_host as host_of  # noqa: E402


def host_graph_from_pages(
    pages: DataFrame, num_partitions: int = 32
) -> tuple[Graph, DataFrame]:
    """Host-level (domain) link graph — the Common-Crawl "host graph"
    product: contract the page-level graph by URL host; edge weight =
    number of page-level links between the two hosts.

    Returns (host_graph, host_map) with host_map = (gid, host).  The
    contracted graph is orders of magnitude smaller than the page graph
    (10^12 pages → ~10^8 hosts), so host-level PageRank/WCC run on a
    graph that often fits far fewer executors — the standard first
    analysis pass over a new crawl.
    """
    g, vertex_map = graph_from_pages(pages, num_partitions=num_partitions)
    hosts = vertex_map.select("vid", host_of("url").alias("host"))
    host_ids = build_vertex_ids(
        hosts.select("host"), "host", out="gid", num_partitions=num_partitions
    )
    mapping = hosts.join(host_ids, "host").select("vid", "gid")
    return g.contract(mapping), host_ids


def graph_from_pages(
    pages: DataFrame, num_partitions: int = 32, include_uncrawled: bool = True
) -> tuple[Graph, DataFrame]:
    """Returns (graph, vertices-with-urls).

    ``include_uncrawled``: give vertex ids to link targets that have no
    page row (the open-web case); False restricts to crawled pages.
    """
    links = stats_barrier(links_from_pages(pages))
    urls = pages.select(F.col("url"))
    if include_uncrawled:
        urls = urls.unionByName(links.select(F.col("dst_url").alias("url")))
    # materialized inside build_vertex_ids: reading it is a narrow scan
    vertex_map = build_vertex_ids(urls, "url", num_partitions=num_partitions)

    src_ids = vertex_map.select(F.col("url").alias("src_url"), F.col("vid").alias("src"))
    dst_ids = vertex_map.select(F.col("url").alias("dst_url"), F.col("vid").alias("dst"))
    edges = (
        links.join(src_ids, "src_url")
        .join(dst_ids, "dst_url")
        .select("src", "dst")
    )
    g = Graph.from_edges(
        edges, vertex_map.select("vid"), directed=True, num_partitions=num_partitions
    )
    return g, vertex_map
