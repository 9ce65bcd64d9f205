"""Physical-plan assertions — the scale properties, checked in CI.

These pin the Catalyst behaviors the 100TB design depends on, so a
refactor that silently breaks pruning/pushdown fails a test rather
than a production run:

- the link-extraction path must prune the pages scan to (url, html) —
  at 10^12 pages the text/lang columns are dead weight — and evaluate
  its UDF once per page;
- a vertex-id filter must be pushed into the parquet scan;
- the PageRank gather must keep a partial (map-side) aggregation, and
  each PageRank / personalized-PageRank round must plan no sort and at
  most three shuffles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphscope_spark.superstep import SuperstepRunner


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from graphscope_spark.sources.pages import write_pages

    path = str(tmp_path_factory.mktemp("pages") / "p.parquet")
    write_pages(spark, 200, path, partitions=4)
    return path


def test_link_extraction_prunes_to_url_html(spark, pages_parquet):
    from graphscope_spark.sources.extract import links_from_pages

    pages = spark.read.parquet(pages_parquet)
    plan = links_from_pages(pages)._jdf.queryExecution().executedPlan().toString()
    # the scan's ReadSchema must not include text/lang (column pruning)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    for l in scan_lines:
        assert "text" not in l and "lang" not in l, l


def test_link_extraction_evaluates_udf_once(spark, pages_parquet):
    """A plain explode makes Catalyst add size(udf(html)) > 0 under the
    Generate — a second ArrowEvalPython over every page."""
    from graphscope_spark.sources.extract import anchor_texts, links_from_pages

    pages = spark.read.parquet(pages_parquet)
    for df in (links_from_pages(pages), anchor_texts(pages)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan


def test_filter_pushdown_into_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = pages.where(F.col("lang") == "en").select("url")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_pagerank_gather_has_partial_aggregation(spark, pages_parquet):
    """groupBy(vid).sum must show a partial_sum before the exchange —
    map-side combine is what makes hub in-degrees tolerable."""
    from graphscope_spark.sources.linkgraph import graph_from_pages

    g, _ = graph_from_pages(spark.read.parquet(pages_parquet), num_partitions=4)
    msgs = g.edges.groupBy("dst").agg(F.sum(F.col("src").cast("double")).alias("s"))
    plan = msgs._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan


def _node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


@pytest.fixture(scope="module")
def two_out_graph(spark):
    """40 vertices, two out-edges each: no dangling vertex, so a round
    plans no dangling-pool aggregate."""
    from graphscope_spark.graph import Graph

    edges = [(i, (i * 3 + 1) % 40) for i in range(40)] + [
        (i, (i * 7 + 2) % 40) for i in range(40)
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    return Graph.from_edges(e, directed=True, num_partitions=4)


@pytest.mark.parametrize("algo", ["pagerank", "pagerank_adjacency", "ppr"])
def test_pagerank_round_plan_shape(spark, two_out_graph, monkeypatch, algo):
    """Rounds after the first (their state comes out of a barrier —
    columnar after round 0, a checkpoint after round 1) plan the message
    shuffle plus the state re-exchanged into both joins: at most 3
    Exchanges, no Sort, and the packed gather's one Generate."""
    import importlib

    from graphscope_spark.algorithms import pagerank, personalized_pagerank

    runners = []

    class Runner(SuperstepRunner):
        """Records the node names of every round's physical plan."""

        def run(self, init, step, **kw):
            runners.append(self)
            self.plans = []

            def planned_step(state, k):
                res = step(state, k)
                self.plans.append(_node_names(res.state._jdf.queryExecution().executedPlan()))
                return res

            return super().run(init, planned_step, **kw)

    kw = dict(tol=None, max_iter=4, sync_every=2)
    if algo == "ppr":
        mod = importlib.import_module("graphscope_spark.algorithms.pagerank")
        monkeypatch.setattr(mod, "SuperstepRunner", Runner)
        sources = spark.createDataFrame([(1,), (5,)], "vid long")
        personalized_pagerank(two_out_graph, sources, **kw).count()
    else:
        adjacency = algo == "pagerank_adjacency"
        pagerank(two_out_graph, runner=Runner(spark, "pagerank"),
                 adjacency=adjacency, **kw).count()
    (runner,) = runners
    assert len(runner.plans) == 4
    for k, names in enumerate(runner.plans[1:], start=1):
        assert "Sort" not in names and "SortMergeJoin" not in names, (k, names)
        assert names.count("Exchange") <= 3, (k, names)
        assert names.count("Generate") == int(algo == "pagerank_adjacency"), (k, names)


def test_boundary_uses_broadcast_join(spark, tiny_graph):
    """node_boundary must broadcast the (small) S set, not shuffle the
    edge table — at 10^12 edges the edge scan is the only big side."""
    from graphscope_spark.algorithms import node_boundary

    s = spark.createDataFrame([(0,), (1,)], "vid long")
    plan = (
        node_boundary(tiny_graph, s)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_multisource_groupby_partial_min(spark, tiny_graph):
    """The wide kernel's per-root min-aggregation must keep a map-side
    partial (partial_min) so message volume shuffled is |distinct dst|,
    not |E|."""
    from graphscope_spark.algorithms.multisource import _edge_table, _wide_sweep

    edges = _edge_table(tiny_graph, None, False)
    state, cols = _wide_sweep(edges, tiny_graph.vertices.select("vid"), [0, 1], 2)
    # inspect the plan of one more round's message aggregation
    from pyspark.sql import functions as F

    msgs = (
        edges.join(state.where(F.col("_fr") | ~F.col("_fr")), edges["src"] == state["vid"])
        .groupBy("dst")
        .agg(*[F.min(F.col(c) + F.col("w")).alias(f"m{i}") for i, c in enumerate(cols)])
    )
    plan = msgs._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan


def test_iceberg_scan_prunes_partitions(spark, tmp_path):
    """A partition-filtered Icebergish scan must read only the matching
    files (manifest-level pruning, no full directory scan)."""
    from graphscope_spark.sources.iceberg import IcebergishTable

    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2]) for i in range(40)], "doc_id long, lang string"
    )
    t = IcebergishTable.create(spark, str(tmp_path / "t"), df, partition_by=["lang"])
    files = t.plan_files(partition_filter={"lang": "de"})
    assert files and all("lang=de" in f["file_path"] for f in files)
    scanned = t.scan(partition_filter={"lang": "de"})
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "lang=en" not in plan


def test_random_walks_no_cartesian_no_python_udf(spark, tiny_graph):
    """The walk plan must stay join-shaped: no cartesian product, no
    Python row UDF (the pick is element_at / higher-order array fns)."""
    from graphscope_spark.algorithms import node2vec_walks, random_walks

    for df in (
        random_walks(tiny_graph, length=3, seed=7),
        node2vec_walks(tiny_graph, length=3, seed=7),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


def test_corpus_pipeline_plan_shape(spark):
    """The composed corpus pipeline must stay scale-safe: no cartesian
    product, no Python row UDF anywhere (every gate is JVM-side), and
    the tiny host-aggregate side arrives broadcast."""
    from graphscope_spark.functions.corpus import select_and_chunk

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta gamma delta {i}", "h" + str(i % 3)) for i in range(40)],
        "doc_id long, text string, source string",
    )
    plan = select_and_chunk(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_probe_is_broadcast_hash_join(spark):
    """bloom_contamination probes the filter by BROADCAST HASH join on
    the bit — never a per-row scan of the filter array and never a
    nested-loop join; at 10^12 shingles the corpus side must stay a
    streamed hash probe."""
    from graphscope_spark.functions.sketch import bloom_contamination

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "c d e f g")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    plan = (
        bloom_contamination(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "array_except" not in plan, plan


def test_cms_registers_partial_aggregation(spark):
    """The count-min build must partial-aggregate map-side: at most d*w
    rows per input partition survive to the shuffle regardless of input
    size."""
    from graphscope_spark.functions.sketch import cms_registers

    df = spark.createDataFrame([("x",), ("y",)], "value string")
    plan = cms_registers(df, "value")._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan


def test_lm_perplexity_shuffled_join_no_udf(spark):
    """Bigram scoring joins count tables on (w1, w2) — a SHUFFLED hash
    join (a web-corpus bigram vocabulary must not be broadcast), with
    zero Python UDFs and no cartesian product."""
    from graphscope_spark.functions.classify import ngram_lm_perplexity

    docs = spark.createDataFrame(
        [(0, "a b c a b"), (1, "b c d")], "doc_id long, text string"
    )
    plan = ngram_lm_perplexity(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # at least one non-broadcast (shuffled) join carries the bigram keys
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_cocitation_distributed_topk(spark, tiny_graph):
    """The final top-k must be a TakeOrderedAndProject (distributed
    partial top-k), never a global Sort + Limit over all pairs."""
    from graphscope_spark.algorithms import cocitation

    plan = (
        cocitation(tiny_graph, top_k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    """Lloyd assignment must broadcast the centroid table; the corpus
    side must carry no exchange before the scoring join (the corpus is
    never shuffled by assignment)."""
    from graphscope_spark.functions.similarity import kmeans_fit

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        kmeans_fit(df, iters=1, stride=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Broadcast" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """Persisted IVF index: search must plan with PartitionFilters on
    the cluster column (reads only probed directories) and match
    ivf_topk exactly."""
    import os

    from graphscope_spark.functions.similarity import (
        ivf_index_search,
        ivf_index_write,
        ivf_topk,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.where(F.col("vec_id") % 29 == 0)
    path = str(tmp_path / "ivf_index")
    ivf_index_write(corpus, path, stride=11)
    # layout: one directory per cluster
    assert any(
        d.startswith("cluster=") for d in os.listdir(os.path.join(path, "lists"))
    )
    res = ivf_index_search(spark, path, queries, k=3, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in res.collect()}
    exp = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(corpus, queries, k=3, stride=11, nprobe=2).collect()
    }
    assert got == exp
