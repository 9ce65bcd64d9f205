"""The pages → Graph ingest path: each page is parsed once, the url→vid
dictionary is the global sort rank whatever the partitioning, and it
runs no Python-worker job."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from graphscope_spark.graph import build_vertex_ids
from graphscope_spark.sources import extract
from graphscope_spark.sources.linkgraph import graph_from_pages
from graphscope_spark.sources.pages import write_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vid_map(df, key="k"):
    return {r[key]: r["vid"] for r in df.collect()}


@pytest.mark.parametrize("num_partitions", [1, 3, 8])
def test_vertex_ids_are_sorted_rank(spark, num_partitions):
    """vid = rank of the key in sorted order, for any partition count;
    duplicate keys get one id."""
    keys = [f"u{(i * 7919) % 113:04d}" for i in range(300)]  # 113 distinct
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = _vid_map(build_vertex_ids(df, "k", num_partitions=num_partitions))
    assert got == {k: i for i, k in enumerate(sorted(set(keys)))}


def test_vertex_ids_empty_input(spark):
    df = spark.createDataFrame([], "k string")
    out = build_vertex_ids(df, "k", num_partitions=3)
    assert out.columns == ["vid", "k"]
    assert out.collect() == []


def test_vertex_ids_run_no_python_job(spark):
    """The offsets are a JVM-side literal: no leaf of the dictionary's
    plan (broadcast sides included) reads a PythonRDD."""
    df = spark.range(50).select((F.col("id") % 17).cast("string").alias("k"))
    out = build_vertex_ids(df, "k", num_partitions=4)
    leaves = out._jdf.queryExecution().sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "RDDScanExec":
            lineage = leaf.rdd().toDebugString()
            assert "PythonRDD" not in lineage, lineage
    assert sorted(_vid_map(out).values()) == list(range(17))


@pytest.fixture()
def counted_links(monkeypatch, tmp_path):
    """Swap ``extract_links`` for a copy that records every batch it
    parses; returns a function giving the number of rows parsed."""
    cnt = tmp_path / "batches"
    cnt.mkdir()
    parse = extract.extract_links.func

    @pandas_udf(ArrayType(StringType()))
    def counting(html: pd.Series) -> pd.Series:
        (cnt / f"{os.getpid()}_{id(html)}_{os.urandom(4).hex()}").write_text(str(len(html)))
        return parse(html)

    monkeypatch.setattr(extract, "extract_links", counting)
    return lambda: sum(int(p.read_text()) for p in cnt.iterdir())


def test_graph_from_pages_parses_each_page_once(spark, tmp_path, counted_links):
    """One UDF evaluation per page per ingest (explode_outer keeps
    Catalyst from adding a second one; the link table is materialized
    once), and a second ingest of the same input parses it again rather
    than reusing state left behind by the first."""
    n = 120
    path = str(tmp_path / "pages.parquet")
    write_pages(spark, n, path, partitions=2)
    for ingest in range(2):
        before = counted_links()
        g, vertex_map = graph_from_pages(spark.read.parquet(path), num_partitions=4)
        assert g.vertices.count() == vertex_map.count() >= n
        assert g.edges.count() > 0
        assert counted_links() - before == n, f"ingest {ingest}"


def test_pages_without_links_yield_no_link_rows(spark):
    """The outer explode's null row for a page without anchors is
    filtered out of both extractions."""
    pages = spark.createDataFrame(
        [("http://a/", b'<a href="http://b/">b</a>'), ("http://c/", b"<p>none</p>")],
        "url string, html binary",
    )
    assert [tuple(r) for r in extract.links_from_pages(pages).collect()] == [
        ("http://a/", "http://b/")
    ]
    assert [tuple(r) for r in extract.anchor_texts(pages).collect()] == [
        ("http://a/", "http://b/", "b")
    ]


def test_extract_udfs_rebind_to_a_new_context():
    """After ``spark.stop()`` and a new session in the same process the
    module-level UDFs must report to the new context: a stale binding
    logs "Failed to update accumulator" for every task that uses it."""
    script = textwrap.dedent(
        """
        from pyspark.sql import functions as F
        from graphscope_spark.session import get_spark
        from graphscope_spark.sources.extract import extract_anchor_pairs, extract_links, extract_text
        from graphscope_spark.sources.pages import generate_pages

        for _ in range(2):
            spark = get_spark("rebind", master="local[1]", shuffle_partitions=1)
            row = generate_pages(spark, 20, partitions=1).select(
                F.sum(F.size(extract_links("html"))).alias("links"),
                F.sum(F.size(extract_anchor_pairs("html"))).alias("anchors"),
                F.sum(F.length(extract_text("html"))).alias("chars"),
            ).collect()[0]
            print(tuple(row), flush=True)
            spark.stop()
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    first, second = res.stdout.strip().splitlines()
    assert first == second
    assert "Failed to update accumulator" not in res.stderr, res.stderr[-4000:]
