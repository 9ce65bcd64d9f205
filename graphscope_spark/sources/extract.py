"""Vectorized HTML→text and hyperlink extraction (Arrow pandas UDFs).

This is the rebuild's loader stage: the analog of GAE transforming raw
tables into graph topology (arrow_fragment_loader.h), per the input
hint — "vectorized pandas/Arrow UDFs (no per-row Python)" and the
per-row invariant: extracted text is byte-identical per url to the
stored ``text`` column.

Extraction grammar (deterministic, matching the generator's renderer):
    text  = title ++ "\\n" ++ "\\n"-joined <p> bodies
    links = href values of <a> anchors, document order

The UDFs are Arrow-batched (``pandas_udf``): the regex work happens
per batch on pandas Series, never row-at-a-time through Py4J.  At 100TB
the html column dominates I/O — callers should select only (url, html)
before applying these so parquet column pruning drops text/lang, and
each page must go through a UDF only once.
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_TITLE = re.compile(r"<title>(.*?)</title>", re.S)
_PARA = re.compile(r"<p>(.*?)</p>", re.S)
_HREF = re.compile(r'<a\s+href="([^"]+)"')
_ANCHOR = re.compile(r'<a\s+href="([^"]+)"\s*>(.*?)</a>', re.S)


class _ContextBoundUDF:
    """A module-level ``pandas_udf`` rebuilt for each SparkContext.

    A pandas UDF binds its JVM function, and with it the Python
    accumulator, to the context that first calls it.  After
    ``spark.stop()`` and a new session in the same process, every task
    using the old binding fails to report its accumulator update
    ("Failed to update accumulator 0 ... Broken pipe").  Calling this
    object returns the column of a UDF built for the active context.
    """

    def __init__(self, fn, return_type):
        functools.update_wrapper(self, fn)
        self.func, self.returnType = fn, return_type
        # one attribute, so a concurrent caller never pairs a context
        # with another context's UDF
        self._bound = (None, None)

    def __call__(self, *cols) -> Column:
        sc = SparkContext._active_spark_context
        bound_sc, udf = self._bound
        if udf is None or bound_sc is not sc:
            udf = pandas_udf(self.func, self.returnType)
            self._bound = (sc, udf)
        return udf(*cols)


def _context_bound_udf(return_type):
    return lambda fn: _ContextBoundUDF(fn, return_type)


@_context_bound_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """html binary → text (title + paragraphs, newline-joined)."""

    def one(b) -> str:
        s = b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else str(b)
        parts = _TITLE.findall(s)[:1] + _PARA.findall(s)
        return "\n".join(parts)

    return html.map(one)


@_context_bound_udf(ArrayType(StringType()))
def extract_links(html: pd.Series) -> pd.Series:
    """html binary → array of href targets (document order)."""

    def one(b) -> list[str]:
        s = b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else str(b)
        return _HREF.findall(s)

    return html.map(one)


@_context_bound_udf(ArrayType(StructType([
    StructField("href", StringType()),
    StructField("anchor", StringType()),
])))
def extract_anchor_pairs(html: pd.Series) -> pd.Series:
    """html binary → array of (href, anchor-text) structs, document
    order.  Same Arrow-batched shape as extract_links; the struct array
    keeps link and its text zipped without a second pass."""

    def one(b) -> list[tuple[str, str]]:
        s = b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else str(b)
        return _ANCHOR.findall(s)

    return html.map(one)


def anchor_texts(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) — one row per <a> occurrence (NOT
    deduplicated: anchor frequency is the ranking signal downstream).

    Column-pruned to (url, html); the explode keys the follow-on
    aggregation by dst_url, so the anchor-profile shuffle is the only
    exchange after extraction.
    """
    return (
        pages.select(
            F.col("url").alias("src_url"),
            extract_anchor_pairs("html").alias("pairs"),
        )
        # explode_outer: under a plain explode Catalyst re-runs the UDF in a size() > 0 filter
        .select("src_url", F.explode_outer("pairs").alias("p"))
        .where(F.col("p").isNotNull())
        .select("src_url", F.col("p.href").alias("dst_url"), F.col("p.anchor").alias("anchor"))
    )


def links_from_pages(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url) link set, deduplicated.

    Column-pruned: only (url, html) are read from the scan, and the UDF
    runs once per page.  Lazy: callers that read the links more than once
    materialize them (``graph_from_pages`` does).
    """
    return (
        pages.select(F.col("url").alias("src_url"), extract_links("html").alias("hrefs"))
        # explode_outer: under a plain explode Catalyst re-runs the UDF in a size() > 0 filter
        .select("src_url", F.explode_outer("hrefs").alias("dst_url"))
        .where(F.col("dst_url").isNotNull())
        .distinct()
    )
