#!/usr/bin/env python
"""Standalone link-graph PageRank job — the scaling-evidence unit.

Runs the full north-star pipeline (synthetic Common-Crawl-style pages →
vectorized link extraction → dense vertex ids → hash-partitioned edge
table → PageRank to 1e-6 convergence) at a given parallelism and prints
ONE JSON line with wall time, supersteps, and edges/sec/superstep.

The north rule's two-cluster-size scaling criterion (N vs 4N executors,
efficiency >= 0.8) cannot use a real cluster in this sandbox; per the
driver's instruction it is evidenced by running THIS job at two
parallelism levels (local[8] vs local[32]) on the same input:

    python scripts/pagerank_job.py --cores 8  --pages 60000
    python scripts/pagerank_job.py --cores 32 --pages 60000

`scripts/scaling_bench.py` wraps both runs and computes efficiency.
Usable as the spark-submit entry too:

    spark-submit --py-files graphscope_spark.zip scripts/pagerank_job.py
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master URL; e.g. spark://127.0.0.1:7077 for the "
        "standalone multi-executor cluster (scripts/cluster_scaling.sh). "
        "--cores then caps spark.cores.max (total executor cores); "
        "default stays local[--cores]",
    )
    ap.add_argument("--executor-memory", default="10g")
    ap.add_argument(
        "--executor-cores",
        type=int,
        default=1,
        help="cores per executor JVM in cluster mode (default 1: one "
        "JVM per core, the north rule's executor-count scaling mode; "
        "set to --cores for a single fat executor A/B)",
    )
    ap.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="shuffle/data partitions (default max(cores, 8)); several "
        "waves per stage smooth stragglers on noisy hosts",
    )
    ap.add_argument("--pages", type=int, default=60_000)
    ap.add_argument("--pages-path", default=None, help="pre-generated pages parquet")
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=60)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument(
        "--synthetic-vertices",
        type=int,
        default=None,
        help="skip the pages pipeline; PageRank a JVM-generated power-law "
        "edge table of this many vertices (for overhead-amortized scaling runs)",
    )
    ap.add_argument(
        "--rounds",
        type=int,
        default=None,
        help="fixed superstep count (tol disabled) — identical work at "
        "every parallelism level",
    )
    ap.add_argument(
        "--locality-wait",
        default=None,
        help="spark.locality.wait override (e.g. '0s').  Only matters in "
        "multi-executor mode: cached barrier partitions carry executor "
        "locality preferences, and the 3s default makes task waves stall "
        "for the preferred-but-busy executor instead of running "
        "elsewhere — a per-stage floor that exists ONLY on the wider "
        "leg of a scaling pair",
    )
    args = ap.parse_args()

    from graphscope_spark.session import get_spark

    spark = get_spark(
        app_name=f"pagerank-scaling-{args.cores}",
        master=args.master or f"local[{args.cores}]",
        shuffle_partitions=args.partitions or max(args.cores, 8),
        extra_conf={
            **(
                {
                    "spark.executor.memory": args.executor_memory,
                    "spark.executor.cores": str(args.executor_cores),
                    "spark.cores.max": str(args.cores),
                }
                if args.master and args.master.startswith("spark://")
                else {}
            ),
            **(
                {"spark.locality.wait": args.locality_wait}
                if args.locality_wait is not None
                else {}
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from graphscope_spark.algorithms import pagerank

    t_load0 = time.time()
    if args.synthetic_vertices:
        from graphscope_spark.graph import Graph
        from graphscope_spark.sources.synthetic import powerlaw_edges

        nparts = args.partitions or max(args.cores, 8)
        edges = powerlaw_edges(spark, args.synthetic_vertices, partitions=nparts)
        g = Graph.from_edges(edges, num_partitions=nparts)
        n_pages = args.synthetic_vertices
    else:
        from graphscope_spark.sources.linkgraph import graph_from_pages
        from graphscope_spark.sources.pages import write_pages

        path = args.pages_path
        if path is None:
            path = f"/tmp/gs_bench_pages_{args.pages}"
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                write_pages(spark, args.pages, path, partitions=max(args.cores, 8))
        pages = spark.read.parquet(path)
        g, _ = graph_from_pages(pages, num_partitions=max(args.cores, 8))
        n_pages = args.pages
    g = g.cache()
    n_edges = g.num_edges()
    n_verts = g.num_vertices()
    t_load = time.time() - t_load0

    from graphscope_spark.superstep import SuperstepRunner

    runner = SuperstepRunner(
        spark,
        "pagerank",
        checkpoint_dir=args.checkpoint_dir,
        resume=False,
    )
    tol = args.tol
    max_iter = args.max_iter
    sync_every = 1
    if args.rounds is not None:
        # fixed-round mode: chain ALL rounds into one job — same
        # results, no per-round driver stall at all (lazy 1-row
        # broadcast all-reduces keep each step collect-free)
        tol, max_iter, sync_every = None, args.rounds, args.rounds
    from pyspark.sql import functions as F

    t0 = time.time()
    result = pagerank(g, tol=tol, max_iter=max_iter, runner=runner, sync_every=sync_every)
    result.count()  # materialize final state
    wall = time.time() - t0
    supersteps = len(runner.metrics)
    eps = n_edges * supersteps / wall if wall > 0 else 0.0

    print(
        json.dumps(
            {
                "cores": args.cores,
                "pages": n_pages,
                "vertices": n_verts,
                "edges": n_edges,
                "supersteps": supersteps,
                "load_sec": round(t_load, 3),
                "pagerank_sec": round(wall, 3),
                "edges_per_sec_per_superstep": round(eps, 1),
                # work-identity check across parallelism levels:
                # vid-weighted rank mass discriminates any per-vertex drift
                "rank_checksum": round(
                    result.agg(
                        F.sum(F.col("rank") * (F.pmod(F.col("vid"), F.lit(97)) + 1))
                    ).collect()[0][0],
                    9,
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
