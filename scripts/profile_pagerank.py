#!/usr/bin/env python
"""Profile the PageRank superstep: stage-level time/shuffle breakdown.

Runs fixed-round PageRank on a synthetic power-law graph with the Spark
event log on, then parses the log into a per-stage table (name, wall,
task-time sum, shuffle read/write bytes, GC) so the per-round cost can
be attributed (scheduling vs shuffle vs compute) before optimizing.

Usage: python scripts/profile_pagerank.py [vertices] [rounds] [cores] [sync_every]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    vertices = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    sync_every = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    evdir = f"/tmp/gs_eventlog_{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from graphscope_spark.session import get_spark

    spark = get_spark(
        app_name="profile-pagerank",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
            **(
                {"spark.driver.extraJavaOptions": os.environ["SPARK_JAVA_OPTS"]}
                if os.environ.get("SPARK_JAVA_OPTS")
                else {}
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from graphscope_spark.algorithms import pagerank
    from graphscope_spark.graph import Graph
    from graphscope_spark.sources.synthetic import powerlaw_edges
    from graphscope_spark.superstep import SuperstepRunner

    edges = powerlaw_edges(spark, vertices, partitions=max(cores, 8))
    g = Graph.from_edges(edges, num_partitions=max(cores, 8)).cache()
    n_edges = g.num_edges()
    print(f"edges={n_edges}", flush=True)

    runner = SuperstepRunner(spark, "pagerank", resume=False)
    t0 = time.time()
    res = pagerank(g, tol=None, max_iter=rounds, runner=runner, sync_every=sync_every)
    res.count()
    wall = time.time() - t0
    # rounds-only time (excludes one-time degree prep):
    # chained rounds record ~0 and the sync round carries the job, so sum
    # of metrics = in-loop wall
    loop_sec = sum(m["seconds"] for m in runner.metrics)
    print(
        json.dumps(
            {
                "wall": round(wall, 2),
                "loop_sec": round(loop_sec, 2),
                "rounds": rounds,
                "eps_wall": round(n_edges * rounds / wall),
                "eps_loop": round(n_edges * rounds / loop_sec) if loop_sec else None,
                "per_round_sec": [m["seconds"] for m in runner.metrics],
            }
        ),
        flush=True,
    )
    spark.stop()

    # -- parse event log ------------------------------------------------
    # Spark 4 rolling event logs are directories of part files
    logs = [
        p
        for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    stages = {}
    jobs = []
    for path in logs:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0
                    st = stages.setdefault(sid, {})  # keep task-metric sums
                    st["name"] = si["Stage Name"].split("\n")[0][:70]
                    st["wall"] = round(dur, 2)
                    st["tasks"] = si["Number of Tasks"]
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, {})
                    m = ev.get("Task Metrics") or {}
                    st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
                    st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                    st["deser_ms"] = st.get("deser_ms", 0) + m.get(
                        "Executor Deserialize Time", 0
                    )
                    srm = m.get("Shuffle Read Metrics") or {}
                    swm = m.get("Shuffle Write Metrics") or {}
                    st["sh_read_mb"] = st.get("sh_read_mb", 0) + (
                        srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                    ) / 1e6
                    st["sh_write_mb"] = (
                        st.get("sh_write_mb", 0) + swm.get("Shuffle Bytes Written", 0) / 1e6
                    )
                    st["sh_write_ms"] = (
                        st.get("sh_write_ms", 0) + swm.get("Shuffle Write Time", 0) / 1e6
                    )
                elif et == "SparkListenerJobEnd":
                    jobs.append(ev["Job ID"])

    total_wall = sum(s.get("wall", 0) for s in stages.values())
    print(f"\n{len(jobs)} jobs, {len(stages)} stages, Σstage wall {total_wall:.1f}s")
    print(
        f"{'id':>4} {'wall':>6} {'taskΣ':>7} {'gc':>5} {'shR MB':>7} {'shW MB':>7} name"
    )
    for sid in sorted(stages, key=lambda s: -stages[s].get("wall", 0))[:25]:
        s = stages[sid]
        print(
            f"{sid:>4} {s.get('wall', 0):>6} {s.get('task_ms', 0)/1000:>7.1f}"
            f" {s.get('gc_ms', 0)/1000:>5.1f} {s.get('sh_read_mb', 0):>7.1f}"
            f" {s.get('sh_write_mb', 0):>7.1f} {s.get('name', '?')}"
        )


if __name__ == "__main__":
    main()
