"""CDLP / label propagation — LDBC community detection.

Reference semantics (registry .gs_conf.yaml:79-86; binding
python/graphscope/analytical/app/lpa.py:27-55; docs/analytical_engine/
builtin_algorithms.md:89-100): init label = vertex id; `max_round`
(default 10) *synchronous* rounds; each round every vertex adopts the
most frequent label among its neighbors, ties broken by MINIMUM label —
the deterministic LDBC rule the reference explicitly adopted over
Plato's random pick (docs/performance_and_benchmark.md:14).  Directed
graphs count in- and out-neighbors separately (both directions, with
multiplicity); vertices with no neighbors keep their label.

Spark plan per round: messages = labels shipped along edges (both
directions when directed), groupBy(vid, label).count, then a max_by
over struct(count desc, label asc) — expressed as F.max over
struct(cnt, -label) so the whole pick stays a single hash aggregate
(no window / no second shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import DST, SRC, VID, Graph
from graphscope_spark.skew import Gather
from graphscope_spark.superstep import StepResult, SuperstepRunner


def cdlp(
    g: Graph,
    max_round: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    sync_every: int = 1,
    adjacency: bool | None = None,
) -> DataFrame:
    """Returns (vid long, label long) after exactly ``max_round`` rounds."""
    spark = g.edges.sparkSession
    if g.directed:
        e = g.edges.select(SRC, DST).where(F.col(SRC) != F.col(DST))
        # both directions with multiplicity (LDBC directed CDLP)
        msg_edges = e.unionByName(
            e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        )
    else:
        msg_edges = g.symmetrized()
    # packed, the adjacency keeps multiplicity (collect_list keeps
    # duplicates — the LDBC directed-CDLP double-count contract), and
    # the count aggregation is order-independent, so both layouts pick
    # identical labels
    gather = Gather(msg_edges, g.num_vertices(), adjacency, SRC, DST)

    def init() -> DataFrame:
        return g.vertices.select(VID, F.col(VID).alias("label"))

    def step(state: DataFrame, k: int) -> StepResult:
        scattered = gather.msgs(
            state.hint("shuffle_hash"), {"label": F.col("label")}, VID
        )
        counts = scattered.groupBy(VID, "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # pick (cnt desc, label asc) in ONE aggregate:
        # max of struct(cnt, -label) == most frequent, min label on ties
        picked = counts.groupBy(VID).agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top")
        ).select(VID, (-F.col("top.neg")).alias("new_label"))
        nxt = (
            state.join(picked, VID, "left")
            .select(VID, F.coalesce("new_label", F.col("label")).alias("label"))
        )
        return StepResult(nxt, delta=None)

    run = SuperstepRunner(spark, "cdlp", checkpoint_dir=checkpoint_dir, resume=resume)
    final = run.run(init, step, max_iterations=max_round, tol=None, sync_every=sync_every)
    out = final.select(VID, "label")
    gather.unpersist()
    return out
