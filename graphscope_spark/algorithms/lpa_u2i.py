"""Bipartite degree-weighted multi-property label propagation (LPA-U2I).

Reference semantics (apps/lpa/lpa_u2i.h:42-245): a property graph with
two vertex labels — users (label 0) carry ``prop_num`` double-valued
seed labels read from vertex data (:51-61); items (label 1) start at 0
(:58-60).  Degree statistics are computed once in PEval (:68-104):

- ``in_degree(i)``  = number of in-edges of an item (edge count, not
  weight, lpa_u2i.h:75),
- ``out_degree(u)`` = number of out-edges of a user (:76),
- ``out_nbr_in_degree_sum(u)`` = Σ over u's outgoing items i of
  ``in_degree(i)`` (:84-94).

Rounds then alternate (IncEval :119-241, step counter :123; step 1 is
the degree/label sync round :139-151, so label math runs for steps
2..max_round):

- **u2i** (even steps, :167-183): every item pulls
  ``i.label[p] = Σ_{u→i} w(u,i) · u.label[p]`` over its in-edges.
- **i2u** (odd steps, :185-240): ``tmp[p] = Σ_{u→i} w(u,i) · i.label[p]``
  over the user's out-edges; then per property (:215-233)

      new = old                                  if old == 0 or old == 1
      new = (tmp − out_deg·old)
            / (out_nbr_in_degree_sum − out_deg)  if the denominator ≠ 0
      new = old                                  otherwise

  (seed labels that are exactly 0/1 are clamped; the division is the
  reference's degree normalisation).

Only user labels are written out (:125-137).

Spark plan: users/items/edges are plain DataFrames (this is the one
reference app on the *property* graph rather than a projection).  The
degree tables are computed once and cached; each stage is a single
edge-table join + groupBy aggregation — u2i shuffles on the item key,
i2u on the user key.  Rounds are few and fixed (the reference's
``max_round``), so stages chain lazily; the loop carries no growing
lineage because each stage's output is only ever consumed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.skew import Gather


def lpa_u2i(
    users: DataFrame,
    edges: DataFrame,
    prop_cols: list[str],
    max_round: int = 10,
    adjacency: bool | None = None,
) -> DataFrame:
    """Run LPA-U2I and return the final user labels.

    Parameters
    ----------
    users : (vid long, <prop_cols...> double) — seed labels; values
        exactly 0.0 or 1.0 are clamped for the whole run.
    edges : (src long, dst long, w double) — user→item weighted edges.
    prop_cols : the property column names (the reference's prop_num).
    max_round : the reference's round budget; label stages run for
        steps 2..max_round alternating u2i (even) / i2u (odd).
    """
    e = edges.select("src", "dst", "w").cache()
    # packed, (dst, w) / (src, w) struct adjacency in both directions —
    # the u2i and i2u gathers probe |users| / |items| rows instead of |E|
    n_users = users.count()
    u2i = Gather(e, n_users, adjacency, "src", "dst", extras=("w",))
    i2u = Gather(e, n_users, adjacency, "dst", "src", extras=("w",))

    # PEval degree statistics (lpa_u2i.h:68-104)
    odeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    ideg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("id_"))
    onids = (
        e.join(ideg, "dst")
        .groupBy("src")
        .agg(F.sum("id_").alias("onids"))
    )
    ustats = (
        users.select("vid", *prop_cols)
        .join(odeg.withColumnRenamed("src", "vid"), "vid", "left")
        .join(onids.withColumnRenamed("src", "vid"), "vid", "left")
        .fillna(0.0, subset=["od", "onids"])
        .cache()
    )

    ulab = ustats.select("vid", *prop_cols)
    ilab: DataFrame | None = None

    for step in range(2, max_round + 1):
        if step % 2 == 0:
            # u2i: items pull Σ w·u.label over in-edges (lpa_u2i.h:167-183)
            ilab = (
                u2i.msgs(ulab, {c: F.col("w") * F.col(c) for c in prop_cols}, "vid")
                .groupBy("vid")
                .agg(*[F.sum(c).alias(c) for c in prop_cols])
            )
        else:
            # i2u: tmp = Σ w·i.label, then clamp / degree-normalise
            # (lpa_u2i.h:185-240)
            assert ilab is not None
            tmp = (
                i2u.msgs(ilab, {f"t_{c}": F.col("w") * F.col(c) for c in prop_cols}, "vid")
                .groupBy("vid")
                .agg(*[F.sum(f"t_{c}").alias(f"t_{c}") for c in prop_cols])
            )
            # the clamp tests the CURRENT label value (lpa_u2i.h:219),
            # not the seed — a label that lands exactly on 0/1 freezes.
            joined = (
                ustats.select("vid", "od", "onids")
                .join(ulab, "vid")
                .join(tmp, "vid", "left")
            )
            ulab = joined.select(
                "vid",
                *[
                    F.when(
                        (F.col(c) == 0.0) | (F.col(c) == 1.0), F.col(c)
                    )
                    .when(
                        F.col("onids") != F.col("od"),
                        (
                            F.coalesce(F.col(f"t_{c}"), F.lit(0.0))
                            - F.col("od") * F.col(c)
                        )
                        / (F.col("onids") - F.col("od")),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    for c in prop_cols
                ],
            )
    out = ulab.select("vid", *prop_cols)
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    ustats.unpersist()
    u2i.unpersist()
    i2u.unpersist()
    return out
