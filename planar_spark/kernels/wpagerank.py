"""Weighted PageRank — power iteration over a weighted edge table.

The page-level kernel (kernels/pagerank.py) follows the reference's
unweighted model (core/apps/pagerank_app.h:38-99). Aggregated graphs —
the host graph from ingest/urls.host_graph, or any (src, dst, weight)
table — need the weighted formulation:

    pr_{k+1}(v) = (1-d)/N + d * ( Σ_{u→v} pr_k(u) * w_uv / W_out(u)
                                  + dangling_mass_k / N )

with W_out(u) = Σ_v w_uv and dangling = vertices with W_out = 0.
Σ pr == 1 at every superstep, exactly like the unweighted kernel.

Vertex ids are any equality-comparable type (host strings included) —
nothing in the plan needs arithmetic on the id. Plan shape matches
pagerank.py: edges repartitioned+sorted by src once and cached, state
(vid, w_out, pr) merged per superstep, dangling mass folded in-plan as
a broadcast 1-row aggregate, partial-agg'd groupBy(dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import materialize


def weighted_pagerank(
    edges: DataFrame,
    config: EngineConfig | None = None,
    num_iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """edges: (src, dst, weight > 0). Returns (vid, pr), Σ pr == 1."""
    config = config or EngineConfig()
    spark = edges.sparkSession
    d = config.damping
    parts = config.partitions_for(spark)

    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .repartition(parts, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    verts = (
        e.select(F.col("src").alias("vid"))
        .unionAll(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    w_out = e.groupBy(F.col("src").alias("vid")).agg(
        F.sum("w").alias("w_out")
    )
    base = materialize(
        verts.join(w_out, "vid", "left")
        .select("vid", F.coalesce("w_out", F.lit(0.0)).alias("w_out"))
        .repartition(parts, "vid")
    )
    n = base.count()
    if n == 0:
        raise ValueError("weighted_pagerank requires a non-empty edge table")

    state = base.withColumn("pr", F.lit(1.0 / n))
    for _ in range(num_iterations):
        live = state.where(F.col("w_out") > 0).select(
            "vid", (F.col("pr") / F.col("w_out")).alias("s")
        )
        contribs = (
            e.join(live, e["src"] == live["vid"])
            .select("dst", (F.col("w") * F.col("s")).alias("c"))
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("c").alias("contrib"))
        )
        dm_df = state.where(F.col("w_out") == 0).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm")
        )
        state = materialize(
            base.join(contribs, "vid", "left")
            .crossJoin(F.broadcast(dm_df))
            .select(
                "vid",
                "w_out",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("pr"),
            )
        )
    e.unpersist()
    return state.select("vid", "pr")
