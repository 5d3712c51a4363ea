"""Weighted PageRank — power iteration over a weighted edge table.

Aggregated graphs — the host graph from ingest/urls.host_graph, or any
(src, dst, weight) table — need the weighted form of the family's power
iteration (kernels/pagerank.py ``power_iteration``):

    pr_{k+1}(v) = (1-d)/N + d * ( Σ_{u→v} pr_k(u) * w_uv / W_out(u)
                                  + dangling_mass_k / N )

with W_out(u) = Σ_v w_uv and dangling = vertices with W_out = 0, so
Σ pr == 1 at every superstep. Vertex ids are any equality-comparable
type (host strings included). With no GraphTables, this module builds
the step's two inputs itself: the edges repartitioned and sorted by src
once and cached, and the (vid, w_out) base. It runs on SuperstepEngine
as kernel ``wpagerank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import GatherEdges
from planar_spark.graph.superstep import materialize
from planar_spark.kernels.pagerank import power_iteration


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
    parts = config.partitions_for(edges.sparkSession)

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

    result = power_iteration(
        base, GatherEdges(e), base.withColumn("pr", F.lit(1.0 / n)), config,
        num_iterations, "wpagerank", n, degree="w_out", weight="w",
        lineage={"num_vertices": n},
    )
    e.unpersist()
    return result.state.select("vid", "pr")
