"""Personalized PageRank — random walk with restart to a seed set.

The pagerank family's power iteration (kernels/pagerank.py
``power_iteration``) with the uniform teleport vector replaced by a
seed-restart distribution — the topic-sensitive / personalized
formulation used for related-page and recommendation queries:

    ppr_{k+1}(v) = (1-d) * reset(v)
                   + d * ( Σ_{u→v} ppr_k(u)/outdeg(u)
                           + dangling_mass_k * reset(v) )

with reset(v) = 1/|S| for v ∈ S else 0, so Σ ppr == 1 at every
superstep. The state carries ``reset`` (joined once from the broadcast
seed set, whose distinct is computed and cached once per call), so no
step re-joins the seeds. The gather reads the out-edges in the layout
graph/skew.py ``gather_edges`` picks; a hub's edges are split off once
per call, and its ppr/out_deg rides each state's Observation with the
dangling mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import gather_edges
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult
from planar_spark.graph.tables import GraphTables
from planar_spark.kernels.pagerank import power_iteration


def personalized_pagerank(
    graph: GraphTables,
    seeds: DataFrame,
    config: EngineConfig | None = None,
    num_iterations: int | None = None,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """seeds: DataFrame with a ``vid`` column (must be non-empty and a
    subset of the vertex set). Returns state (vid, out_deg, reset, ppr);
    final ppr sums to 1."""
    config = config or EngineConfig()
    seed_ids = seeds.select("vid").distinct().persist()
    n_seeds = seed_ids.count()
    if n_seeds == 0:
        seed_ids.unpersist()
        raise ValueError("personalized_pagerank requires a non-empty seed set")
    r = 1.0 / n_seeds

    gather = gather_edges(graph, config, "out")
    seed_flag = seed_ids.withColumn("_seed", F.lit(True))
    base = (
        graph.degrees.join(F.broadcast(seed_flag), "vid", "left")
        .select(
            "vid",
            "out_deg",
            F.when(F.col("_seed").isNotNull(), F.lit(r))
            .otherwise(F.lit(0.0))
            .alias("reset"),
        )
        .persist()
    )
    result = power_iteration(
        base, gather, base.withColumn("ppr", F.col("reset")), config,
        num_iterations or config.max_iterations, "ppr", graph.num_vertices,
        value="ppr", reset="reset", engine=engine, resume=resume,
        lineage={"num_vertices": graph.num_vertices, "num_edges": graph.num_edges},
    )
    base.unpersist()
    seed_ids.unpersist()
    gather.release()
    return result
