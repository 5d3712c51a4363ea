"""Densest subgraph — Bahmani-Kumar-Vassilvitskii 2(1+eps)-approx peeling.

Not in the reference's app set; a standard web-graph kernel (dense
subgraphs of a link graph are link farms, mutual-admiration cliques,
and boilerplate template clusters — the things a crawl pipeline wants
flagged before PageRank rewards them). Density here is the standard
avg-degree form rho(S) = |E(S)| / |S| over the undirected simple graph.

Algorithm (MapReduce-native by design, Bahmani et al., "Densest
subgraph in streaming and MapReduce", VLDB 2012): repeatedly delete
ALL vertices with degree <= 2(1+eps) * rho(current), remembering the
densest iterate seen. Every pass shrinks the vertex set by a constant
factor, so there are O(log(V)/eps) rounds, each a full-but-shrinking
O(E) degree count — no per-vertex ordering, no priority queue, exactly
the shape Spark aggregates like. The result is a 2(1+eps) approximation
of the optimum (their Thm. 1); with a fixed eps the pass sequence and
the returned iterate are fully deterministic.

Scale notes: per round = one materialized groupBy degree count (whose
ROW COUNT is |V(current)|, observed on that same job) + one semi-join
shrink over the CURRENT edge set (geometrically shrinking, |E| observed
on its materialization) — 2 jobs and 2 scalars per round to the driver,
no standalone count actions anywhere. State is only the edge set plus
the round's degree table; lineage is cut per round via releaf'd
localCheckpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import materialize
from planar_spark.graph.tables import GraphTables, undirected_degree


def densest_subgraph(
    graph: GraphTables,
    config: EngineConfig | None = None,
    eps: float = 0.1,
    max_rounds: int = 200,
    metrics_out: dict | None = None,
) -> DataFrame:
    """(vid, in_densest) over ALL vertices, in_densest = 1 for the
    members of the densest iterate found; the achieved density rides
    ``metrics_out['best_density']`` (plus ``rounds`` and
    ``densities`` per round). 2(1+eps)-approximate, deterministic."""
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)

    obs0 = Observation()
    und = materialize(
        graph.undirected_edges_by_a(parts)
        .observe(obs0, F.count(F.lit(1)).alias("m"))
    )
    m = int(obs0.get["m"] or 0)
    if m == 0:
        if metrics_out is not None:
            metrics_out.update(rounds=0, best_density=0.0, densities=[])
        return graph.vertices.select(
            "vid", F.lit(0).cast("long").alias("in_densest")
        )
    thresh_factor = 2.0 * (1.0 + eps)
    best_density = None
    best_edges = und
    densities: list[float] = []
    rounds = 0
    cur, cur_m = und, m
    for _ in range(max_rounds):
        # ONE degree aggregation per pass, materialized: its row count
        # IS |V(cur)| (distinct endpoints), observed on the same job —
        # and the materialized table then feeds the keep-filter below,
        # so the degree work is never recomputed inside the shrink job.
        obs_n = Observation()
        deg = materialize(
            undirected_degree(cur).observe(
                obs_n, F.count(F.lit(1)).alias("n")
            )
        )
        cur_n = int(obs_n.get["n"] or 0)
        density = cur_m / cur_n
        densities.append(round(density, 6))
        if best_density is None or density > best_density:
            best_density = density
            best_edges = cur
        keep = deg.where(F.col("udeg") > thresh_factor * density)
        ka = keep.select(F.col("vid").alias("a"))
        kb = keep.select(F.col("vid").alias("b"))
        obs = Observation()
        nxt = materialize(
            cur.join(ka, "a", "left_semi")
            .join(kb, "b", "left_semi")
            .observe(obs, F.count(F.lit(1)).alias("m"))
        )
        rounds += 1
        new_m = int(obs.get["m"] or 0)
        cur, cur_m = nxt, new_m
        if new_m == 0:
            break
    else:
        raise RuntimeError(
            f"densest_subgraph: not finished in {max_rounds} rounds "
            "(eps too small?)"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["best_density"] = round(best_density, 6)
        metrics_out["densities"] = densities
    members = (
        best_edges.select(F.col("a").alias("vid"))
        .unionAll(best_edges.select(F.col("b").alias("vid")))
        .distinct()
        .withColumn("_in", F.lit(1))
    )
    return (
        graph.vertices.select("vid")
        .join(members, "vid", "left")
        .select(
            "vid", F.coalesce("_in", F.lit(0)).cast("long").alias("in_densest")
        )
    )
