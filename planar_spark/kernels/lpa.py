"""Synchronous label propagation (LPA) with deterministic tie-break.

Not present in the reference (the north rule adds it); the closest
reference patterns are WCC's hash-min exchange (nvme/apps/
wcc_nvme_app.h:48-75) and Coloring's neighbor-vote loop
(core/apps/coloring_app.cpp:5-110). Spec (FIXTURES.md §4):

- undirected neighbor multiset over the DISTINCT undirected edge set;
- synchronous rounds: every vertex simultaneously adopts the most
  frequent label among its neighbors' previous-round labels;
- tie-break: smallest label (fully deterministic — exact-match oracle);
- isolated vertices keep their own label;
- fixed round count (synchronous LPA can 2-cycle on bipartite
  structures, so "run R rounds" IS the spec, not a convergence proxy).

Per superstep: one gather join + groupBy(vid, label).count + a max_by
argmax aggregate — all JVM-side, no windows (a window partitioned by
vid would sort a hub's entire neighbor-label multiset in one task;
max_by is partial-aggregated map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import gather_edges
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult
from planar_spark.graph.tables import GraphTables


def label_propagation(
    graph: GraphTables,
    config: EngineConfig | None = None,
    num_iterations: int = 10,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (vid, label) after exactly ``num_iterations`` rounds."""
    config = config or EngineConfig()
    spark = graph.spark
    # the symmetric edge table in the layout graph/skew.py gather_edges
    # picks (block-pinned, else hashed and sorted by src): either way
    # the merge-hinted gather takes no exchange or sort on the edge side
    sym = gather_edges(graph, config, "sym")

    def init_state() -> DataFrame:
        return graph.vertices.select("vid", F.col("vid").alias("label"))

    def step(labels: DataFrame, _step: int) -> tuple[DataFrame, dict]:
        msgs = sym.join(labels).select(F.col("dst").alias("vid"), "label")
        counts = msgs.groupBy("vid", "label").agg(F.count(F.lit(1)).alias("n"))
        # argmax by (count desc, label asc) as a max_by aggregate (r8):
        # still partial-agg-able (map-side combine), so a hub with
        # millions of distinct neighbor labels never becomes one sorted
        # window partition. Still plans as a SortAggregate pair (struct
        # buffer), but with a leaner buffer/projection than the old
        # max(struct(n, -label)) + negate-back form — measured 0.71s vs
        # 0.85-1.15s per round on the sf0.1 bench graph (noop-isolated
        # A/B, identical picks). Deterministic: the ordering struct
        # (n, -label) is unique per (vid, label) group — no ties.
        picked = counts.groupBy("vid").agg(
            F.max_by(
                "label",
                F.struct(F.col("n"), (-F.col("label")).alias("nl")),
            ).alias("new_label")
        )
        new = (
            labels.join(picked, "vid", "left")
            .select("vid", F.coalesce("new_label", F.col("label")).alias("label"))
        )
        return new, {}

    engine = engine or SuperstepEngine(
        spark, config, "lpa",
        lineage={"num_vertices": graph.num_vertices,
                 "num_edges": graph.num_edges, "rounds": num_iterations},
    )
    result = engine.run(init_state, step, num_iterations, resume=resume)
    sym.release()
    return result
