"""SSSP / BFS levels (unit weights) with an explicit frontier.

Reference kernel: core/apps/sssp_app.cpp:5-134 — Init sets
dist[source]=0, else INF; each round relaxes ``dist[v]+1`` into out-
neighbors via WriteMin, and only newly-improved vertices join the next
frontier (active bitmap, sssp_app.cpp:12-24). Unit weights: the
reference relaxes with +1, so distances are BFS levels.

DataFrame formulation: state = the FULL vertex table (vid, dist) with
dist = INF until reached (exactly the reference's dense dist array,
types.h:43). The frontier of superstep k is the rows with dist == k-1
(BFS invariant), so no separate frontier table needs checkpointing.
Each superstep:

    m      = frontier ⋈_{vid==src} edges → distinct dst     (small)
    state' = state left⋈ m : dist' = k where dist==INF and hit

Scale shape (r8 restructure): the state is cut to a FLAT LEAF every
round (releaf'd localCheckpoint), so the logical plan — and with it the
per-round analyzer/CacheManager cost — is CONSTANT-SIZE across rounds.
The previous cache-mode design kept the state's hash partitioning but
nested each round's plan inside the next (InMemoryRelation lineage):
measured on the sf0.1 bench graph, per-round wall time climbed
0.5s → 2.2s by round 8 purely from driver-side plan work, then reset
at the lineage truncation. With a leaf state the join against the
(broadcast) newly-reached set ``m`` is a BroadcastHashJoin over the
leaf scan — zero exchanges per round, flat per-round cost (plan
asserted in tests/test_plans.py). Rows stay physically hash(vid)-
distributed (the init repartition; every later op is narrow), so a
round whose frontier outgrows the broadcast threshold pays one
ENSURE_REQUIREMENTS exchange of the state — the explicit trade against
the old design's unbounded driver cost growth.

The frontier is never materialized: it is a lazy filter
(dist == k-1) over the ALREADY-materialized state leaf, broadcast when
small (maybe_broadcast) — the analogue of the reference's active-
bitmap scan skipping (core/apis/planar_app_base.h:167-205). Its size
rides the state materialization job as an Observation, so a superstep
is exactly ONE driver action (was two: state + frontier cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import maybe_broadcast
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult
from planar_spark.graph.tables import GraphTables

INF = 2**62  # unreached sentinel (reference keeps INF, types.h:43)


def bfs_sssp(
    graph: GraphTables,
    source: int,
    config: EngineConfig | None = None,
    max_iterations: int = 100,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (vid, dist) over ALL vertices; unreached = INF."""
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    edges = graph.edges

    def init_state() -> DataFrame:
        return (
            graph.vertices.select(
                "vid",
                F.when(F.col("vid") == int(source), 0)
                .otherwise(F.lit(INF))
                .cast("long")
                .alias("dist"),
            )
            .repartition(parts, "vid")
        )

    # The frontier is a LAZY filter over the previous round's
    # materialized state LEAF — referencing a leaf twice per round keeps
    # the plan constant-size (referencing a non-leaf state plan twice
    # would double the tree per round: exponential analyzer cost, the
    # reason the old design paid a second materialization job for a
    # standalone frontier leaf). Its row count rides the state
    # materialization job as an Observation; ``converged`` keeps it, from
    # the restored round's metrics too, so a resumed mid-expansion BFS
    # never force-broadcasts a large frontier.
    carry: dict = {"size": 1}

    engine = engine or SuperstepEngine(
        spark, config, "sssp",
        lineage={"source": int(source), "num_edges": graph.num_edges},
    )

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        from pyspark.sql import Observation

        frontier = maybe_broadcast(
            state.where(F.col("dist") == k - 1).select("vid"),
            carry["size"],
        )
        m = (
            edges.join(frontier, edges["src"] == frontier["vid"], "left_semi")
            .select(F.col("dst").alias("vid"))
            .distinct()
            .withColumn("_hit", F.lit(True))
        )
        obs = Observation()
        new = (
            state.join(m, "vid", "left")
            .select(
                "vid",
                F.when(
                    (F.col("dist") >= INF) & F.col("_hit").isNotNull(),
                    F.lit(k),
                )
                .otherwise(F.col("dist"))
                .cast("long")
                .alias("dist"),
            )
            .observe(
                obs,
                F.sum((F.col("dist") == k).cast("long")).alias(
                    "frontier_size"
                ),
            )
        )
        return new, {"_obs": obs}

    def converged(metrics: dict) -> bool:
        n = metrics.get("frontier_size")
        n = int(n or 0)
        carry["size"] = n
        return n == 0

    return engine.run(
        init_state, step, max_iterations, converged, resume=resume
    )


def weighted_sssp(
    graph: GraphTables,
    source: int,
    config: EngineConfig | None = None,
    weights: DataFrame | None = None,
    max_rounds: int = 300,
    metrics_out: dict | None = None,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, dist) for ALL vertices: minimum total EDGE WEIGHT from
    ``source``; unreached = -1. The true weighted companion to
    bfs_sssp (which relaxes +1 per hop, core/apps/sssp_app.cpp:12-24 —
    the reference has no weighted variant; crawl frontier scheduling
    and link-distance analyses want one).

    ``weights``: (src, dst, w) with non-negative weights, defaulting to
    hop weight 1 (== BFS levels). Algorithm is frontier Bellman-Ford on
    the SuperstepEngine, structured exactly like bfs_sssp (r8 flat-leaf
    restructure — see bfs_sssp's module note for the measured driver-
    cost argument):

    - the state (vid, dist, _imp) is cut to a flat LEAF every round, so
      per-round plan/analyzer cost is constant across rounds;
    - the improved set (the Bellman-Ford frontier, ``_imp == 1``) is a
      LAZY filter over that leaf — never separately materialized — with
      its row count observed on the state materialization job: one
      driver action per round (was two);
    - round r relaxes only edges out of round r-1's improved set, so
      per-round shuffle volume is O(improved-set edges) after the
      first relax; the frontier broadcasts when small.

    Riding the engine also buys the durable per-superstep checkpoint /
    ``resume`` path for free: the checkpointed state carries the
    ``_imp`` flag, so a resumed run re-derives the EXACT Bellman-Ford
    frontier (``_imp == 1``) — the same set the checkpoint's
    ``improved`` metric counted, so the broadcast-size seed always
    matches the frontier actually broadcast (an O(V) reached-set
    frontier with a small size seed could force-broadcast the whole
    state). Terminates at the exact fixpoint; raises if ``max_rounds``
    is exhausted first."""
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    ew = (
        weights
        if weights is not None
        else graph.edges.select("src", "dst", F.lit(1).alias("w"))
    )
    ew = ew.repartition(parts, "src").persist()

    def init_state() -> DataFrame:
        return graph.vertices.select(
            "vid",
            F.when(F.col("vid") == int(source), F.lit(0))
            .otherwise(F.lit(INF))
            .cast("long")
            .alias("dist"),
            (F.col("vid") == int(source)).cast("long").alias("_imp"),
        ).repartition(parts, "vid")

    carry: dict = {"size": 1}

    engine = engine or SuperstepEngine(
        spark, config, "weighted_sssp",
        lineage={"source": int(source), "num_edges": graph.num_edges},
    )

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        from pyspark.sql import Observation

        # the exact Bellman-Ford frontier is the _imp==1 set of the
        # materialized leaf (the source on a fresh init; the last
        # completed round's improved set on resume — matching the
        # checkpointed 'improved' metric that seeded carry['size'])
        frontier = state.where(F.col("_imp") == 1).select("vid", "dist")
        relax = (
            ew.join(
                maybe_broadcast(
                    frontier.select(
                        F.col("vid").alias("src"), F.col("dist").alias("ds")
                    ),
                    carry["size"],
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min(F.col("ds") + F.col("w")).alias("cand"))
        )
        improved = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        obs = Observation()
        new = (
            state.select("vid", "dist")
            .join(relax, "vid", "left")
            .select(
                "vid",
                F.when(improved, F.col("cand"))
                .otherwise(F.col("dist"))
                .alias("dist"),
                improved.cast("long").alias("_imp"),
            )
            .observe(obs, F.sum("_imp").alias("improved"))
        )
        return new, {"_obs": obs}

    def converged(metrics: dict) -> bool:
        n = int(metrics.get("improved") or 0)
        carry["size"] = n
        return n == 0

    result = engine.run(
        init_state, step, max_rounds, converged, resume=resume
    )
    ew.unpersist()
    if not result.converged:
        raise RuntimeError(
            f"weighted_sssp: no fixpoint in {max_rounds} rounds; "
            "raise max_rounds (negative weights? deep weighted paths?)"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = result.steps_run
        metrics_out["improved_per_round"] = [
            m["improved"] for m in result.metrics if "improved" in m
        ]
    return result.state.select(
        "vid",
        F.when(F.col("dist") >= INF, F.lit(-1))
        .otherwise(F.col("dist"))
        .alias("dist"),
    )


def sssp_with_unreached(
    graph: GraphTables, result_state: DataFrame
) -> DataFrame:
    """(vid, dist) for ALL vertices; unreached = -1 (reference SSSP keeps
    INF, types.h:43 — we surface -1 for a SQL-friendly sentinel)."""
    return (
        graph.vertices.select("vid")
        .join(result_state, "vid", "left")
        .select(
            "vid",
            F.when(
                F.col("dist").isNull() | (F.col("dist") >= INF), F.lit(-1)
            )
            .otherwise(F.col("dist"))
            .cast("long")
            .alias("dist"),
        )
    )
