"""k-truss: edge-cohesion peeling over the undirected simple graph.

Not in the reference's app set; the edge-level companion to k-core
(kernels/kcore.py) and a standard community/spam-farm hygiene kernel
for link graphs: the k-truss is the maximal subgraph in which every
edge participates in at least k-2 triangles WITHIN the subgraph, so it
keeps only tightly clustered link neighborhoods (a k-truss is always a
subgraph of the (k-1)-core, but strictly stronger).

``k_truss`` — synchronous support peeling to a fixpoint, one form:

  round r: 1. enumerate triangles of the CURRENT edge set with the
              degree-oriented two-join from kernels/triangles.py
              (orientation bounds wedge work at O(E^1.5) even on
              power-law graphs — recomputed each round because degrees
              shrink as edges are deleted);
           2. per-edge support = triangles containing the edge
              (3 contribution rows per triangle, partial-agg'd);
           3. delete every edge with support < k-2; repeat until no
              edge is deleted. Deterministic (the k-truss is unique).

``k_truss`` runs on SuperstepEngine: the per-round survivor count
rides the state materialization as an Observation (no standalone count
actions), the loop fails loudly if max_rounds is exhausted before the
fixpoint, and the engine checkpoints the edge set every
config.checkpoint_every rounds (resume re-enters at the newest
completed round).

Scale notes: each round's work is one oriented triangle join over the
SHRINKING edge set plus one partial-aggregated support count — the
same shuffle shapes as the gated triangle kernel, repeated a small
number of rounds (peeling cascades are shallow on web graphs; the
round count is reported via metrics_out and sized into the oracle
unroll).

Why recompute is the one k-truss form: a delta form (triangles and
supports materialized once, rounds writing only frontier-sized
decrement tables) was measured against it (bench ``ktruss_cascade*``
rows + a 3x-interleaved probe-tagged A/B on the 20-round
geometric-gradient fixture). It won the DEEP cascade by only ~4% at
the medians (52.9s vs 55.1s — inside the host's bimodal memory-mode
noise) and LOST shallow web-shaped peels ~2.5-3x (sf0.1, 1-2 rounds:
≈15s vs ≈5s), where its one-time O(#triangles) materialization
dominates. Web/link graphs peel shallow, and recompute is also the
durable form, so it is the only one. ``truss_decomposition`` is a
different question — every level, not one — and keeps its one
materialized triangle list across all levels (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import (
    SuperstepEngine,
    empty_table,
    materialize,
)
from planar_spark.graph.tables import GraphTables
from planar_spark.kernels.triangles import closed_wedges, oriented_edges

# truss_decomposition cuts its running assignment table's lineage
# every this many removal rounds
ASSIGN_TRUNCATE_EVERY = 8


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, s): triangles per undirected edge (a < b) of ``und``.

    Degree-oriented enumeration (see kernels/triangles.py module doc);
    edges in no triangle are absent from the result. Catalyst fuses the
    triangle join and the contribution aggregate into one plan — the
    triangle list itself is never materialized on this path."""
    return _tri_edge_contribs(closed_wedges(oriented_edges(und))).select(
        "a", "b", F.col("c_n").alias("s")
    )


def _tri_edge_contribs(tri: DataFrame) -> DataFrame:
    """(a, b, c_n): per canonical undirected edge, how many triangles of
    ``tri`` contain it (3 contribution rows per triangle)."""
    return (
        tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .unionAll(
            tri.select(
                F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
            )
        )
        .unionAll(
            tri.select(
                F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
            )
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_n"))
    )


def truss_decomposition(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_rounds: int = 2000,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(a, b, truss) for every undirected edge: the truss NUMBER — the
    largest k such that the edge survives in the k-truss (edges in no
    triangle get truss 2, the conventional floor). The edge-cohesion
    companion to kcore.core_decomposition; truss numbers rank link
    neighborhoods by community strength for spam-farm and template
    filtering.

    Ascending-k DELTA peeling over ONE materialized triangle list: at
    level k, edges with support < k-2 are removed (their truss number
    is k-1), the triangles they close are killed, and only the
    surviving edges of killed triangles get support decrements. When a
    level reaches its fixpoint, k advances — a free driver branch.
    Total decrement work across ALL levels is O(#triangles); the
    O(#triangles) list held across rounds is the memory trade of
    peeling every level from one enumeration. Deterministic.

    Assignments accumulate on ONE running (a, b, truss) table whose
    lineage (and the per-round doomed-edge leaves it references) is
    cut every ``ASSIGN_TRUNCATE_EVERY`` rounds — no leaf pinned per
    round. ``max_rounds`` bounds the removal rounds; RuntimeError when
    they do not finish.

    Durable resume: the removal rounds run on ``SuperstepEngine`` under
    kernel ``truss_decomp``, state = the surviving edges with supports
    (es) carrying the remaining triangle list (tri) and the running
    assignments. With ``config.checkpoint_dir`` set, round 0 and every
    ``config.checkpoint_every``-th removal round write the three tables
    plus the level and the alive-edge count; ``resume=True`` with the
    same ``run_id`` re-enters the ascending peel at the newest
    completed round (level advances between saves replay
    idempotently).
    """
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    c = {"k": 3}

    def counted(tables: dict) -> tuple[dict, dict]:
        obs = Observation()
        es = tables["state"].observe(obs, F.count(F.lit(1)).alias("n_alive"))
        return {**tables, "state": es}, {"_obs": obs}

    def init() -> tuple[dict, dict]:
        und = graph.undirected_edges_by_a(parts)
        tri = materialize(closed_wedges(oriented_edges(und)))
        return counted({
            "state": und.join(_tri_edge_contribs(tri), ["a", "b"], "left")
            .select("a", "b", F.coalesce("c_n", F.lit(0)).alias("s")),
            "tri": tri,
            "assigned": empty_table(spark, "a long, b long, truss long"),
        })

    def step(t: dict, rnd: int) -> tuple[dict, dict]:
        es, tri = t["state"], t["tri"]
        while True:
            obs_d = Observation()
            doomed = materialize(
                es.where(F.col("s") < c["k"] - 2)
                .select("a", "b")
                .observe(obs_d, F.count(F.lit(1)).alias("n"))
            )
            if int(obs_d.get["n"] or 0):
                break
            c["k"] += 1  # level fixpoint: every remaining edge is k-truss
        assigned = t["assigned"].unionAll(
            doomed.select(
                "a", "b", F.lit(c["k"] - 1).cast("long").alias("truss")
            )
        )
        if rnd % ASSIGN_TRUNCATE_EVERY == 0:
            # cut the assignment lineage: releases the union chain AND
            # the per-round doomed-edge leaves it references
            assigned = materialize(assigned)

        def probe(x, y):
            d = doomed.select(
                F.col("a").alias("_da"), F.col("b").alias("_db")
            )
            cond = (F.least(tri[x], tri[y]) == d["_da"]) & (
                F.greatest(tri[x], tri[y]) == d["_db"]
            )
            return tri.join(d, cond, "left_semi")

        killed = (
            probe("x", "y")
            .unionAll(probe("y", "z"))
            .unionAll(probe("x", "z"))
            .distinct()
        )
        dec = _tri_edge_contribs(killed)
        return counted({
            "state": es.join(doomed, ["a", "b"], "left_anti")
            .join(dec, ["a", "b"], "left")
            .select(
                "a", "b",
                (F.col("s") - F.coalesce("c_n", F.lit(0))).alias("s"),
            ),
            "tri": materialize(tri.join(killed, ["x", "y", "z"], "left_anti")),
            "assigned": assigned,
        })

    def settle(m: dict) -> bool:
        if "k" in m:  # the restored round
            c["k"] = m["k"]
        m["k"] = c["k"]
        return not m["n_alive"]

    engine = SuperstepEngine(spark, config, "truss_decomp", run_id=run_id)
    result = engine.run(init, step, max_rounds, settle, resume=resume)
    if not result.converged:
        raise RuntimeError(
            f"truss_decomposition: not finished in {max_rounds} rounds; "
            "raise max_rounds"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = result.steps_run
        metrics_out["max_truss"] = c["k"] - 1
    return result.tables["assigned"]


def k_truss(
    graph: GraphTables,
    k: int,
    config: EngineConfig | None = None,
    max_rounds: int = 100,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
    delta: bool = False,
) -> DataFrame:
    """Returns the k-truss edge set (a, b) with a < b, exact and
    deterministic. ``metrics_out`` receives ``rounds`` and
    ``survivors_per_round`` (used to size the oracle unroll).
    ``delta`` is accepted and ignored: recompute is the one form (see
    the module doc for the measured reason).

    Runs on ``SuperstepEngine``, one superstep per peeling round. With
    ``config.checkpoint_dir`` set, the edge set is checkpointed under
    kernel ``ktruss`` at round 0 (all edges) and every
    ``config.checkpoint_every``-th round, the survivor counts riding the
    round's metrics; ``resume=True`` with the same ``run_id`` re-enters
    at the newest completed round."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (k-2 >= 1 triangles)")
    config = config or EngineConfig()
    spark = graph.spark
    c = {"n": None, "survivors_per_round": []}

    def counted(und: DataFrame, **extra) -> tuple[DataFrame, dict]:
        obs = Observation()
        und = und.observe(obs, F.count(F.lit(1)).alias("n"))
        return und, {"_obs": obs, **extra}

    def step(und: DataFrame, _rnd: int) -> tuple[DataFrame, dict]:
        kept = (
            und.join(_edge_support(und), ["a", "b"], "left")
            .where(F.coalesce("s", F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        # the round's input size makes its own stop test restorable
        return counted(kept, n_in=c["n"])

    def settle(m: dict) -> bool:
        if "survivors_per_round" in m:  # the restored round
            c["survivors_per_round"] = list(m["survivors_per_round"])
        elif "n_in" in m:  # a new peeling round
            c["survivors_per_round"].append(m["n"])
        c["n"] = m["n"]
        m["survivors_per_round"] = c["survivors_per_round"]
        # fixpoint: nothing left, or the round deleted no edge
        return not m["n"] or m["n"] == m.get("n_in")

    engine = SuperstepEngine(spark, config, "ktruss", run_id=run_id)
    result = engine.run(
        lambda: counted(
            graph.undirected_edges_by_a(config.partitions_for(spark))
        ),
        step,
        max_rounds,
        settle,
        resume=resume,
    )
    if not result.converged:
        raise RuntimeError(
            f"k_truss: peeling did not reach a fixpoint in {max_rounds} "
            "rounds; raise max_rounds"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = result.steps_run
        metrics_out["survivors_per_round"] = c["survivors_per_round"]
    return result.state
