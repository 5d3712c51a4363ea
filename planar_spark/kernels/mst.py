"""Minimum spanning forest via Boruvka supersteps.

Reference kernel: core/apps/mst_app.cpp:5-238 — per round FindMinEdge
(each vertex/component finds its minimum incident edge, using vertex
ids as the implicit weight proxy, mst_app.cpp:88-99), Graft (hook
components along those edges), PointJump, Contract. We keep the same
weight proxy, made fully deterministic: the weight of undirected edge
(a, b), a<b, is the pair (a, b) ordered lexicographically.

DataFrame Boruvka round:
  1. label edges by the component of each endpoint (2 joins) and drop
     intra-component edges (the Contract) — composed INLINE into the
     pick plan, never materialized on its own;
  2. per component, pick the min incident edge — ``min_by`` over the
     (a, b, ca, cb) struct (the FindMinEdge); the endpoint labels ride
     in the struct so the Graft below needs NO re-join against the
     label table;
  3. append the picked edges to the forest; hook components:
     component label <- min(label, other endpoint's label) over picked
     edges, then pointer-double to a fixpoint (the Graft+PointJump).

Driver-barrier diet (scale shape): every per-round convergence count
rides an existing materialization job as an ``Observation`` — the
picked-edge count is observed on the pick checkpoint, and each
pointer-doubling jump observes its own changed-count on the jump
checkpoint. A Boruvka round is therefore 2 + #jumps driver jobs
(pick, hook-merge, jumps), with NO standalone ``count()`` actions. The
forest is append-only DURING the run: hook-to-min merges each
component with exactly one neighbor per round, so a picked star edge
whose component hooked elsewhere can stay live and be re-picked next
round — those cross-round duplicates (never cycles: a re-picked edge
still bridges two genuinely distinct clusters) are removed by ONE
``distinct`` over the final union, not a re-distinct of the growing
forest every round.

Terminates when no inter-component edges remain; the result is the
spanning forest edge set (exact, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import (
    SuperstepEngine,
    SuperstepResult,
    empty_table,
    materialize,
)
from planar_spark.graph.tables import GraphTables


def boruvka_msf(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_rounds: int = 30,
    max_jumps: int = 40,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Returns the spanning-forest edges (a, b) with a < b — plus a
    ``w`` column when real ``weights`` are given.

    ``weights``: optional (src, dst, w) edge weights (direction
    ignored; duplicate/reciprocal rows collapse to the MIN weight, and
    every undirected edge of the graph must be covered — fail-loud
    otherwise). FindMinEdge then minimizes the TOTAL ORDER
    (w, a, b) — weight first, lexicographic edge as the deterministic
    tie-break. Any strict total order yields a UNIQUE msf, so the
    result equals weighted Kruskal's under the same order (pytest) and
    the unrolled-Boruvka SQL oracle's. Default (weights=None) keeps
    the reference's vid-pair weight proxy (mst_app.cpp:88-99).

    ``metrics_out`` (optional dict) receives ``rounds``, ``jumps`` (total
    pointer-doubling jobs across all rounds) and ``picked_per_round`` —
    used by the job-diet regression test and the bench extras. A run
    that spends ``max_rounds`` before the empty pick returns the
    forest picked so far.

    Durable resume: the rounds run on ``SuperstepEngine`` under kernel
    ``msf``. With ``config.checkpoint_dir`` set, round 0 and every
    ``config.checkpoint_every``-th Boruvka round write the labels
    (``state``), the forest so far (``forest``) and the driver
    counters; ``resume=True`` with the same ``run_id`` re-enters at the
    newest completed round (tested kill/resume-identical in
    tests/test_loop_resume.py).
    """
    result, c = _boruvka(
        graph, config, max_rounds, max_jumps, run_id, resume, weights
    )
    if metrics_out is not None:
        metrics_out.update(c)
    # one terminal dedup (see module doc: hook-to-min can re-pick a
    # star edge across rounds) — O(|forest|) once, not once per round
    return result.tables["forest"].distinct()


def _boruvka(
    graph: GraphTables,
    config: EngineConfig | None,
    max_rounds: int,
    max_jumps: int,
    run_id: str | None,
    resume: bool,
    weights: DataFrame | None = None,
) -> tuple[SuperstepResult, dict]:
    """The Boruvka rounds behind ``boruvka_msf`` and
    ``connected_components(algorithm="boruvka")``: one superstep per
    round, state (vid, label) carrying ``forest``, the union of the
    picked edges. The run converges on the empty pick, when the labels
    are exact WCC labels (label = min vid of the component: hook-to-min
    plus full pointer doubling converges every cluster to its min-vid
    root). Returns the engine's result and the driver counters
    ``rounds``, ``jumps`` and ``picked_per_round``."""
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)

    if weights is None:
        und = graph.undirected_edges_by_a(parts)
        forest_schema = "a long, b long"
    else:
        wn = (
            weights.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col("w"),
            )
            .groupBy("a", "b")
            .agg(F.min("w").alias("w"))
        )
        # the join keeps the builder's hash(a) layout; the sort keeps
        # its order when the planner broadcasts the weights
        und = (
            graph.undirected_edges_by_a(parts)
            .join(wn, ["a", "b"], "left")
            .sortWithinPartitions("a")
        )
        # mirror the caller's weight type: an edgeless graph must
        # return the same w column type as the non-empty path
        wtype = weights.schema["w"].dataType.simpleString()
        forest_schema = f"a long, b long, w {wtype}"
    # FindMinEdge per component: min (a, b) struct incident to it
    # — (w, a, b) when real weights ride along — seen from both
    # endpoints' components. ca/cb are functionally determined by
    # (a, b) within a round, so carrying them in the struct changes
    # neither the min nor the distinct.
    if weights is not None:
        e_struct = F.struct("w", "a", "b", "ca", "cb").alias("e")
        pick_cols = ["e.a", "e.b", "e.w", "e.ca", "e.cb"]
        edge_cols = ["a", "b", "w"]
    else:
        e_struct = F.struct("a", "b", "ca", "cb").alias("e")
        pick_cols = ["e.a", "e.b", "e.ca", "e.cb"]
        edge_cols = ["a", "b"]
    c = {"rounds": 0, "jumps": 0, "picked_per_round": []}

    def init() -> dict:
        return {
            "state": graph.vertices.select("vid", F.col("vid").alias("label")),
            "forest": empty_table(spark, forest_schema),
        }

    def step(t: dict, _rnd: int) -> tuple[dict, dict]:
        labels = t["state"]
        la = labels.select(F.col("vid").alias("a"), F.col("label").alias("ca"))
        lb = labels.select(F.col("vid").alias("b"), F.col("label").alias("cb"))
        live = (
            und.hint("merge").join(la, "a").join(lb, "b")
            .where(F.col("ca") != F.col("cb"))
        )
        incident = live.select(F.col("ca").alias("comp"), e_struct).unionAll(
            live.select(F.col("cb").alias("comp"), e_struct)
        )
        obs_pick = Observation()
        picked = materialize(
            incident.groupBy("comp")
            .agg(F.min("e").alias("e"))
            .select(*pick_cols)
            .distinct()
            .observe(obs_pick, F.count(F.lit(1)).alias("n"))
        )
        n_picked = int(obs_pick.get["n"])
        if n_picked == 0:
            return t, {}  # the empty pick: every label is final
        # Graft: across picked edges, both endpoints' components adopt
        # the min of the two labels (labels ride in the picked rows).
        hooks = picked.select(
            F.col("ca").alias("comp"), F.col("cb").alias("adopt")
        ).unionAll(
            picked.select(F.col("cb").alias("comp"), F.col("ca").alias("adopt"))
        )
        merged = hooks.groupBy("comp").agg(F.min("adopt").alias("new_label"))
        # PointJump to a fixpoint — on the COMPONENT mapping, not the
        # O(V) label table (r8): hook chains live entirely within the
        # comp→comp mapping (one row per hooked component, geometrically
        # shrinking across rounds), so pointer DOUBLING over the mapping
        # reaches the same roots while each jump job rewrites mapping-
        # sized data; the full label table is rewritten ONCE per round
        # through the resolved mapping (was 1 + #jumps O(V) rewrites).
        # Every merged cluster must still end the round under ONE label,
        # or a stale label could re-pick an intra-cluster edge next
        # round and close a cycle; each jump's changed-count is observed
        # on its own (tiny) checkpoint job.
        # hook-to-min includes the component's own label in the min
        # (the old code's least(label, new_label) at the label join)
        mp = materialize(
            merged.select(
                "comp",
                F.least("comp", "new_label").alias("new_label"),
            )
        )
        jumps = 0
        for _j in range(max_jumps):
            parent = mp.select(
                F.col("comp").alias("p_comp"), F.col("new_label").alias("p_label")
            )
            obs_j = Observation()
            mp = materialize(
                mp.join(parent, mp["new_label"] == parent["p_comp"], "left")
                .select(
                    mp["comp"].alias("comp"),
                    F.coalesce("p_label", "new_label").alias("new_label"),
                    (
                        F.col("p_label").isNotNull()
                        & (F.col("p_label") != mp["new_label"])
                    )
                    .cast("long")
                    .alias("_moved"),
                )
                .observe(obs_j, F.sum("_moved").alias("changed"))
                .drop("_moved")
            )
            jumps += 1
            if int(obs_j.get["changed"] or 0) == 0:
                break
        new_labels = labels.join(mp, labels["label"] == mp["comp"], "left").select(
            "vid", F.coalesce("new_label", F.col("label")).alias("label")
        )
        forest = t["forest"].unionAll(picked.select(*edge_cols))
        return (
            {"state": new_labels, "forest": forest},
            {"picked": n_picked, "round_jumps": jumps},
        )

    def settle(m: dict) -> bool:
        if "rounds" in m:  # the restored round
            c.update((key, m[key]) for key in c)
        else:
            c["rounds"] += 1
            c["jumps"] += m["round_jumps"]
            c["picked_per_round"].append(m["picked"])
            m.update(c)
        return False  # only the empty pick ends the run

    # sorted within the cache (r8): the per-round ``und ⋈ labels(a)``
    # join rides the merge fast path with zero exchange/sort on the
    # edge side (same discipline as WCC/LPA's sym cache); without it
    # the planner either broadcasts the O(E) side every round (small
    # graphs; label leaves report default stats) or re-sorts it (big).
    und = und.persist()
    try:
        if weights is not None:
            # coverage check rides one tiny bounded job (once per run,
            # not per round): an uncovered edge would silently sort as
            # NULL
            if und.where(F.col("w").isNull()).limit(1).count() > 0:
                raise ValueError(
                    "boruvka_msf: weights do not cover every undirected "
                    "edge of the graph (found an edge with NULL weight)"
                )
        engine = SuperstepEngine(spark, config, "msf", run_id=run_id)
        result = engine.run(init, step, max_rounds, settle, resume=resume)
    finally:
        und.unpersist()
    return result, c
