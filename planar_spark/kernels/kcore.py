"""k-core: frontier-based (delta) degree peeling over the undirected graph.

Not in the reference's app set, but a standard web-graph hygiene /
community kernel (drop low-connectivity crawl fringe before expensive
analytics). Semantics: the k-core is the maximal induced subgraph in
which every vertex has undirected degree >= k; computed by repeatedly
deleting vertices of degree < k until a fixpoint.

Scale shape (delta peeling): only a vertex that LOST a neighbor can
newly fall below k, so after the single full O(E) degree count of
round 0, round r>0 touches only the edges incident to round-(r-1)'s
deletions — the same frontier discipline as SSSP. Each round is two
jobs: (1) cut the removed-vertex frontier as a leaf (its size observed
on the same job), (2) decrement surviving degrees by the edges lost to
the frontier (frontier broadcast when small; per-round shuffle volume
is O(edges incident to the frontier), never O(E)) and re-materialize
the state. The state stays hash-partitioned by vid across rounds
(persist preserves partitioning), so the survivor⋈loss merge is
exchange-free; lineage is truncated every ``truncate_every`` rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import maybe_broadcast
from planar_spark.graph.superstep import RoundStore, materialize
from planar_spark.graph.tables import GraphTables


def k_core(
    graph: GraphTables,
    k: int,
    config: EngineConfig | None = None,
    max_rounds: int = 200,
    truncate_every: int = 8,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, in_core) over ALL vertices; in_core = 1 iff vid is in the
    k-core. Deterministic (the k-core is unique).

    ``metrics_out`` (optional dict) receives ``rounds``,
    ``frontier_sizes`` (vertices removed per round) and ``touched``
    (rows in the per-round degree-decrement aggregate — the actual
    post-round-0 work volume, asserted O(frontier) in the tests).

    Durable resume: with ``config.checkpoint_dir`` set, the peeling
    state (vid, deg) plus the driver counters are written every
    ``config.checkpoint_every`` rounds; ``resume=True`` with the same
    ``run_id`` continues peeling from the newest completed round.
    """
    config = config or EngineConfig()
    parts = config.partitions_for(graph.spark)
    sym = graph.symmetric_edges_by_src(parts).persist()

    rounds = 0
    frontier_sizes: list[int] = []
    touched: list[int] = []
    ckpt = RoundStore(graph.spark, config, "kcore", run_id=run_id)
    state = None
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            _rnd, tables, m = latest
            state = (
                tables["state"].repartition(parts, "vid").persist()
            )
            state.count()
            rounds = int(m.get("rounds", _rnd))
            frontier_sizes = list(m.get("frontier_sizes", []))
            touched = list(m.get("touched", []))
    if state is None:
        # Round 0: the one full O(E) degree aggregation. The state is
        # (vid, deg) for vertices with deg >= 1, hash-partitioned by vid
        # (groupBy output partitioning), kept cached across rounds.
        state = sym.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("deg")
        ).persist()
        state.count()

    for r in range(rounds, max_rounds):
        obs_f = Observation()
        removed = materialize(
            state.where(F.col("deg") < k)
            .select("vid")
            .observe(obs_f, F.count(F.lit(1)).alias("n"))
        )
        n_removed = int(obs_f.get["n"])
        if n_removed == 0:
            break
        rounds += 1
        frontier_sizes.append(n_removed)
        # Every edge of a removed vertex decrements its neighbor's
        # degree. sym is SYMMETRIC, so joining the frontier on src (the
        # edge table's partitioning key — zero edge-side exchange
        # regardless of frontier size) and counting per dst is identical
        # to the dst-side formulation; the frontier is additionally
        # broadcast when small so even its shuffle disappears.
        rm_src = removed.select(F.col("vid").alias("src"))
        obs_l = Observation()
        loss = (
            sym.join(maybe_broadcast(rm_src, n_removed), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.count(F.lit(1)).alias("lost"))
            .observe(obs_l, F.count(F.lit(1)).alias("touched"))
        )
        new_state = (
            state.where(F.col("deg") >= k)
            .join(loss, "vid", "left")
            .select(
                "vid",
                (F.col("deg") - F.coalesce("lost", F.lit(0))).alias("deg"),
            )
        )
        if rounds % max(1, truncate_every) == 0:
            new_state = materialize(new_state).repartition(parts, "vid")
        new_state = new_state.persist()
        new_state.count()
        touched.append(int(obs_l.get["touched"] or 0))
        state.unpersist()
        state = new_state
        if ckpt.due(rounds):
            ckpt.save(
                rounds,
                {"state": state},
                {
                    "rounds": rounds,
                    "frontier_sizes": frontier_sizes,
                    "touched": touched,
                },
            )
    sym.unpersist()
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["frontier_sizes"] = frontier_sizes
        metrics_out["touched"] = touched
    core = materialize(
        state.where(F.col("deg") >= k)
        .select("vid")
    )
    state.unpersist()
    return (
        graph.vertices.select("vid")
        .join(core.withColumn("_in", F.lit(1)), "vid", "left")
        .select("vid", F.coalesce("_in", F.lit(0)).cast("long").alias("in_core"))
    )


def core_decomposition(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_rounds: int = 2000,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, core) for ALL vertices: the core NUMBER — the largest k
    such that vid survives in the k-core. The graph-profiling
    generalization of ``k_core`` (which answers one fixed k); core
    numbers drive fringe filtering, spam-farm scoring, and degeneracy
    orderings.

    Ascending-k peeling with the SAME delta discipline as k_core: one
    full O(E) degree count, then every round removes the current
    deg<k frontier and decrements only the edges incident to it. A
    vertex removed while peeling at level k has core number k-1; when
    a level reaches its fixpoint, k advances (a free driver-side
    branch — no extra job). Total work = Σ frontier edges over ALL
    levels ≈ O(E) decrements overall, plus one tiny driver scalar per
    round. Deterministic (core numbers are unique).

    r8 tombstone restructure — ONE job per removal round (was two plus
    one probe job per level): the state is a single (vid, deg, core)
    leaf where core is NULL while alive; a removal round folds the
    frontier cut, the core assignment (tombstone), the degree
    decrement AND next round's driver decisions (frontier size, alive
    count, min alive degree — Observations) into the one
    materialization. Level fixpoints are detected from the observed
    frontier size and advance k (jumping past provably-empty levels to
    min_deg+1) with zero jobs. There is no separate running-assignment
    table to truncate — cores live in the state leaf and the per-round
    plan is constant-size.

    Durable resume: with ``config.checkpoint_dir`` set, the state leaf
    and the driver counters (rounds, current level k, levels, n_alive,
    and the observed frontier size/min degree) are written through
    RoundStore every ``config.checkpoint_every``-th removal
    round; ``resume=True`` with the same ``run_id`` re-enters the
    ascending peel at the newest completed round. (Checkpoints written
    by the pre-r8 two-table format are not readable by this code.)
    """
    config = config or EngineConfig()
    parts = config.partitions_for(graph.spark)
    spark = graph.spark
    sym = graph.symmetric_edges_by_src(parts).persist()
    ckpt = RoundStore(spark, config, "core_decomp", run_id=run_id)

    state = None  # (vid, deg, core) — core NULL while alive
    k = 1
    rounds = 0
    levels: list[int] = []
    n_alive = 0
    # next_lt = size of the CURRENT deg<k frontier among alive rows
    # (None = unknown: fresh or resumed state — the first round self-
    # corrects, see below); min_deg = min alive degree, for level jumps.
    next_lt: int | None = None
    min_deg: int | None = None
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            _rnd, tables, m = latest
            state = materialize(tables["state"].repartition(parts, "vid"))
            k = int(m.get("k", 1))
            rounds = int(m.get("rounds", _rnd))
            levels = list(m.get("levels", []))
            n_alive = int(m.get("n_alive", 0))
            if m.get("next_lt") is not None:
                next_lt = int(m["next_lt"])
            if m.get("min_deg") is not None:
                min_deg = int(m["min_deg"])
    if state is None:
        obs0 = Observation()
        state = materialize(
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .select("vid", "deg", F.lit(None).cast("long").alias("core"))
            .observe(obs0, F.count(F.lit(1)).alias("n"))
        )
        n_alive = int(obs0.get["n"] or 0)

    alive = F.col("core").isNull()
    for _ in range(max_rounds):
        if n_alive == 0:
            break
        if next_lt == 0:
            # observed level fixpoint: advance without any job
            levels.append(k)
            k += 1
            if min_deg is not None and min_deg >= k:
                # every level up to min_deg is empty too — jump; the
                # min-degree witness guarantees level min_deg+1 is not
                levels.extend(range(k, min_deg + 1))
                k = min_deg + 1
            next_lt = None
            continue
        # removal round: frontier cut, tombstone, decrement and next
        # round's decisions all ride ONE materialization. The frontier
        # size for the broadcast decision is exact when observed
        # (next_lt); on an unknown (fresh/resumed) state n_alive is the
        # safe upper bound.
        est = next_lt if next_lt is not None else n_alive
        rm_src = state.where(alive & (F.col("deg") < k)).select(
            F.col("vid").alias("src")
        )
        loss = (
            sym.join(maybe_broadcast(rm_src, est), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        new_core = (
            F.when(~alive, F.col("core"))
            .when(F.col("deg") < k, F.lit(k - 1).cast("long"))
        )  # otherwise NULL: still alive
        new_deg = F.when(
            alive & (F.col("deg") >= k),
            F.col("deg") - F.coalesce("lost", F.lit(0)),
        ).otherwise(F.col("deg"))
        obs = Observation()
        new_state = materialize(
            state.join(loss, "vid", "left")
            .select(
                "vid", new_deg.alias("deg"), new_core.alias("core")
            )
            .observe(
                obs,
                F.sum(
                    (alive & (F.col("deg") < F.lit(k))).cast("long")
                ).alias("lt"),
                F.min(F.when(alive, F.col("deg"))).alias("mn"),
                F.sum(alive.cast("long")).alias("n_alive"),
            )
        )
        got = obs.get
        prev_alive = n_alive
        n_alive = int(got["n_alive"] or 0)
        n_rm = prev_alive - n_alive  # exact: tombstoning is the only exit
        next_lt = int(got["lt"] or 0)
        min_deg = None if got["mn"] is None else int(got["mn"])
        state = new_state
        if n_rm == 0:
            # only reachable from an UNKNOWN frontier (fresh state at
            # k=1, or a resume without counters): the state is
            # unchanged and the observations now say exactly where the
            # frontier stands — the next iteration advances for free.
            continue
        rounds += 1
        if ckpt.due(rounds):
            saved = ckpt.save(
                rounds,
                {"state": state},
                {
                    "rounds": rounds,
                    "k": k,
                    "levels": levels,
                    "n_alive": n_alive,
                    "next_lt": next_lt,
                    "min_deg": min_deg,
                },
            )
            state = saved["state"]
    else:
        raise RuntimeError(
            f"core_decomposition: not finished in {max_rounds} rounds; "
            "raise max_rounds"
        )
    sym.unpersist()
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["max_core"] = k - 1
        metrics_out["levels"] = levels
    assigned = state.where(F.col("core").isNotNull()).select("vid", "core")
    # vertices with no undirected edges never entered the state: core 0
    return (
        graph.vertices.select("vid")
        .join(assigned, "vid", "left")
        .select("vid", F.coalesce("core", F.lit(0)).alias("core"))
    )
