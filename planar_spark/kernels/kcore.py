"""k-core and core numbers: one tombstone peel over the undirected graph.

Not in the reference's app set, but a standard web-graph hygiene /
community kernel (drop low-connectivity crawl fringe before expensive
analytics). Semantics: the k-core is the maximal induced subgraph in
which every vertex has undirected degree >= k; computed by repeatedly
deleting vertices of degree < k until a fixpoint. A vertex's core
number is the largest k whose k-core contains it.

Both kernels run the same peel (``_peel``, on ``SuperstepEngine``)
over a range of levels:
``core_decomposition`` over levels 1.., ``k_core(k)`` over the single
level k. The state is one (vid, deg, core) leaf, hash-partitioned by
vid, with core NULL while the vertex is alive. After the single full
O(E) degree count, a removal round at level k tombstones every alive
vertex with deg < k (core = k-1) and decrements the degrees of its
neighbours by the edges lost to it. Only a vertex that lost a
neighbour can newly fall below k, so a round's shuffle volume is
O(edges incident to the frontier), never O(E); the frontier is
broadcast when small. The frontier cut, tombstone, decrement and the
next round's driver decisions (frontier size, alive count, min alive
degree, touched vertices — Observations) ride ONE materialization per
removal round. A level fixpoint is seen in the observed frontier size
and advances k with no job, jumping past the provably-empty levels to
min_deg+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import maybe_broadcast
from planar_spark.graph.superstep import SuperstepEngine
from planar_spark.graph.tables import GraphTables


def _decisions(k: int) -> list:
    """Next-round driver decisions over a (vid, deg, core) state peeled
    at level ``k``: the deg<k frontier size, min alive degree and alive
    count."""
    alive = F.col("core").isNull()
    return [
        F.sum((alive & (F.col("deg") < F.lit(k))).cast("long")).alias(
            "next_lt"
        ),
        F.min(F.when(alive, F.col("deg"))).alias("min_deg"),
        F.sum(alive.cast("long")).alias("n_alive"),
    ]


def _peel(
    graph: GraphTables,
    config: EngineConfig,
    kernel: str,
    k_first: int,
    k_last: int | None,
    max_rounds: int,
    run_id: str | None,
    resume: bool,
) -> tuple[DataFrame, int, dict]:
    """Peel levels ``k_first..k_last`` (None: until no vertex is alive)
    on ``SuperstepEngine``, one superstep per removal round.

    Returns the final (vid, deg, core) state leaf — vertices with no
    undirected edge are absent, alive vertices have core NULL — the
    number of removal rounds, and the driver counters: ``k`` (the last
    level), ``levels`` (completed levels), ``frontier_sizes`` and
    ``touched`` (per removal round: vertices removed, and distinct
    neighbours of the removed vertices, i.e. rows of the degree-
    decrement aggregate) plus the observed decisions. Raises
    RuntimeError when ``max_rounds`` removal rounds do not finish.

    The counters ride each round's metrics, so the engine checkpoints
    them with the state under ``kernel`` (round 0 is the degree count)
    and a ``resume=True`` run with the same ``run_id`` reads them back
    from the newest completed round."""
    spark = graph.spark
    parts = config.partitions_for(spark)
    sym = graph.symmetric_edges_by_src(parts).persist()
    alive = F.col("core").isNull()
    c = {"k": k_first, "levels": [], "frontier_sizes": [], "touched": [],
         "next_lt": None, "min_deg": None, "n_alive": None}

    def init() -> tuple[DataFrame, dict]:
        obs = Observation()
        return (
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .select("vid", "deg", F.lit(None).cast("long").alias("core"))
            .observe(obs, *_decisions(k_first)),
            {"_obs": obs},
        )

    def step(state: DataFrame, _rnd: int) -> tuple[DataFrame, dict]:
        k = c["k"]
        # the frontier size is exact when observed; right after a level
        # advance n_alive is the safe upper bound
        est = c["next_lt"] if c["next_lt"] is not None else c["n_alive"]
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
        # every loss vid has a state row (sym is symmetric), so the
        # non-null `lost` count on the left join is exactly the loss
        # aggregate's row count, whatever the join reads
        obs = Observation()
        return (
            state.join(loss, "vid", "left")
            .select("vid", new_deg.alias("deg"),
                    new_core.alias("core"), "lost")
            .observe(obs, *_decisions(k), F.count("lost").alias("lost_rows"))
            .drop("lost"),
            {"_obs": obs},
        )

    def settle(m: dict) -> bool:
        """Fold a round's observed decisions into the counters and record
        them in its metrics (a restored round's metrics hold them
        already); True once the peel is done."""
        if "levels" in m:
            c.update((key, m[key]) for key in c)
        else:
            if "lost_rows" in m:  # a removal round ran
                # exact: tombstoning is the only exit
                c["frontier_sizes"].append(c["n_alive"] - m["n_alive"])
                c["touched"].append(m.pop("lost_rows"))
            c.update((key, m[key])
                     for key in ("next_lt", "min_deg", "n_alive"))
            if c["n_alive"] and c["next_lt"] == 0 and c["k"] != k_last:
                # observed level fixpoint: advance without any job. No
                # alive degree is below k, so every level up to min_deg
                # is empty too, and level min_deg+1 is not.
                c["levels"].extend(range(c["k"], c["min_deg"] + 1))
                c.update(k=c["min_deg"] + 1, next_lt=None)
            m.update(c)
        return not c["n_alive"] or c["next_lt"] == 0

    engine = SuperstepEngine(spark, config, kernel, run_id=run_id)
    try:
        result = engine.run(init, step, max_rounds, settle, resume=resume)
    finally:
        sym.unpersist()
    if not result.converged:
        raise RuntimeError(
            f"{kernel}: not finished in {max_rounds} rounds; raise max_rounds"
        )
    return result.state, result.steps_run, c


def k_core(
    graph: GraphTables,
    k: int,
    config: EngineConfig | None = None,
    max_rounds: int = 200,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, in_core) over ALL vertices; in_core = 1 iff vid is in the
    k-core. Deterministic (the k-core is unique). The single-level run
    of the ``core_decomposition`` peel; raises RuntimeError when
    ``max_rounds`` removal rounds do not reach the fixpoint.

    ``metrics_out`` (optional dict) receives ``rounds``,
    ``frontier_sizes`` (vertices removed per round) and ``touched``
    (distinct neighbours of each round's removed vertices — the rows of
    the degree-decrement aggregate, the post-round-0 work volume,
    asserted O(frontier) in the tests).

    Durable resume: with ``config.checkpoint_dir`` set, the (vid, deg,
    core) state plus the driver counters are checkpointed under kernel
    ``kcore`` at round 0 (the degree count) and every
    ``config.checkpoint_every``-th removal round; ``resume=True`` with
    the same ``run_id`` continues peeling from the newest completed
    round, and runs no round when that round ended the peel. A k whose
    level has no alive degree below it runs no removal round at all.
    (Checkpoints of the earlier two-column (vid, deg) state are not
    readable by this code.)
    """
    state, rounds, c = _peel(graph, config or EngineConfig(), "kcore", k, k,
                             max_rounds, run_id, resume)
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["frontier_sizes"] = c["frontier_sizes"]
        metrics_out["touched"] = c["touched"]
    core = state.where(F.col("core").isNull()).select("vid")
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

    Ascending-k run of the module's peel over every level: a vertex
    tombstoned while peeling at level k has core number k-1. Total work
    = Σ frontier edges over ALL levels ≈ O(E) decrements overall, one
    job per removal round. Deterministic (core numbers are unique).
    ``metrics_out`` receives ``rounds``, ``max_core`` and ``levels``;
    RuntimeError when ``max_rounds`` removal rounds do not finish.

    Durable resume: with ``config.checkpoint_dir`` set, the state leaf
    and the driver counters are checkpointed under kernel
    ``core_decomp`` at round 0 (the degree count) and every
    ``config.checkpoint_every``-th removal round; ``resume=True`` with
    the same ``run_id`` re-enters the ascending peel at the newest
    completed round.
    """
    state, rounds, c = _peel(graph, config or EngineConfig(), "core_decomp",
                             1, None, max_rounds, run_id, resume)
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["max_core"] = c["k"] - 1
        metrics_out["levels"] = c["levels"]
    assigned = state.where(F.col("core").isNotNull()).select("vid", "core")
    # vertices with no undirected edges never entered the state: core 0
    return (
        graph.vertices.select("vid")
        .join(assigned, "vid", "left")
        .select("vid", F.coalesce("core", F.lit(0)).alias("core"))
    )
