"""PageRank, and the one power iteration of the pagerank family.

Reference kernel: core/apps/pagerank_app.h:38-99 and
nvme/apps/pagerank_vc_nvme_app.h:29-71 — per superstep a "pull" over each
vertex's adjacency with a fixed iteration count. The reference freezes
deg-0 vertices at 1/N and never redistributes dangling mass (a known
quirk; see SURVEY.md §7.3); the north rule requires the standard
formulation, which every kernel of the family implements:

    x_{k+1}(v) = (1-d) * r(v) + d * ( Σ_{u->v} w_uv * x_k(u)/deg(u)
                                       + dangling_mass_k * r(v) )

so Σ x == 1 at every superstep (validated in tests). ``pagerank`` has
r = 1/N, w_uv = 1, deg = out_deg; ``personalized_pagerank`` (ppr.py)
restarts to a seed ``reset`` column; ``weighted_pagerank``
(wpagerank.py) has edge weights and deg = W_out(u) = Σ_v w_uv.

One superstep (``power_iteration``) = one gather join + one keyed sum —
the DataFrame analogue of the reference's one ``BlockModel`` superstep
of Map + WriteAdd + Sync (core/apis/planar_app_base_op.h:205-346,
core/util/atomic.h:52-59) that serves every variant there too:

    contribs = edges ⋈_{src==vid} live  → groupBy(dst).sum(w_uv * x/deg)
    state'   = base ⋈_{vid} contribs    → (1-d)*r + d*(contrib + dm*r)

The dangling mass rides each state materialization as an Observation
and folds into the next step's plan as a literal (r8). A resumed run's
checkpointed state has no Observation, so its first step reads the mass
with one driver action: every step plan has one shape, fresh or resumed.
Hub skew: ``gather_edges`` splits the hub sources' edges off once per
call (graph/skew.py ``split_hubs``); each hub's x = value/degree rides
the same Observation (and the same resume action) as the dangling mass,
and the hub gather is a projection of the cached hub table unioned into
the merge-join gather of the other edges before the groupBy(dst).
Partial aggregation makes the groupBy(dst) shuffle one row per
(task, dst); the engine's per-superstep checkpoint truncates lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.locality import block_pinned_edges, effective_block_size
from planar_spark.graph.skew import HubSplit, gather_join, split_hubs, top_hubs
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult
from planar_spark.graph.tables import GraphTables


def gather_edges(graph: GraphTables, config: EngineConfig):
    """``(edges, hubs, block_size, release)`` for a gather over the
    graph's out-edges: the cached block-pinned layout on a
    with_partitioning graph (r7, cost-aware since r8 — see
    ``effective_block_size``; no hub split there), else the graph's
    src-sorted edges, split at the hubs above
    ``config.hub_degree_threshold`` when there are any (``hubs`` is then
    the ``HubSplit`` and ``edges`` its non-hub rest). One driver job
    collects the hub ids. ``release()`` frees what this call cached."""
    bs = effective_block_size(graph, config)
    parts = config.partitions_for(graph.spark)
    if bs:
        pinned = block_pinned_edges(graph, parts).persist()
        return pinned, None, bs, pinned.unpersist
    hub_ids = top_hubs(graph.degrees, config.hub_degree_threshold)
    ids = [r.vid for r in hub_ids.collect()]
    hubs = split_hubs(graph.edges, ids, parts)
    if hubs is None:
        return graph.edges, None, None, lambda: None
    hubs.table.persist()
    return hubs.rest, hubs, None, hubs.table.unpersist


def power_iteration(
    base: DataFrame,
    edges: DataFrame,
    start: DataFrame,
    config: EngineConfig,
    num_iterations: int,
    kernel: str,
    num_vertices: int,
    *,
    value: str = "pr",
    degree: str = "out_deg",
    weight: str | None = None,
    reset: str | None = None,
    hubs: HubSplit | None = None,
    block_size: int | None = None,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    lineage: dict | None = None,
) -> SuperstepResult:
    """Run the family's power iteration on ``SuperstepEngine``.

    ``base`` is (vid, ``degree``[, ``reset``]), partitioned by vid;
    ``start`` is base plus the ``value`` column. ``edges`` (src, dst
    [, ``weight``]) is gathered by ``gather_join`` (``block_size`` as it
    takes it); ``hubs`` (unweighted only) adds the split-off hub edges,
    whose ``edges`` are then the split's rest. The restart vector r is the
    ``reset`` column, or the uniform 1/``num_vertices`` when None.
    Returns the engine result; its state has base's columns + value."""
    d = config.damping
    n = num_vertices
    cols = base.columns
    share = F.col("x") if weight is None else F.col(weight) * F.col("x")
    dm_expr = F.sum(F.when(F.col(degree) == 0, F.col(value))).alias("_dm")
    l1_expr = F.sum(F.abs(F.col(value) - F.col("_old"))).alias("l1_delta")
    # each hub's x rides the same Observation as the dangling mass
    carried_exprs = [dm_expr] + (
        [hubs.observed(F.col(value) / F.col(degree))] if hubs else []
    )
    carry: dict = {}

    def observed(df: DataFrame) -> DataFrame:
        carry["dm"] = obs = Observation()
        return df.observe(obs, *carried_exprs)

    def carried(state: DataFrame):
        obs = carry.get("dm")
        # a resumed run's checkpointed state carries no Observation
        return obs.get if obs is not None else state.agg(*carried_exprs).first()

    def step(state: DataFrame, _k: int) -> tuple[DataFrame, dict]:
        got = carried(state)
        live = state.where(F.col(degree) > 0).select(
            "vid", (F.col(value) / F.col(degree)).alias("x")
        )
        msgs = gather_join(edges, live, block_size).select(
            "dst", share.alias("x")
        )
        if hubs is not None:
            msgs = msgs.unionByName(hubs.contribs(got))
        contribs = msgs.groupBy(F.col("dst").alias("vid")).agg(
            F.sum("x").alias("contrib")
        )
        dm = float(got["_dm"] or 0.0)
        if reset is None:
            teleport, dangling = F.lit((1.0 - d) / n), F.lit(dm / n)
        else:
            teleport = F.lit(1.0 - d) * F.col(reset)
            dangling = F.lit(dm) * F.col(reset)
        gain = F.coalesce(F.col("contrib"), F.lit(0.0)) + dangling
        x_new = (teleport + F.lit(d) * gain).alias(value)
        if config.tolerance <= 0:
            # no trailing repartition: the base⋈contribs join already
            # leaves the state hash-partitioned by vid
            return observed(
                base.join(contribs, "vid", "left").select(*cols, x_new)
            ), {}
        # Early-stop mode: build the new state FROM the old one so the
        # L1 delta is observed on the materialization job instead of a
        # standalone old⋈new aggregate job per superstep.
        obs = Observation()
        new_state = (
            state.select(*cols, F.col(value).alias("_old"))
            .join(contribs, "vid", "left")
            .select(*cols, x_new, "_old")
            .observe(obs, l1_expr)
            .drop("_old")
        )
        return observed(new_state), {"_obs": obs}

    def converged(metrics: dict) -> bool:
        # l1_delta is observed only when tolerance > 0
        return metrics.get("l1_delta", float("inf")) < config.tolerance

    engine = engine or SuperstepEngine(
        base.sparkSession, config, kernel, lineage=lineage
    )
    return engine.run(
        lambda: observed(start), step, num_iterations, converged, resume=resume
    )


def pagerank(
    graph: GraphTables,
    config: EngineConfig | None = None,
    num_iterations: int | None = None,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    init_ranks: DataFrame | None = None,
) -> SuperstepResult:
    """Returns state (vid, out_deg, pr); final pr sums to 1.

    ``init_ranks`` (vid, pr) warm-starts the iteration from a previous
    run's state instead of 1/N (new vertices start at 1/N): yesterday's
    converged ranks re-reach today's fixpoint of a slightly changed
    graph in a fraction of the supersteps, and warm-starting the SAME
    graph for k more steps is exactly step-continuation (asserted in
    tests and the pagerank_warmstart driver gate)."""
    config = config or EngineConfig()
    n = graph.num_vertices
    base = graph.degrees  # (vid, out_deg), partitioned by vid
    start = base.withColumn("pr", F.lit(1.0 / n))
    if init_ranks is not None:
        start = base.join(
            init_ranks.select("vid", F.col("pr").alias("_pr0")), "vid", "left"
        ).select("vid", "out_deg", F.coalesce("_pr0", F.lit(1.0 / n)).alias("pr"))
    edges, hubs, bs, release = gather_edges(graph, config)
    result = power_iteration(
        base, edges, start, config,
        num_iterations or config.max_iterations, "pagerank", n,
        hubs=hubs, block_size=bs, engine=engine, resume=resume,
        lineage={"num_vertices": n, "num_edges": graph.num_edges},
    )
    release()
    return result
