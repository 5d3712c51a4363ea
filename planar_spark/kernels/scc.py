"""Strongly connected components — web bow-tie analysis.

Not shipped by the reference (its components app is undirected WCC,
core/apps/wcc_app.cpp); SCC is the canonical DIRECTED companion for
link graphs (Broder's bow-tie study) and composes from the same
dataflow primitives, so we provide it as a first-class kernel.

Algorithm: trimming + min-label forward coloring + backward sweep
(the Orzan coloring / FW-BW family — the standard distributed SCC
shape; Tarjan-style DFS does not parallelize). Per outer round:

  1. TRIM: a vertex with no active in-edges or no active out-edges can
     sit on no cycle — assign it its own singleton SCC. Iterate to a
     fixpoint (chains of tendrils cascade).
  2. COLOR: propagate color(v) = min active vid that reaches v, to a
     fixpoint (monotone hash-min over in-edges, same shape as WCC).
  3. SWEEP: roots are vertices with color(v) == vid. Every vertex of
     color r that reaches r BACKWARD through vertices of the same
     color is exactly SCC(r) (proof sketch at the sweep step). All
     color classes sweep simultaneously. Assign and deactivate.

Each inner fixpoint round is one localCheckpoint job whose convergence
count rides the materialization as an Observation (no standalone
count() actions — same barrier diet as mst.py / components.py). All
joins are hash joins on vid/src/dst keys with partial aggregation; no
windows, no collects beyond the per-round observed scalars.

Scale notes: web graphs have one giant SCC + shallow tendrils, so the
expected shape is 1-2 trim fixpoints, a coloring fixpoint bounded by
the active diameter, one sweep, and 2-3 outer rounds. Trimming first
shrinks the coloring's edge set by the tendril mass (typically ~half
of a crawl). scc_id = min vid of the component, matching WCC labels.
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


def _ckpt(df: DataFrame, obs: Observation | None = None, metric=None):
    if obs is not None:
        df = df.observe(obs, metric)
    return materialize(df)


def strongly_connected_components(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_outer: int = 25,
    max_inner: int = 120,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Returns (vid, scc_id) for every vertex; scc_id = min vid of the
    strongly connected component (singletons map to themselves).
    Raises RuntimeError when ``max_outer`` outer rounds leave a vertex
    unassigned or an inner fixpoint needs more than ``max_inner``
    rounds. ``metrics_out`` receives ``outer_rounds`` and
    ``inner_jobs``.

    Durable resume: the outer rounds (trim + color + sweep) run on
    ``SuperstepEngine`` under kernel ``scc``, state = the unassigned
    active set carrying ``assigned``, the assignments so far. With
    ``config.checkpoint_dir`` set, round 0 and every
    ``config.checkpoint_every``-th outer round write both tables;
    ``resume=True`` with the same ``run_id`` re-enters the outer loop
    on the restored active set. Outer rounds are the unit because the
    inner fixpoints are cheap relative to a full restart and their state
    (colors, sweep marks) is meaningless outside the round.
    """
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)

    edges0 = graph.edges.select("src", "dst").distinct()
    c = {"outer_rounds": 0, "inner_jobs": 0}

    def counted(active: DataFrame, assigned: DataFrame, **extra):
        obs = Observation()
        active = active.observe(obs, F.count(F.lit(1)).alias("n_active"))
        return {"state": active, "assigned": assigned}, {"_obs": obs, **extra}

    def init():
        return counted(
            graph.vertices.select("vid").repartition(parts, "vid"),
            empty_table(spark, "vid long, scc_id long"),
        )

    def step(t: dict, _rnd: int):
        active, assigned = t["state"], t["assigned"]
        inner_jobs = 0
        # Active edge set: both endpoints still unassigned.
        a_src = active.select(F.col("vid").alias("src"))
        a_dst = active.select(F.col("vid").alias("dst"))
        e_act = _ckpt(
            edges0.join(a_src, "src", "left_semi")
            .join(a_dst, "dst", "left_semi")
            .repartition(parts, "src")
        )

        # ---- 1. TRIM to a fixpoint -------------------------------
        # strictly decreasing active set => terminates; the bound only
        # backstops a logic error — and fails loudly if hit
        for _t in range(max_inner):
            has_out = e_act.select("src").distinct()
            has_in = e_act.select("dst").distinct()
            keep = (
                active.join(
                    has_out, active["vid"] == has_out["src"], "left_semi"
                ).join(has_in, active["vid"] == has_in["dst"], "left_semi")
            )
            trimmed = active.join(keep, "vid", "left_anti").select(
                "vid", F.col("vid").alias("scc_id")
            )
            obs = Observation()
            trimmed = _ckpt(trimmed, obs, F.count(F.lit(1)).alias("n"))
            inner_jobs += 1
            if int(obs.get["n"] or 0) == 0:
                break
            assigned = assigned.unionAll(trimmed)
            active = _ckpt(active.join(trimmed.select("vid"), "vid", "left_anti"))
            t_src = trimmed.select(F.col("vid").alias("src"))
            t_dst = trimmed.select(F.col("vid").alias("dst"))
            e_act = _ckpt(
                e_act.join(t_src, "src", "left_anti")
                .join(t_dst, "dst", "left_anti")
            )
        else:
            raise RuntimeError(
                f"scc: trim did not reach a fixpoint in {max_inner} rounds"
            )

        obs_a = Observation()
        active = _ckpt(active, obs_a, F.count(F.lit(1)).alias("n"))
        inner_jobs += 1
        if int(obs_a.get["n"] or 0) == 0:
            # trimming assigned every vertex: the empty set ends the run
            return (
                {"state": active, "assigned": assigned},
                {"n_active": 0, "inner": inner_jobs},
            )

        # Cache the trimmed active edge set in BOTH join layouts (r8):
        # the color fixpoint joins it on src every round and the sweep
        # on dst — as a releaf'd leaf each inner round re-sorted the
        # O(E) side inside its SortMergeJoin. Cached sorted (hash
        # partitioning + ordering survive in InMemoryRelation, same
        # discipline as WCC's sym cache), the merge joins reuse the
        # cached sort; the two builds amortize over all inner rounds.
        e_src = (
            e_act.repartition(parts, "src")
            .sortWithinPartitions("src")
            .persist()
        )
        e_dst = (
            e_act.repartition(parts, "dst")
            .sortWithinPartitions("dst")
            .persist()
        )
        try:
            marked, jobs = _color_and_sweep(active, e_src, e_dst, max_inner)
        finally:
            e_src.unpersist()
            e_dst.unpersist()
        return counted(
            active.join(marked.select("vid"), "vid", "left_anti"),
            assigned.unionAll(
                marked.select("vid", F.col("scc").alias("scc_id"))
            ),
            inner=inner_jobs + jobs,
        )

    def settle(m: dict) -> bool:
        if "outer_rounds" in m:  # the restored round
            c.update((key, m[key]) for key in c)
        elif "inner" in m:  # a new outer round
            c["outer_rounds"] += 1
            c["inner_jobs"] += m.pop("inner")
        m.update(c)
        return m["n_active"] == 0

    engine = SuperstepEngine(spark, config, "scc", run_id=run_id)
    result = engine.run(init, step, max_outer, settle, resume=resume)
    if not result.converged:
        raise RuntimeError(
            f"scc: {max_outer} outer rounds left unassigned vertices;"
            " raise max_outer"
        )
    if metrics_out is not None:
        metrics_out.update(c)
    return result.tables["assigned"]


def _color_and_sweep(
    active: DataFrame, e_src: DataFrame, e_dst: DataFrame, max_inner: int
) -> tuple[DataFrame, int]:
    """Steps 2 and 3 of an outer round over the trimmed active set and
    its edges cached by src and by dst: the (vid, scc) rows of the
    swept components, and the number of inner jobs spent."""
    jobs = 0
    # ---- 2. COLOR: min reaching vid, hash-min fixpoint -----------
    color = _ckpt(active.select("vid", F.col("vid").alias("color")))
    for _p in range(max_inner):
        msg = (
            e_src.hint("merge").join(
                color.select(
                    F.col("vid").alias("src"), F.col("color").alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("c").alias("mc"))
        )
        obs = Observation()
        color = _ckpt(
            color.join(msg, "vid", "left").select(
                "vid",
                F.least(
                    F.col("color"), F.coalesce("mc", F.col("color"))
                ).alias("color"),
                (F.coalesce("mc", F.col("color")) < F.col("color"))
                .cast("long")
                .alias("_moved"),
            ),
            obs,
            F.sum("_moved").alias("changed"),
        ).drop("_moved")
        jobs += 1
        if int(obs.get["changed"] or 0) == 0:
            break
    else:
        # an unconverged coloring would assign WRONG components in
        # the sweep below — never degrade silently
        raise RuntimeError(
            f"scc: coloring fixpoint not reached in {max_inner} "
            "rounds; raise max_inner (active diameter exceeds it)"
        )

    # ---- 3. SWEEP: backward reach of each root in its color ------
    # marked(vid, scc): grows from the roots; a vertex joins when one
    # of its out-edges lands on a marked vertex of its OWN color.
    # Sketch: color(v)==r means r reaches v and r is the min such vid;
    # if v also reaches r then every vertex on the v→r path is reached
    # by r and reaches r, hence colored r — so the whole path is swept
    # and membership == SCC(r) exactly.
    marked = _ckpt(
        color.where(F.col("color") == F.col("vid")).select(
            "vid", F.col("color").alias("scc")
        )
    )
    frontier = marked
    for _s in range(max_inner):
        cand = (
            e_dst.hint("merge").join(
                frontier.select(
                    F.col("vid").alias("dst"), F.col("scc").alias("s")
                ),
                "dst",
            )
            .select(F.col("src").alias("vid"), F.col("s").alias("scc"))
            .distinct()
        )
        valid = cand.join(
            color,
            (cand["vid"] == color["vid"]) & (cand["scc"] == color["color"]),
            "left_semi",
        )
        new = valid.join(marked.select("vid"), "vid", "left_anti")
        obs = Observation()
        new = _ckpt(new, obs, F.count(F.lit(1)).alias("n"))
        jobs += 1
        if int(obs.get["n"] or 0) == 0:
            return marked, jobs
        marked = _ckpt(marked.unionAll(new))
        frontier = new
    raise RuntimeError(
        f"scc: backward sweep not exhausted in {max_inner} rounds; "
        "raise max_inner"
    )


def _bfs_reach(edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """All vids reachable from seeds (inclusive) following edges
    src→dst; frontier semi-join per level, convergence observed on the
    level's own checkpoint job."""
    reached = _ckpt(seeds.select("vid"))
    frontier = reached
    done = False
    for _ in range(max_depth):
        nxt = (
            edges.join(
                frontier.select(F.col("vid").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("vid"))
            .distinct()
            .join(reached, "vid", "left_anti")
        )
        obs = Observation()
        nxt = _ckpt(nxt, obs, F.count(F.lit(1)).alias("n"))
        if int(obs.get["n"] or 0) == 0:
            done = True
            break
        reached = _ckpt(reached.unionAll(nxt))
        frontier = nxt
    if not done:
        raise RuntimeError(
            f"bfs reach truncated at depth {max_depth}; raise max_depth"
        )
    return reached


def bowtie_regions(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_depth: int = 120,
) -> DataFrame:
    """Broder bow-tie decomposition: (vid, region) with region in
    {'core', 'in', 'out', 'tendril', 'disconnected'}.

    core    = the largest SCC (ties broken by min scc_id);
    in/out  = reaches / is reached from the core (directed BFS both
              ways; IN∩OUT is empty by definition — mutual reach would
              put the vertex in the core);
    tendril = weakly connected to the core but none of the above
              (Broder's TENDRILS + TUBES, collapsed);
    disconnected = everything else.

    Three sub-computations reuse existing kernels: the SCC labels, two
    frontier BFS sweeps, and a WCC run for the weak-component test.
    The only driver-side scalar is the core's (scc_id, wcc label) pick.
    """
    from planar_spark.kernels.components import connected_components

    config = config or EngineConfig()

    labels = strongly_connected_components(graph, config)
    labels = _ckpt(labels)
    core_id = (
        labels.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc_id"))
        .limit(1)
        .collect()[0]["scc_id"]
    )
    core = _ckpt(labels.where(F.col("scc_id") == core_id).select("vid"))

    edges = graph.edges.select("src", "dst").distinct()
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    fwd_reach = _bfs_reach(edges, core, max_depth)   # core ∪ OUT
    bwd_reach = _bfs_reach(rev, core, max_depth)     # core ∪ IN

    # tendril-vs-disconnected hangs on CONVERGED wcc labels, and this
    # call site never checks .converged — Boruvka mode is converged by
    # construction at O(log V) rounds (hash-min would silently
    # misclassify tendrils as disconnected on a high-diameter graph)
    wcc = connected_components(graph, config, algorithm="boruvka").state
    core_wcc = (
        wcc.join(core, "vid", "left_semi").agg(F.min("label")).collect()[0][0]
    )

    return (
        graph.vertices.select("vid")
        .join(core.withColumn("_c", F.lit(1)), "vid", "left")
        .join(
            bwd_reach.select("vid").withColumn("_i", F.lit(1)), "vid", "left"
        )
        .join(
            fwd_reach.select("vid").withColumn("_o", F.lit(1)), "vid", "left"
        )
        .join(wcc.select("vid", "label"), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_c").isNotNull(), F.lit("core"))
            .when(F.col("_i").isNotNull(), F.lit("in"))
            .when(F.col("_o").isNotNull(), F.lit("out"))
            .when(F.col("label") == F.lit(core_wcc), F.lit("tendril"))
            .otherwise(F.lit("disconnected"))
            .alias("region"),
        )
    )
