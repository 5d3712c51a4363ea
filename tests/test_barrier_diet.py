"""Driver-barrier and work-volume regressions for the iterative kernels.

Round-3 scale-shaping evidence:
- MST: a Boruvka round is 2 + #jumps driver jobs (convergence counts
  ride materialization jobs as Observations) — never ~17 like a
  per-jump count loop.
- k-core: after the one full O(E) degree count, each peel round's
  decrement aggregate touches only vertices adjacent to the removed
  frontier, not the whole edge set.
- coloring: the mex is counting-based; no ``collect_set`` (unbounded
  per-vertex aggregation buffer) anywhere in the round plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from planar_spark.ingest.pages import edges_powerlaw
from planar_spark.kernels.kcore import k_core
from planar_spark.kernels.mst import boruvka_msf
from planar_spark.oracle.numpy_oracle import oracle_msf

from tests.conftest import graph_from_numpy


def test_msf_barrier_diet_job_count(spark, config):
    # a ring over PERMUTED vertex ids: min-edge hooking forms many small
    # clusters per round (sequential ids would collapse in one round via
    # the global hook chain), so several Boruvka rounds are exercised
    n = 64
    perm = np.random.RandomState(5).permutation(n)
    edges = np.array([(perm[i], perm[(i + 1) % n]) for i in range(n)])
    g = graph_from_numpy(spark, edges, n)
    g.edges.count()  # warm the edge cache outside the measured group
    sc = spark.sparkContext
    # AQE submits one job per shuffle-stage materialization, so job
    # counts only equal ACTION counts with it off — and actions (driver
    # barriers) are the latency metric that matters at scale.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("msf-diet", "msf job diet")
        metrics: dict = {}
        forest = boruvka_msf(g, config, metrics_out=metrics)
        sc.setJobGroup("msf-diet-after", "after")
        jobs = sc.statusTracker().getJobIdsForGroup("msf-diet")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    rounds, jumps = metrics["rounds"], metrics["jumps"]
    assert rounds >= 2  # fixture must exercise multiple Boruvka rounds
    # actions = init label ckpt + per-round (pick ckpt + hook-merge
    # ckpt + jump ckpts) + the final empty-pick round — NO standalone
    # count actions; each materialization may additionally submit one
    # broadcast-build job (small side of a join), hence the factor 2.
    actions = 2 * rounds + jumps + 2
    assert len(jobs) <= 2 * actions, (len(jobs), metrics)
    # the old per-jump-count loop was ~17+ actions per round; the diet
    # is proven by the per-round job ratio staying single-digit small
    assert len(jobs) / rounds <= 6, (len(jobs), metrics)
    # and the result is still the exact MSF
    got = {(r["a"], r["b"]) for r in forest.collect()}
    assert got == oracle_msf(edges)


def test_msf_forest_append_only_no_duplicates(spark, config):
    """Hook-to-min can re-pick a star edge across rounds; the single
    terminal distinct must leave the returned forest duplicate-free."""
    edges = edges_powerlaw(150, m=2, seed=11)
    g = graph_from_numpy(spark, edges, 150)
    forest = boruvka_msf(g, config)
    rows = [(r["a"], r["b"]) for r in forest.collect()]
    assert len(rows) == len(set(rows))


def _clique_chain(chain_len: int = 20):
    """An 8-clique (stays in the 2-core) tied to a chain that peels one
    vertex per round from its free end: (edges, n)."""
    clique = [
        (a, b) for a in range(8) for b in range(a + 1, 8)
    ]
    chain = [(8 + i, 8 + i + 1) for i in range(chain_len - 1)]
    # tie the chain to the clique so the graph is connected
    return np.array(clique + [(0, 8)] + chain), 8 + chain_len


def test_kcore_delta_peeling_touches_only_frontier(spark, config):
    """Clique (stays in core) + long chain (peels two vertices per
    round): every post-round work volume must be O(frontier edges),
    never O(E)."""
    chain_len = 20
    edges, n = _clique_chain(chain_len)
    g = graph_from_numpy(spark, edges, n)
    metrics: dict = {}
    got = {
        r["vid"]: r["in_core"]
        for r in k_core(g, k=2, config=config, metrics_out=metrics).collect()
    }
    # only the clique survives k=2 (chain ends unravel it completely)
    for v in range(n):
        assert got[v] == (1 if v < 8 else 0), v
    assert metrics["rounds"] >= chain_len // 2  # deep peeling exercised
    # frontier is the chain tail ends: at most 2-3 vertices per round,
    # and the decrement aggregate touches only their neighbors — while a
    # full recount would touch all ~55 surviving vertices every round.
    assert max(metrics["frontier_sizes"][1:]) <= 3, metrics
    assert max(metrics["touched"][1:]) <= 6, metrics
    assert sum(metrics["touched"]) < len(edges), metrics


def test_kcore_one_job_per_removal_round(spark, config):
    """k-core's frontier cut, tombstone, degree decrement and next-round
    decisions ride ONE materialization per removal round."""
    edges, n = _clique_chain()
    g = graph_from_numpy(spark, edges, n)
    g.edges.count()
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("kcore-diet", "kcore job diet")
        metrics: dict = {}
        core = k_core(g, k=2, config=config, metrics_out=metrics)
        sc.setJobGroup("kcore-diet-after", "after")
        jobs = sc.statusTracker().getJobIdsForGroup("kcore-diet")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    rounds = metrics["rounds"]
    assert rounds >= 10
    # one materialization per removal round plus the initial degree
    # count; each may add one broadcast-build job, hence the factor 2
    assert len(jobs) <= 2 * rounds + 4, (len(jobs), rounds)
    assert core.where(F.col("in_core") == 1).count() == 8


def test_wcc_one_action_per_superstep(spark, config):
    """WCC's sum(label) convergence metric must ride the state
    materialization job as an Observation — one driver action per
    superstep, no standalone aggregate job."""
    from planar_spark.kernels import connected_components

    edges = edges_powerlaw(300, m=2, seed=4)
    g = graph_from_numpy(spark, edges, 300)
    g.edges.count()
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("wcc-diet", "wcc")
        r = connected_components(g, config, two_hop_init=True)
        sc.setJobGroup("wcc-diet-after", "x")
        jobs = sc.statusTracker().getJobIdsForGroup("wcc-diet")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    steps = r.steps_run
    assert r.converged and steps >= 2
    # actions = init-state ckpt + one state ckpt per superstep; each
    # action may additionally submit broadcast-build jobs for its small
    # join sides (two-hop init: 2, gather/jump: up to 2) — factor 3
    assert len(jobs) <= 3 * (steps + 1) + 1, (len(jobs), steps)
    # and the observed metric is present in every superstep's metrics
    assert all("label_sum" in m for m in r.metrics if m.get("superstep"))


def test_sssp_two_actions_per_superstep(spark, config):
    """SSSP: state materialization + frontier cut (its size observed on
    the cut's own job) — exactly two driver actions per superstep."""
    from planar_spark.kernels.sssp import bfs_sssp

    edges = edges_powerlaw(300, m=2, seed=4)
    g = graph_from_numpy(spark, edges, 300)
    g.edges.count()
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # source = newest vertex: PA edges point to earlier ids, so the
        # BFS actually expands for several levels
        sc.setJobGroup("sssp-diet", "sssp")
        r = bfs_sssp(g, 299, config)
        sc.setJobGroup("sssp-diet-after", "x")
        jobs = sc.statusTracker().getJobIdsForGroup("sssp-diet")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    steps = r.steps_run
    assert r.converged and steps >= 3
    assert len(jobs) <= 2 * (2 * steps + 2), (len(jobs), steps)


def test_pagerank_l1_delta_observed_in_plan(spark, config):
    """Early-stop PageRank: the L1 delta must come from an Observation
    on the state plan, converging without standalone aggregate jobs."""
    import dataclasses

    from planar_spark.kernels import pagerank

    edges = edges_powerlaw(200, m=2, seed=6)
    g = graph_from_numpy(spark, edges, 200)
    cfg = dataclasses.replace(config, tolerance=1e-12)
    r = pagerank(g, cfg, num_iterations=60)
    assert r.converged
    deltas = [m["l1_delta"] for m in r.metrics if "l1_delta" in m]
    assert deltas and deltas[-1] < 1e-12
    assert all(b <= a * 1.01 for a, b in zip(deltas, deltas[1:]))  # shrinking
    mass = float(r.state.agg(F.sum("pr")).collect()[0][0])
    assert abs(mass - 1.0) < 1e-9


def test_coloring_round_plan_has_no_collect_set(spark, config):
    """The proposal must be the counting form (bounded candidate explode
    + anti-join), not a per-vertex collect_set whose aggregation buffer
    is unbounded on power-law hubs — and no window functions."""
    from planar_spark.kernels.coloring import _round_commits

    edges = edges_powerlaw(100, m=2, seed=7)
    g = graph_from_numpy(spark, edges, 100)
    sym = g.symmetric_edges()
    # mid-run state (some vertices colored) — an all-null init state
    # would let Catalyst constant-fold the used-colors branch away
    colored = g.vertices.select(
        "vid",
        F.when(F.col("vid") % 2 == 0, F.col("vid") % 3)
        .cast("long")
        .alias("color"),
    )
    todo = colored.where(F.col("color").isNull()).select("vid")
    commit = _round_commits(todo, sym, colored, round_no=1)
    opt = commit._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_set" not in opt, opt
    assert "window" not in opt.lower(), opt
    # the counting proposal shape: a Generate (explode of the candidate
    # range) feeding a LeftAnti join
    assert "Generate" in opt, opt
    assert "LeftAnti" in opt, opt


def test_louvain_no_metrics_job_diet(spark, config):
    """Without metrics_out, louvain must not run the reporting-only
    Q/communities actions (2 collects + a count per level, r6 VERDICT
    finding #2): the job budget is 1 localCheckpoint action per move
    round + the m collect per level (+ checkpointer IO, disabled here),
    with per-action broadcast-build jobs allowed (factor 2)."""
    from planar_spark.config import EngineConfig
    from planar_spark.kernels.louvain import louvain

    from planar_spark.ingest.pages import edges_two_cliques

    edges, n = edges_two_cliques(8, n_isolated=0)
    g = graph_from_numpy(spark, np.asarray(edges), n)
    g.edges.count()
    cfg = EngineConfig(
        num_partitions=config.num_partitions, checkpoint_dir=None
    )
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("louvain-diet", "louvain job diet")
        m: dict = {}
        louvain(g, cfg, metrics_out=m).count()
        with_metrics = len(sc.statusTracker().getJobIdsForGroup("louvain-diet"))
        sc.setJobGroup("louvain-diet2", "louvain no metrics")
        louvain(g, cfg).count()
        no_metrics = len(sc.statusTracker().getJobIdsForGroup("louvain-diet2"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    levels = m["levels"]
    rounds = sum(m["move_rounds"])
    # metrics path runs 3 extra actions per completed level
    assert with_metrics - no_metrics >= 2 * levels, (
        with_metrics, no_metrics, m,
    )
    # budget: per move round 1 comm ckpt + per level (cur/deg/sym
    # releafs + m collect + assign compose + contraction) — each action
    # may add a broadcast-build job
    actions = rounds + 7 * (levels + 1) + 2
    assert no_metrics <= 2 * actions, (no_metrics, m)
