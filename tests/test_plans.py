"""Physical-plan shape assertions: the scale properties we rely on.

These lock in the plan-level invariants (SURVEY.md §4) so a regression
that silently reintroduces a per-superstep edge shuffle or breaks
pushdown fails CI, not a 100 TB run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import gather_join
from planar_spark.ingest.pages import edges_powerlaw

from tests.conftest import graph_from_numpy


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gather_join_is_merge_and_edge_side_unshuffled(spark, config):
    edges = edges_powerlaw(500, m=3, seed=1)
    g = graph_from_numpy(spark, edges, 500)
    state = g.degrees.withColumn("pr", F.lit(1.0 / 500))
    live = state.where(F.col("out_deg") > 0).select(
        "vid", (F.col("pr") / F.col("out_deg")).alias("w")
    )
    gathered = gather_join(g.edges, live)
    contribs = gathered.groupBy(F.col("dst").alias("vid")).agg(
        F.sum("w").alias("contrib")
    )
    contribs.collect()  # AQE finalizes the plan on execution
    plan = _plan(contribs)
    assert "SortMergeJoin" in plan, plan
    # the edge side comes straight from the cache: the cached layout
    # provides hash(src) partitioning + src ordering, so the ONLY
    # exchanges Spark inserts at runtime (ENSURE_REQUIREMENTS) must be
    # on the agg key (dst) / state side — never re-shuffling edges by
    # src. (The REPARTITION_BY_NUM exchange recorded inside the
    # InMemoryRelation is the one-time cache build, which is expected.)
    assert "InMemoryTableScan" in plan
    # Structural check on the join's edge branch: between the
    # SortMergeJoin node and the cached-edge scan there must be neither
    # an Exchange nor a Sort. (Exchanges recorded deeper in the plan
    # dump belong to nested InMemoryRelation build plans — the one-time
    # cache load — and are expected.)
    i = plan.index("SortMergeJoin [src")
    j = plan.index("TableCacheQueryStage", i)
    edge_branch = plan[i:j]
    assert "Exchange" not in edge_branch, plan
    assert "Sort [src" not in edge_branch, plan


def test_two_hop_stats_no_wedge_materialization(spark, config):
    """two_hop_stats must pre-aggregate per-mid min/max BELOW the join —
    never materialize the O(Σ in_deg·out_deg) wedge set. On this star
    fixture the wedge count is n² while |E| = 2n."""
    from planar_spark.kernels.neighborhood import two_hop_stats

    n = 50
    edges = np.array(
        [(i, 0) for i in range(1, n + 1)] + [(0, n + i) for i in range(1, n + 1)]
    )
    g = graph_from_numpy(spark, edges, 2 * n + 1)
    out = two_hop_stats(g)
    rows = {r["vid"]: (r["min_two_hop"], r["max_two_hop"]) for r in out.collect()}
    assert rows[1] == (n + 1, 2 * n)  # spokes see hub's out-neighbors
    assert 0 not in rows              # hub's out-neighbors are sinks
    # Optimized logical plan (no AQE duplication): exactly one join, and
    # an Aggregate sits BELOW it (the per-mid pre-agg) — children print
    # after their parent in the tree dump.
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Join ") == 1, opt
    join_at = opt.index("Join ")
    assert "Aggregate" in opt[join_at:], opt


def test_triad_census_join_diet(spark, config):
    """The direction flags must come from ONE pre-aggregated
    undirected-pair table joined three times (once per triangle edge),
    not six per-flag joins: optimized plan = 2 triangle-build joins +
    3 flag joins = 5 total."""
    from planar_spark.kernels.graphstats import triad_census

    edges = edges_powerlaw(120, m=2, seed=5)
    g = graph_from_numpy(spark, edges, 120)
    out = triad_census(g, config)
    out.collect()
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    # count LOGICAL join nodes ("Join Inner ...") — InMemoryRelation
    # blocks embed cached PHYSICAL plans whose BroadcastHashJoin lines
    # would inflate a bare "Join " count
    assert opt.count("Join Inner") <= 5, opt


def test_lpa_and_random_walk_have_no_window(spark, config):
    """Hot paths must use partial-agg-able struct argmin/argmax, never a
    per-vertex window sort (a hub's neighbor multiset would land in one
    window partition)."""
    from planar_spark.kernels import label_propagation
    from planar_spark.kernels.neighborhood import random_walk

    edges = edges_powerlaw(300, m=3, seed=2)
    g = graph_from_numpy(spark, edges, 300)
    lpa_state = label_propagation(g, config, num_iterations=1).state
    lpa_state.collect()
    assert "Window" not in _plan(lpa_state)
    walks = random_walk(g, config, num_steps=2)
    walks.collect()
    assert "Window" not in _plan(walks)


def test_sssp_state_not_reshuffled_per_round(spark, config):
    """Per BFS round the O(V) dist state must stream into the join
    un-exchanged; only the O(frontier) newly-reached set moves. (r8
    flat-leaf state: the previous round's state is a releaf'd
    localCheckpoint leaf, and the newly-reached set joins it as the
    broadcast build side — the state branch is a bare leaf scan.)"""
    from planar_spark.kernels.sssp import bfs_sssp

    import os

    edges = edges_powerlaw(400, m=3, seed=5)
    g = graph_from_numpy(spark, edges, 400)
    # The returned state is itself a leaf (flat-leaf design), so the
    # per-superstep plan is captured via the engine's explain hook.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        os.environ["SPARK_GRAFT_EXPLAIN_DIR"] = d
        try:
            bfs_sssp(g, 7, config)
        finally:
            os.environ.pop("SPARK_GRAFT_EXPLAIN_DIR", None)
        steps = sorted(
            f for f in os.listdir(d) if f.startswith("sssp_step")
        )
        assert len(steps) >= 2, steps
        with open(os.path.join(d, steps[-1])) as f:
            plan = f.read()
    # The superstep join: its left (state) branch is the previous state
    # leaf — no Exchange may sit between the join node and the leaf
    # scan. The broadcast build side prints after the state branch.
    i = plan.index("Join LeftOuter")
    j = plan.index("Scan ExistingRDD", i)
    assert "Exchange" not in plan[i:j], plan[i : j + 200]


def test_parquet_filter_pushdown(spark, tmp_path):
    """Filters and projections reach the parquet scan."""
    import pandas as pd

    path = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": np.arange(100),
            "text": [f"t{i}" for i in range(100)],
            "lang": ["en" if i % 3 else "de" for i in range(100)],
        }
    ).to_parquet(path)
    df = spark.read.parquet(path).where(F.col("lang") == "en").select("doc_id")
    df.collect()
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint" in plan, plan


def test_releaf_prevents_checkpoint_stats_blowup(spark):
    """Dataset.localCheckpoint copies the child plan's size estimate
    into the new leaf; a self-joining superstep then SQUARES sizeInBytes
    every round until join planning spends seconds in BigInteger math
    (observed live in SizeInBytesOnlyStatsPlanVisitor at round ~18).
    releaf() must reset the leaf to default stats."""
    from planar_spark.graph.superstep import releaf

    df = spark.range(100).selectExpr("id AS vid", "id AS label")
    state = releaf(df.localCheckpoint(eager=True))
    for _ in range(6):
        parent = state.select(
            F.col("vid").alias("p_vid"), F.col("label").alias("p_label")
        )
        state = (
            state.join(parent, state["label"] == parent["p_vid"])
            .select("vid", F.col("p_label").alias("label"))
        )
        state = releaf(state.localCheckpoint(eager=True))
    size = int(
        str(state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    # without releaf the estimate squares per round (>10^40 by round 6)
    assert size < 10**25, size
    assert state.count() == 100


def test_materialize_policy_lives_in_superstep_only():
    """Every iterative kernel cuts lineage through superstep.materialize
    and checkpoints through superstep.RoundStore. A kernel-local
    localCheckpoint (which skips releaf's stats reset) or a second
    checkpoint helper would fork that single policy again."""
    import pathlib

    import planar_spark

    root = pathlib.Path(planar_spark.__file__).parent
    allowed = root / "graph" / "superstep.py"
    hits = [
        f"{path.relative_to(root)}:{i}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path != allowed
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or "LoopCheckpointer" in line
    ]
    assert not hits, "\n".join(hits)


def test_round_store_is_built_only_by_the_engine_and_multi_table_loops():
    """Every iterative loop runs on SuperstepEngine, which owns its
    RoundStore. Only the engine and the streaming WCC per-batch store
    build one."""
    import pathlib

    import planar_spark

    root = pathlib.Path(planar_spark.__file__).parent
    allowed = {"superstep.py": 1, "wcc_maintain.py": 1}
    over = {
        str(path.relative_to(root)): n
        for path in sorted(root.rglob("*.py"))
        if (n := path.read_text().count("RoundStore("))
        > allowed.get(path.name, 0)
    }
    assert not over, over


def test_kernels_take_undirected_edges_from_the_builders():
    """Kernels take undirected edges from the cached ``*_by_*``
    builders: the one-shot ``undirected_edges()`` /
    ``symmetric_edges()`` put an uncached distinct into the plan that
    runs once per reference. And one file, kernels/triangles.py,
    defines the degree orientation (an endpoint choice by degree,
    aliased ``lo``) that triangle enumeration builds on."""
    import ast
    import pathlib
    import re

    import planar_spark

    root = pathlib.Path(planar_spark.__file__).parent
    one_shot = [
        f"{path.relative_to(root)}:{i}: {line.strip()}"
        for path in sorted((root / "kernels").rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "undirected_edges()" in line or "symmetric_edges()" in line
    ]
    assert not one_shot, "\n".join(one_shot)
    orientation = re.compile(r"when\(.*\)\.otherwise\(.*\)\.alias\('lo'\)")
    orienting = sorted(
        str(path.relative_to(root))
        for path in root.rglob("*.py")
        if any(
            isinstance(node, ast.FunctionDef)
            and orientation.search(ast.unparse(node))
            for node in ast.walk(ast.parse(path.read_text()))
        )
    )
    assert orienting == ["kernels/triangles.py"], orienting


def test_reversed_edge_gather_is_merge_join(spark, config):
    """The hits/hyperball hub-phase gather joins on the REVERSED edge
    cache (partitioned+sorted by the reversed src): like the forward
    gather, it must be a merge join with no Exchange/Sort on the edge
    branch — the reversed cache exists precisely to buy that."""
    edges = edges_powerlaw(500, m=3, seed=2)
    g = graph_from_numpy(spark, edges, 500)
    rev = g.reversed_edges_by_src(config.partitions_for(spark)).persist()
    live = g.degrees.select("vid", F.lit(1.0).alias("w"))
    gathered = gather_join(rev, live)
    out = gathered.groupBy(F.col("dst").alias("vid")).agg(
        F.sum("w").alias("s")
    )
    out.collect()
    plan = _plan(out)
    assert "SortMergeJoin" in plan, plan
    i = plan.index("SortMergeJoin [src")
    j = plan.index("TableCacheQueryStage", i)
    branch = plan[i:j]
    assert "Exchange" not in branch, plan
    assert "Sort [src" not in branch, plan
    rev.unpersist()


def _exchanges_above_cache(df) -> int:
    """Exchange nodes in df's physical plan (the initial adaptive plan,
    before execution). An InMemoryTableScan is a leaf of that tree, so
    the exchanges that built a cache it reads are not counted."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    count, todo = 0, [node]
    while todo:
        n = todo.pop()
        count += "Exchange" in n.nodeName()
        kids = n.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return count


def test_hub_split_gather_adds_no_exchange(spark):
    """A hub's edges are split off once per call into a cached table,
    so the star's gather + groupBy(dst) plan at a threshold below the
    hub has as many exchanges as with no hub at all, and no Generate
    (no per-step re-keying or explode of the hub's state)."""
    from planar_spark.ingest.pages import edges_star_hub
    from planar_spark.kernels.pagerank import gather_edges

    n = 500
    g = graph_from_numpy(spark, edges_star_hub(n), n)
    live = g.degrees.where(F.col("out_deg") > 0).select(
        "vid", (F.lit(1.0 / n) / F.col("out_deg")).alias("x")
    )

    def gather(threshold):
        cfg = EngineConfig(num_partitions=8, hub_degree_threshold=threshold)
        edges, hubs, _, release = gather_edges(g, cfg)
        msgs = gather_join(edges, live).select("dst", "x")
        if hubs is not None:
            got = live.agg(hubs.observed(F.col("x"))).first()
            msgs = msgs.unionByName(hubs.contribs(got))
        out = msgs.groupBy(F.col("dst").alias("vid")).agg(F.sum("x").alias("c"))
        found = (hubs and hubs.ids, _exchanges_above_cache(out), _plan(out))
        release()
        return found

    hub_ids, with_hub, hub_plan = gather(50)
    no_hub, plain, _ = gather(10**6)
    assert hub_ids == [0] and no_hub is None
    assert with_hub == plain, hub_plan
    assert "Generate" not in hub_plan, hub_plan


def _builders(g, parts):
    """Every cached derived edge layout, by name."""
    from dataclasses import replace

    from planar_spark.graph.locality import (
        block_pinned_edges,
        block_pinned_sym,
    )

    pinned = replace(g, block_size=16)
    return {
        "symmetric_edges_by_src": g.symmetric_edges_by_src(parts),
        "undirected_edges_by_a": g.undirected_edges_by_a(parts),
        "reversed_edges_by_src": g.reversed_edges_by_src(parts),
        "block_pinned_sym": block_pinned_sym(pinned, parts),
        "block_pinned_edges": block_pinned_edges(pinned, parts),
        "block_pinned_edges_reversed": block_pinned_edges(
            pinned, parts, reverse=True
        ),
    }


def test_edge_table_builders_take_one_exchange(spark, config):
    """Each derived edge layout reads the cached edges and shuffles
    once: its dedup runs inside the partitions of its one repartition.
    The composed forms they replace pay at least two (the union in
    symmetric_edges() plans its distinct once per branch)."""
    g = graph_from_numpy(spark, edges_powerlaw(300, m=3, seed=5), 300)
    parts = config.partitions_for(spark)
    for name, df in _builders(g, parts).items():
        plan = _plan(df)
        assert "InMemoryTableScan" in plan, (name, plan)
        assert _exchanges_above_cache(df) == 1, (name, plan)
    old_sym = g.symmetric_edges().repartition(parts, "src")
    old_und = g.undirected_edges().repartition(parts, "a")
    assert _exchanges_above_cache(old_sym) >= 2
    assert _exchanges_above_cache(old_und) == 2


def test_edge_table_builders_match_the_composed_forms(spark, config):
    """On a graph with duplicate edges, reversed duplicates and a
    self-loop: the undirected and symmetric builders equal
    undirected_edges() / symmetric_edges() as sets (no duplicate row),
    and the reversed builders keep the edge multiset."""
    edges = np.array(
        [(0, 1), (0, 1), (1, 0), (1, 2), (2, 2), (3, 1), (3, 1), (2, 0)]
    )
    g = graph_from_numpy(spark, edges, 5)
    built = _builders(g, config.partitions_for(spark))

    def rows(df, a="src", b="dst"):
        return sorted((r[a], r[b]) for r in df.select(a, b).collect())

    und = rows(g.undirected_edges(), "a", "b")
    sym = rows(g.symmetric_edges())
    assert und == [(0, 1), (0, 2), (1, 2), (1, 3)]
    assert rows(built["undirected_edges_by_a"], "a", "b") == und
    assert rows(built["symmetric_edges_by_src"]) == sym
    assert rows(built["block_pinned_sym"]) == sym
    fwd = sorted((int(s), int(d)) for s, d in edges if s != d)
    rev = sorted((d, s) for s, d in fwd)
    assert rows(built["reversed_edges_by_src"]) == rev
    assert rows(built["block_pinned_edges_reversed"]) == rev
    assert rows(built["block_pinned_edges"]) == fwd


def test_scc_and_bowtie_plans_have_no_window(spark, config):
    from planar_spark.kernels.scc import bowtie_regions

    edges = edges_powerlaw(120, m=2, seed=4)
    g = graph_from_numpy(spark, edges, 120)
    out = bowtie_regions(g, config)
    # bowtie runs scc + 2 BFS + wcc internally; the final merge plan
    # (and by construction every checkpointed inner step) is window-free
    assert "Window" not in _plan(out)
    assert out.count() == 120


def test_block_pinned_gather_edge_side_unshuffled(spark, config):
    """The locality gather (graph/locality.py): sym cached as
    HashPartitioning(sblk) + sorted (sblk, src), joined to labels on
    the compound [sblk, src] key. HashPartitioning on the subset key
    must satisfy the join's distribution — zero exchange AND zero sort
    on the edge branch; only the label side shuffles (by vblk)."""
    edges = edges_powerlaw(400, m=3, seed=2)
    g = graph_from_numpy(spark, edges, 400)
    # partition count must match the session's shuffle partitions (8):
    # a cached HashPartitioning with a DIFFERENT numPartitions is not
    # co-partition-compatible and Spark re-shuffles the edge side.
    g2, _ = g.with_partitioning("bfs_edge_cut", num_partitions=8)

    from planar_spark.graph.locality import block_pinned_sym

    sym = block_pinned_sym(g2, 8).persist()
    sym.count()
    labels = g2.vertices.select("vid", F.col("vid").alias("label"))
    lab_b = labels.withColumn(
        "vblk", F.expr(f"vid div {int(g2.block_size)}")
    )
    # merge hint: at test scale AQE would broadcast the tiny label side
    # (also edge-side-unshuffled, but not the at-scale plan); the hint
    # pins the SMJ form that a 100TB label table gets.
    msgs = sym.hint("merge").join(
        lab_b, (sym["sblk"] == lab_b["vblk"]) & (sym["src"] == lab_b["vid"])
    ).select(F.col("dst").alias("vid"), "label")
    agg = msgs.groupBy("vid").agg(F.min("label").alias("nbr_min"))
    agg.collect()  # AQE finalizes the plan on execution
    plan = _plan(agg)
    assert "SortMergeJoin [sblk" in plan, plan
    i = plan.index("SortMergeJoin [sblk")
    j = plan.index("TableCacheQueryStage", i)
    edge_branch = plan[i:j]
    assert "Exchange" not in edge_branch, plan
    assert "Sort [sblk" not in edge_branch, plan
    sym.unpersist()


def test_pagerank_block_pinned_gather_edge_side_unshuffled(spark, config):
    """PageRank's gather on a with_partitioning graph must consume the
    block-pinned layout (r7): gather_join's block mode joins the
    cached HashPartitioning(sblk)/(sblk, src)-sorted edge table on the
    compound key with zero exchange and zero sort on the edge branch."""
    edges = edges_powerlaw(400, m=3, seed=2)
    g = graph_from_numpy(spark, edges, 400)
    g2, _ = g.with_partitioning("bfs_edge_cut", num_partitions=8)

    from planar_spark.graph.locality import block_pinned_edges
    from planar_spark.graph.skew import gather_join

    pinned = block_pinned_edges(g2, 8).persist()
    pinned.count()
    live = g2.degrees.where(F.col("out_deg") > 0).select(
        "vid", (F.lit(1.0) / F.col("out_deg")).alias("w")
    )
    gathered = gather_join(pinned, live, g2.block_size)
    agg = gathered.groupBy(F.col("dst").alias("vid")).agg(
        F.sum("w").alias("contrib")
    )
    agg.collect()
    plan = _plan(agg)
    assert "SortMergeJoin [sblk" in plan, plan
    i = plan.index("SortMergeJoin [sblk")
    j = plan.index("TableCacheQueryStage", i)
    edge_branch = plan[i:j]
    assert "Exchange" not in edge_branch, plan
    assert "Sort [sblk" not in edge_branch, plan
    pinned.unpersist()


def test_lpa_block_pinned_gather_edge_side_unshuffled(spark, config):
    """LPA's gather on a with_partitioning graph (r7) pins the
    SYMMETRIC edge table by locality block — same contract as WCC:
    the cached HashPartitioning(sblk)/(sblk, src)-sorted sym table
    joins the label state on the compound key with zero exchange and
    zero sort on the edge branch."""
    edges = edges_powerlaw(400, m=3, seed=3)
    g = graph_from_numpy(spark, edges, 400)
    g2, _ = g.with_partitioning("bfs_vertex_cut", num_partitions=8)

    from planar_spark.graph.locality import block_pinned_sym

    sym = block_pinned_sym(g2, 8).hint("merge").persist()
    sym.count()
    labels = g2.vertices.select("vid", F.col("vid").alias("label"))
    lab_b = labels.withColumn(
        "vblk", F.expr(f"vid div {int(g2.block_size)}")
    )
    msgs = (
        sym.join(
            lab_b,
            (sym["sblk"] == lab_b["vblk"]) & (sym["src"] == lab_b["vid"]),
        )
        .select(F.col("dst").alias("vid"), "label")
    )
    counts = msgs.groupBy("vid", "label").agg(F.count(F.lit(1)).alias("n"))
    counts.collect()
    plan = _plan(counts)
    assert "SortMergeJoin [sblk" in plan, plan
    i = plan.index("SortMergeJoin [sblk")
    j = plan.index("TableCacheQueryStage", i)
    edge_branch = plan[i:j]
    assert "Exchange" not in edge_branch, plan
    assert "Sort [sblk" not in edge_branch, plan
    sym.unpersist()


def test_pagerank_family_step_plans_have_no_cross_join(spark, tmp_path):
    """Every power-iteration step plan has one shape, fresh or resumed:
    the dangling mass (hits: the column sums) is a literal, observed on
    the previous materialization or — for a resumed checkpoint — read by
    one driver action, never a 1-row aggregate crossJoined into the
    step."""
    import os

    from planar_spark.graph.superstep import SuperstepEngine
    from planar_spark.kernels import (
        hits,
        pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )

    edges = edges_powerlaw(200, m=3, seed=8)
    g = graph_from_numpy(spark, edges, 200)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path / "ck")
    )
    seeds = spark.createDataFrame([(0,), (7,)], "vid long")
    wdf = spark.createDataFrame(
        [(int(s), int(d), 1.0 + (int(s) + int(d)) % 3) for s, d in edges],
        "src long, dst long, weight double",
    )

    def eng(kernel):
        return SuperstepEngine(spark, cfg, kernel, run_id="R")

    # (kernel, resumed) -> run; each fresh run checkpoints the round its
    # resumed run continues from
    cases = {
        ("pagerank", False): lambda: pagerank(
            g, cfg, num_iterations=1, engine=eng("pagerank")
        ),
        ("pagerank", True): lambda: pagerank(
            g, cfg, num_iterations=2, engine=eng("pagerank"), resume=True
        ),
        ("ppr", False): lambda: personalized_pagerank(
            g, seeds, cfg, num_iterations=1, engine=eng("ppr")
        ),
        ("ppr", True): lambda: personalized_pagerank(
            g, seeds, cfg, num_iterations=2, engine=eng("ppr"), resume=True
        ),
        ("hits", False): lambda: hits(
            g, cfg, num_iterations=1, engine=eng("hits")
        ),
        ("hits", True): lambda: hits(
            g, cfg, num_iterations=2, engine=eng("hits"), resume=True
        ),
        ("wpagerank", False): lambda: weighted_pagerank(
            wdf, cfg, num_iterations=2
        ),
    }
    for (kernel, resumed), run in cases.items():
        d = str(tmp_path / f"{kernel}_{resumed}")
        os.environ["SPARK_GRAFT_EXPLAIN_DIR"] = d
        try:
            run()
        finally:
            os.environ.pop("SPARK_GRAFT_EXPLAIN_DIR", None)
        steps = sorted(os.listdir(d)) if os.path.isdir(d) else []
        # a fresh run dumps its init step 0; a resumed one only the
        # steps past its checkpoint
        assert steps and (steps[0] == f"{kernel}_step000.txt") != resumed, (
            kernel, resumed, steps,
        )
        for name in steps:
            with open(os.path.join(d, name)) as f:
                plan = f.read()
            assert "BroadcastNestedLoopJoin" not in plan, (kernel, name)
            assert "CartesianProduct" not in plan, (kernel, name)
