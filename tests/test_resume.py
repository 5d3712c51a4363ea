"""Resume-from-checkpoint and skew-path correctness (FIXTURES.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import hub_vertices, salted_gather_join
from planar_spark.graph.superstep import SuperstepEngine
from planar_spark.ingest.pages import edges_powerlaw, edges_star_hub
from planar_spark.kernels import (
    bfs_sssp,
    connected_components,
    hits,
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from planar_spark.oracle import oracle_pagerank
from planar_spark.oracle.numpy_oracle import oracle_ppr

from tests.conftest import graph_from_numpy


def _pr_rows(result):
    return sorted((r["vid"], round(r["pr"], 12)) for r in result.state.collect())


def _state_rows(result):
    return sorted(
        tuple(round(v, 12) if isinstance(v, float) else v for v in r)
        for r in result.state.collect()
    )


def _run_pagerank(g, cfg, steps, engine, resume=False):
    return pagerank(g, cfg, num_iterations=steps, engine=engine, resume=resume)


def _run_lpa(g, cfg, steps, engine, resume=False):
    return label_propagation(
        g, cfg, num_iterations=steps, engine=engine, resume=resume
    )


def _run_bfs(g, cfg, steps, engine, resume=False):
    return bfs_sssp(
        g, 150, cfg, max_iterations=steps, engine=engine, resume=resume
    )


def _run_ppr(g, cfg, steps, engine, resume=False):
    seeds = g.spark.createDataFrame([(0,), (7,), (50,)], "vid long")
    return personalized_pagerank(
        g, seeds, cfg, num_iterations=steps, engine=engine, resume=resume
    )


def _run_hits(g, cfg, steps, engine, resume=False):
    # one HITS iteration is two supersteps (auth phase, hub phase)
    return hits(g, cfg, num_iterations=steps // 2, engine=engine, resume=resume)


ENGINE_KERNELS = [
    # (kernel, runner, steps before the crash, steps asked on resume)
    ("pagerank", _run_pagerank, 4, 10),
    ("label_propagation", _run_lpa, 2, 5),
    ("bfs_sssp", _run_bfs, 2, 100),
    ("ppr", _run_ppr, 2, 5),
    ("hits", _run_hits, 2, 4),
]


@pytest.mark.parametrize(
    "kernel,run,crash_at,steps", ENGINE_KERNELS, ids=[k[0] for k in ENGINE_KERNELS]
)
def test_pagerank_resume_equals_uninterrupted(
    spark, tmp_path, kernel, run, crash_at, steps
):
    """Kill after ``crash_at`` supersteps, resume -> identical final state."""
    edges = edges_powerlaw(300, m=3, seed=11)
    g = graph_from_numpy(spark, edges, 300)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )
    # partial run ("the crash")
    partial = run(g, cfg, crash_at, SuperstepEngine(spark, cfg, kernel, "runA"))
    assert not partial.converged
    # resume with a FRESH engine object pointing at the same run_id
    resumed = run(
        g, cfg, steps, SuperstepEngine(spark, cfg, kernel, "runA"), resume=True
    )
    # uninterrupted reference run
    full = run(g, cfg, steps, SuperstepEngine(spark, cfg, kernel, "runB"))
    assert full.steps_run > crash_at
    assert full.converged or full.steps_run == steps
    assert resumed.steps_run == full.steps_run
    assert resumed.converged == full.converged
    assert _state_rows(resumed) == _state_rows(full)


def test_resume_never_returns_a_checkpoint_past_the_target(spark, tmp_path):
    """A run_id that already went to step 6 resumed with a 3-step target
    must stop at step 3, not hand back step 6's state."""
    edges = edges_powerlaw(300, m=3, seed=11)
    g = graph_from_numpy(spark, edges, 300)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )
    pagerank(g, cfg, num_iterations=6,
             engine=SuperstepEngine(spark, cfg, "pagerank", run_id="R"))
    resumed = pagerank(
        g, cfg, num_iterations=3, resume=True,
        engine=SuperstepEngine(spark, cfg, "pagerank", run_id="R"),
    )
    plain = pagerank(g, cfg, num_iterations=3)
    assert resumed.steps_run == 3
    assert _pr_rows(resumed) == _pr_rows(plain)


def test_resume_ignores_incomplete_superstep(spark, tmp_path):
    """A step dir without _META.json (killed mid-write) must be ignored."""
    import os
    import shutil

    edges = edges_powerlaw(100, m=2, seed=5)
    g = graph_from_numpy(spark, edges, 100)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )
    eng = SuperstepEngine(spark, cfg, "pagerank", run_id="runC")
    pagerank(g, cfg, num_iterations=3, engine=eng)
    # simulate a crash mid-write of step 4: state written, no meta
    src = os.path.join(str(tmp_path), "pagerank", "runC", "round=00003")
    dst = os.path.join(str(tmp_path), "pagerank", "runC", "round=00004")
    shutil.copytree(src, dst)
    os.remove(os.path.join(dst, "_META.json"))
    eng2 = SuperstepEngine(spark, cfg, "pagerank", run_id="runC")
    found = eng2.store.latest()
    assert found is not None and found[0] == 3


def test_cc_resume(spark, tmp_path):
    edges = edges_powerlaw(200, m=2, seed=9)
    g = graph_from_numpy(spark, edges, 200)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )
    eng = SuperstepEngine(spark, cfg, "connected_components", run_id="cc1")
    connected_components(g, cfg, max_iterations=1, engine=eng)
    eng2 = SuperstepEngine(spark, cfg, "connected_components", run_id="cc1")
    resumed = connected_components(g, cfg, engine=eng2, resume=True)
    assert resumed.converged
    full = connected_components(g, cfg)
    a = sorted((r["vid"], r["label"]) for r in resumed.state.collect())
    b = sorted((r["vid"], r["label"]) for r in full.state.collect())
    assert a == b


def test_salted_gather_equals_plain(spark):
    """The hub-salted gather join must produce identical aggregates."""
    from pyspark.sql import functions as F

    n = 500
    edges = edges_star_hub(n)  # vertex 0 has out-degree n-1: a hub
    g = graph_from_numpy(spark, edges, n)
    cfg = EngineConfig(num_partitions=8, salt_buckets=4, hub_degree_threshold=50)
    state = g.degrees.withColumn("pr", F.lit(1.0 / n))
    live = state.select("vid", (F.col("pr") / F.col("out_deg")).alias("w"))
    hubs = hub_vertices(g.degrees, cfg.hub_degree_threshold)
    assert hubs.count() == 1  # the star hub
    plain = (
        salted_gather_join(g.edges, live, cfg, hubs=None)
        .groupBy("dst").agg(F.sum("w").alias("c"))
    )
    salted = (
        salted_gather_join(g.edges, live, cfg, hubs=hubs)
        .groupBy("dst").agg(F.sum("w").alias("c"))
    )
    a = sorted((r["dst"], round(r["c"], 12)) for r in plain.collect())
    b = sorted((r["dst"], round(r["c"], 12)) for r in salted.collect())
    assert a == b


def test_pagerank_with_salting_matches_oracle(spark):
    """Force the salted path end-to-end on the star graph, for pagerank
    and for personalized pagerank (the same power-iteration step)."""
    n = 400
    edges = edges_star_hub(n)
    g = graph_from_numpy(spark, edges, n)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, hub_degree_threshold=50, salt_buckets=4
    )
    seeds = [0, 3, 250]
    sdf = spark.createDataFrame([(v,) for v in seeds], "vid long")
    for value, run, want in [
        ("pr", lambda: pagerank(g, cfg, num_iterations=10),
         oracle_pagerank(edges, n, num_iterations=10)),
        ("ppr", lambda: personalized_pagerank(g, sdf, cfg, num_iterations=5),
         oracle_ppr(edges, n, seeds, num_iterations=5)),
    ]:
        rows = {r["vid"]: r[value] for r in run().state.collect()}
        got = np.array([rows[v] for v in range(n)])
        assert np.allclose(got, want, atol=1e-6), value


def test_run_kernel_resume_is_forwarded_or_rejected(spark, tmp_path):
    """`run_kernel --resume` continues a ppr run from its last round
    instead of rerunning it, and is a usage error for a kernel that
    keeps no round checkpoints."""
    import json
    import sys
    from contextlib import redirect_stdout
    from io import StringIO

    from jobs.run_kernel import main as run_kernel_main

    n = 300
    edges = edges_powerlaw(n, m=3, seed=11)
    gdir = str(tmp_path / "graph")
    graph_from_numpy(spark, edges, n).write(gdir)
    common = [
        "run_kernel.py", "--graph", gdir, "--partitions", "8",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--run-id", "R",
    ]

    def run(*extra):
        argv_save, buf = sys.argv, StringIO()
        try:
            sys.argv = common + list(extra)
            with redirect_stdout(buf):
                run_kernel_main()
        finally:
            sys.argv = argv_save
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    out = str(tmp_path / "out")
    run("--kernel", "ppr", "--iterations", "2", "--output", out)
    summary = run(
        "--kernel", "ppr", "--iterations", "4", "--resume", "--output", out
    )
    assert summary["steps_run"] == 4
    # the restored round 2 plus steps 3-4 — not a rerun of steps 1-4
    assert len(summary["superstep_seconds"]) == 3
    got = np.zeros(n)
    for r in spark.read.parquet(out).collect():
        got[r["vid"]] = r["ppr"]
    seeds = [v for v in range(n) if v % 97 == 0]
    assert np.allclose(got, oracle_ppr(edges, n, seeds, num_iterations=4),
                       atol=1e-12)

    with pytest.raises(SystemExit) as exc:
        run("--kernel", "triangles", "--resume", "--output", out, "--run-id", "X")
    assert exc.value.code == 2  # argparse usage error
