"""Resume-from-checkpoint and skew-path correctness (FIXTURES.md §5)."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pytest

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import gather_join, split_hubs, top_hubs
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
from planar_spark.oracle.numpy_oracle import oracle_hits, oracle_ppr

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


def _run_hits_hubs(g, cfg, steps, engine, resume=False):
    # threshold 30 on edges_powerlaw(300, m=3, seed=11): six in-degree
    # hubs split off the reversed table; no out-degree exceeds 3
    return _run_hits(
        g, replace(cfg, hub_degree_threshold=30), steps, engine, resume
    )


ENGINE_KERNELS = [
    # (kernel, runner, steps before the crash, steps asked on resume)
    ("pagerank", _run_pagerank, 4, 10),
    ("label_propagation", _run_lpa, 2, 5),
    ("bfs_sssp", _run_bfs, 2, 100),
    ("ppr", _run_ppr, 2, 5),
    ("hits", _run_hits, 2, 4),
    ("hits_hubs", _run_hits_hubs, 2, 4),
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


def test_resume_from_the_init_round_runs_the_steps(spark, tmp_path):
    """A crash before the first due round leaves only round 0, whose
    meta reports no metrics; resuming from it must run the supersteps,
    not read the missing frontier size as a finished BFS."""
    edges = edges_powerlaw(300, m=3, seed=11)
    g = graph_from_numpy(spark, edges, 300)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path),
        checkpoint_every=5,
    )
    partial = _run_bfs(g, cfg, 3, SuperstepEngine(spark, cfg, "sssp", "runI"))
    assert not partial.converged
    resumed = _run_bfs(
        g, cfg, 100, SuperstepEngine(spark, cfg, "sssp", "runI"), resume=True
    )
    full = _run_bfs(g, cfg, 100, SuperstepEngine(spark, cfg, "sssp", "runJ"))
    assert full.converged and full.steps_run > 3
    assert resumed.converged
    assert resumed.steps_run == full.steps_run
    assert _state_rows(resumed) == _state_rows(full)


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
    """The hub-split gather (non-hub edges merge-joined, the hub's edges
    projected from the split table through its observed value) must
    produce the plain gather's aggregates."""
    from pyspark.sql import functions as F

    n = 500
    edges = edges_star_hub(n)  # vertex 0 has out-degree n-1: a hub
    g = graph_from_numpy(spark, edges, n)
    cfg = EngineConfig(num_partitions=8, hub_degree_threshold=50)
    state = g.degrees.withColumn("pr", F.lit(1.0 / n))
    live = state.select("vid", (F.col("pr") / F.col("out_deg")).alias("x"))
    ids = [r.vid for r in top_hubs(g.degrees, cfg.hub_degree_threshold).collect()]
    assert ids == [0]  # the star hub
    split = split_hubs(g.edges, ids, cfg.num_partitions)
    plain = gather_join(g.edges, live).groupBy("dst").agg(F.sum("x").alias("c"))
    got = live.agg(split.observed(F.col("x"))).first()
    hub_split = (
        gather_join(split.rest, live).select("dst", "x")
        .unionByName(split.contribs(got))
        .groupBy("dst").agg(F.sum("x").alias("c"))
    )
    a = sorted((r["dst"], round(r["c"], 12)) for r in plain.collect())
    b = sorted((r["dst"], round(r["c"], 12)) for r in hub_split.collect())
    assert a == b


def _two_hubs_with_repeated_links() -> tuple[np.ndarray, int]:
    """A power-law graph plus two out-hubs above 50 whose links repeat:
    vertex 5 links every third vertex twice, vertex 7 every fourth
    vertex three times."""
    n = 200
    base = edges_powerlaw(n, m=2, seed=3)
    extra = [(5, v) for v in range(0, n, 3) if v != 5] * 2
    extra += [(7, v) for v in range(1, n, 4) if v != 7] * 3
    return np.concatenate([base, np.array(extra, dtype=np.int64)]), n


def test_pagerank_with_salting_matches_oracle(spark, tmp_path):
    """Force the hub path end-to-end against the oracles: pagerank,
    personalized pagerank and hits on the star (vertex 0 is an out-hub
    and an in-hub) and on two hubs with repeated links (the split's
    ``mult`` and its hub-value map), plus a pagerank stopped at step 2
    and resumed to 5 (the hub values of a resumed checkpoint)."""
    cfg = EngineConfig(num_partitions=8, tolerance=0.0, hub_degree_threshold=50)
    ckpt = replace(cfg, checkpoint_dir=str(tmp_path))

    def resumed_pagerank(g):
        pagerank(g, ckpt, num_iterations=2,
                 engine=SuperstepEngine(spark, ckpt, "pagerank", "R"))
        return pagerank(g, ckpt, num_iterations=5, resume=True,
                        engine=SuperstepEngine(spark, ckpt, "pagerank", "R"))

    def hits_oracle(edges, n):
        hub, auth = oracle_hits(edges, n, num_iterations=2)
        return {"hub": hub, "auth": auth}

    star = edges_star_hub(400)
    hubs2, n2 = _two_hubs_with_repeated_links()
    seeds = [0, 3, 150]
    sdf = spark.createDataFrame([(v,) for v in seeds], "vid long")
    # (edges, n, out-hubs by degree, [(run, oracle columns)])
    for edges, n, hub_ids, cases in [
        (star, 400, [0], [
            (lambda g: pagerank(g, cfg, num_iterations=10),
             lambda: {"pr": oracle_pagerank(star, 400, num_iterations=10)}),
            (lambda g: personalized_pagerank(g, sdf, cfg, num_iterations=5),
             lambda: {"ppr": oracle_ppr(star, 400, seeds, num_iterations=5)}),
            (lambda g: hits(g, cfg, num_iterations=2),
             lambda: hits_oracle(star, 400)),
            (resumed_pagerank,
             lambda: {"pr": oracle_pagerank(star, 400, num_iterations=5)}),
        ]),
        (hubs2, n2, [7, 5], [
            (lambda g: pagerank(g, cfg, num_iterations=3),
             lambda: {"pr": oracle_pagerank(hubs2, n2, num_iterations=3)}),
            (lambda g: personalized_pagerank(g, sdf, cfg, num_iterations=3),
             lambda: {"ppr": oracle_ppr(hubs2, n2, seeds, num_iterations=3)}),
            (lambda g: hits(g, cfg, num_iterations=2),
             lambda: hits_oracle(hubs2, n2)),
        ]),
    ]:
        g = graph_from_numpy(spark, edges, n)
        assert [r.vid for r in top_hubs(g.degrees, 50).collect()] == hub_ids
        for run, oracle in cases:
            rows = {r["vid"]: r for r in run(g).state.collect()}
            for value, want in oracle().items():
                got = np.array([rows[v][value] for v in range(n)])
                assert np.allclose(got, want, atol=1e-6), (n, value)


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
