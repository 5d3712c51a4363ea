"""Kill/resume for the loop kernels outside tests/test_resume.py (msf,
scc, coloring, k-core, truss, betweenness, louvain, HyperBall). Each
test runs the kernel partially ("the crash"), resumes with a fresh call
pointing at the same run_id, and asserts the resumed result is
IDENTICAL to an uninterrupted run."""

from __future__ import annotations

import numpy as np
import pytest

from planar_spark.config import EngineConfig
from planar_spark.ingest.pages import edges_powerlaw

from tests.conftest import graph_from_numpy, killed_at


def _cfg(tmp_path) -> EngineConfig:
    return EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_msf_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.kernels.mst import boruvka_msf

    # two stars (centers 0 and 1) bridged leaf-to-leaf by (29, 49):
    # round 1 picks only star edges (the bridge loses the lexicographic
    # min to (0,29)/(1,49) at both endpoints), round 2 picks the bridge
    # — a guaranteed 2-round Boruvka so the crash really is partial.
    edges = np.array(
        [(0, leaf) for leaf in range(10, 30)]
        + [(1, leaf) for leaf in range(30, 50)]
        + [(29, 49)]
    )
    g = graph_from_numpy(spark, edges, 50)
    cfg = _cfg(tmp_path)
    # partial run ("the crash"): only 1 Boruvka round completes
    partial = boruvka_msf(g, cfg, max_rounds=1, run_id="msf1")
    assert partial.count() == 40  # the star edges, not yet the bridge
    # resume from the durable round-1 state
    m: dict = {}
    resumed = boruvka_msf(
        g, cfg, run_id="msf1", resume=True, metrics_out=m
    )
    full = boruvka_msf(g, cfg)
    assert resumed.count() == 41
    assert _rows(resumed) == _rows(full)
    assert m["rounds"] == 2  # counters restored AND advanced


def test_scc_resume_after_crash(spark, tmp_path):
    from planar_spark.kernels.scc import strongly_connected_components

    # cycle A (0-4) -> cycle B (5-9): needs 2 outer rounds (round 1
    # colors everything with min(A) but can only sweep cycle A).
    edges = np.array(
        [(i, (i + 1) % 5) for i in range(5)]
        + [(5 + i, 5 + (i + 1) % 5) for i in range(5)]
        + [(0, 5)]
    )
    g = graph_from_numpy(spark, edges, 10)
    cfg = _cfg(tmp_path)
    # the crash: max_outer=1 fails loudly AFTER round 1's checkpoint
    with pytest.raises(RuntimeError):
        strongly_connected_components(g, cfg, max_outer=1, run_id="scc1")
    m: dict = {}
    resumed = strongly_connected_components(
        g, cfg, run_id="scc1", resume=True, metrics_out=m
    )
    full = strongly_connected_components(g, cfg)
    assert _rows(resumed) == _rows(full)
    # resumed run did NOT redo round 1: total outer rounds includes the
    # restored counter, and both cycles are separate SCCs
    assert m["outer_rounds"] >= 2
    got = {r["vid"]: r["scc_id"] for r in resumed.collect()}
    assert all(got[v] == 0 for v in range(5))
    assert all(got[v] == 5 for v in range(5, 10))


def test_coloring_resume_identical_colors(spark, tmp_path):
    """Round numbers seed the proposal hash, so a resumed run must
    replay the exact same color sequence — bit-identical output."""
    from planar_spark.kernels.coloring import greedy_coloring

    edges = edges_powerlaw(150, m=3, seed=13)
    g = graph_from_numpy(spark, edges, 150)
    cfg = _cfg(tmp_path)
    # the crash: one round leaves vertices uncolored, which raises
    with pytest.raises(RuntimeError):
        greedy_coloring(g, cfg, max_rounds=1, run_id="col1")
    m: dict = {}
    resumed = greedy_coloring(
        g, cfg, run_id="col1", resume=True, metrics_out=m
    )
    full = greedy_coloring(g, cfg)
    assert _rows(resumed) == _rows(full)
    assert m["rounds"] > 1


def test_kcore_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.kernels.kcore import k_core

    # a path graph peels one vertex pair per round at k=2 — many rounds
    edges = np.array([(i, i + 1) for i in range(19)])
    g = graph_from_numpy(spark, edges, 20)
    cfg = _cfg(tmp_path)
    with pytest.raises(RuntimeError):
        k_core(g, k=2, config=cfg, max_rounds=2, run_id="kc1")
    m: dict = {}
    resumed = k_core(
        g, k=2, config=cfg, run_id="kc1", resume=True, metrics_out=m
    )
    full = k_core(g, k=2, config=cfg)
    assert _rows(resumed) == _rows(full)
    # path graph: nothing survives the 2-core
    assert resumed.where(resumed["in_core"] == 1).count() == 0
    assert len(m["frontier_sizes"]) == m["rounds"] and m["rounds"] > 2


def test_core_decomposition_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.kernels.kcore import core_decomposition

    # a 20-path peels one endpoint pair per round at level 2 (~10
    # removal rounds), so max_rounds=3 crashes mid-level AFTER durable
    # rounds 1-2 were sealed (checkpoint_every=1)
    edges = np.array([(i, i + 1) for i in range(19)])
    g = graph_from_numpy(spark, edges, 20)
    cfg = _cfg(tmp_path)
    with pytest.raises(RuntimeError):
        core_decomposition(g, cfg, max_rounds=3, run_id="cd1")
    m: dict = {}
    resumed = core_decomposition(
        g, cfg, run_id="cd1", resume=True, metrics_out=m
    )
    full = core_decomposition(g, cfg)
    assert _rows(resumed) == _rows(full)
    # a path has an empty 2-core: every vertex has core number 1
    assert {r["core"] for r in resumed.collect()} == {1}
    # the resumed run continued the peel, it did not restart round 0
    assert m["rounds"] == 10


def test_truss_decomposition_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.kernels.truss import truss_decomposition

    # band graph (i,i+1)+(i,i+2): a 3-truss whose level-4 peel takes
    # two removal rounds (the (i,i+2) edges, then the rest); the crash
    # at round 2 comes AFTER durable round 1 was sealed
    n = 12
    edges = np.array(
        [(i, i + 1) for i in range(n - 1)]
        + [(i, i + 2) for i in range(n - 2)]
    )
    g = graph_from_numpy(spark, edges, n)
    cfg = _cfg(tmp_path)
    with killed_at(2):
        truss_decomposition(g, cfg, run_id="td1")
    m: dict = {}
    resumed = truss_decomposition(
        g, cfg, run_id="td1", resume=True, metrics_out=m
    )
    full = truss_decomposition(g, cfg)
    assert _rows(resumed) == _rows(full)
    # the band graph is a maximal 3-truss: every edge gets truss 3
    assert {r["truss"] for r in resumed.collect()} == {3}
    assert resumed.count() == len(edges)
    assert m["rounds"] >= 2  # counters restored AND advanced


def test_loop_ckpt_ignores_incomplete_round(spark, tmp_path):
    """A round dir without its completion marker (killed mid-write)
    must be invisible to latest()."""
    import os
    import shutil

    from planar_spark.graph.superstep import RoundStore
    from planar_spark.kernels.mst import boruvka_msf

    edges = edges_powerlaw(120, m=2, seed=3)
    g = graph_from_numpy(spark, edges, 120)
    cfg = _cfg(tmp_path)
    boruvka_msf(g, cfg, max_rounds=1, run_id="msfX")
    base = os.path.join(str(tmp_path), "msf", "msfX")
    src = os.path.join(base, "round=00001")
    dst = os.path.join(base, "round=00002")
    shutil.copytree(src, dst)
    os.remove(os.path.join(dst, "_META.json"))
    ck = RoundStore(spark, cfg, "msf", run_id="msfX")
    found = ck.latest()
    assert found is not None and found[0] == 1


def test_betweenness_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.kernels.betweenness import betweenness

    edges = np.array(
        [(int(a), int(b)) for a, b in edges_powerlaw(60, m=2, seed=13)]
    )
    g = graph_from_numpy(spark, edges, 60)
    cfg = _cfg(tmp_path)
    srcs = [0, 1, 2, 3]

    full_m: dict = {}
    full = {
        r["vid"]: r["bc"]
        for r in betweenness(
            g, sources=srcs, estimate=False, config=cfg, metrics_out=full_m
        ).collect()
    }
    depth = full_m["depth"]
    assert depth >= 2  # the crash points below must be genuinely partial

    # crash mid-FORWARD: round r expands BFS depth r, so a kill at
    # round 2 resumes from depth 1
    with killed_at(2):
        betweenness(
            g, sources=srcs, estimate=False, config=cfg, run_id="bw1"
        )
    res_m: dict = {}
    resumed = {
        r["vid"]: r["bc"]
        for r in betweenness(
            g, sources=srcs, estimate=False, config=cfg,
            run_id="bw1", resume=True, metrics_out=res_m,
        ).collect()
    }
    assert res_m["depth"] == depth
    assert set(resumed) == set(full)
    for v in full:
        assert abs(resumed[v] - full[v]) < 1e-9, (v, resumed[v], full[v])

    # crash mid-BACKWARD: rounds 1..depth+1 are the forward phase (the
    # last finds the empty frontier) and round depth+2 accumulates the
    # first of the depth >= 2 backward levels, so a kill at depth+3
    # resumes from inside the backward phase
    with killed_at(depth + 3):
        betweenness(
            g, sources=srcs, estimate=False, config=cfg, run_id="bw2"
        )
    resumed2 = {
        r["vid"]: r["bc"]
        for r in betweenness(
            g, sources=srcs, estimate=False, config=cfg,
            run_id="bw2", resume=True,
        ).collect()
    }
    for v in full:
        assert abs(resumed2[v] - full[v]) < 1e-9, (v, resumed2[v], full[v])


def test_louvain_resume_equals_uninterrupted(spark, tmp_path):
    """Crash mid-move-phase (at combined round 3); the resume must
    finish with communities identical to an uninterrupted run (the
    gating hash consumes the restored in-level round counter, so any
    drift would change move parity). The level-boundary crash is
    test_louvain_resume_at_level_boundary."""
    from planar_spark.kernels.louvain import louvain

    edges = edges_powerlaw(60, m=2, seed=13)
    g = graph_from_numpy(spark, edges, 60)
    cfg = _cfg(tmp_path)
    cfg = EngineConfig(**{**cfg.__dict__, "checkpoint_every": 2})

    # reference run: NO checkpointing (separate config) — just truth
    nockpt = EngineConfig(num_partitions=8, tolerance=0.0)
    full = {
        r["vid"]: r["community"]
        for r in louvain(g, nockpt).collect()
    }

    # crash at combined move round 3 (mid level-0 move phase; the
    # newest completed checkpoint is round 2, so the resume replays
    # round 3 — replay determinism is part of what's asserted)
    with killed_at(3):
        louvain(g, cfg, run_id="lv1")
    resumed = {
        r["vid"]: r["community"]
        for r in louvain(g, cfg, run_id="lv1", resume=True).collect()
    }
    assert resumed == full


def test_louvain_resume_at_level_boundary(spark, tmp_path):
    """Two 8-cliques move for 6 rounds on level 0, so round 7 is the
    level boundary (compose the assignment, contract the graph). A
    crash at round 7 replays the boundary from round 6; a crash at
    round 8 then resumes from the sealed boundary round, re-deriving
    the level-1 tables from the restored contracted edges. The result
    must match the pure-python replica, and the restored per-level
    counters must continue."""
    from planar_spark.ingest.pages import edges_two_cliques
    from planar_spark.kernels.louvain import louvain

    from tests.test_louvain import _py_louvain

    edges, n = edges_two_cliques(8, n_isolated=0)
    g = graph_from_numpy(spark, np.asarray(edges), n)
    cfg = _cfg(tmp_path)
    with killed_at(7):
        louvain(g, cfg, run_id="lvb")
    with killed_at(8):
        louvain(g, cfg, run_id="lvb", resume=True)
    m: dict = {}
    got = {
        r["vid"]: r["community"]
        for r in louvain(
            g, cfg, run_id="lvb", resume=True, metrics_out=m
        ).collect()
    }
    assert got == _py_louvain(edges, n)
    assert m["move_rounds"] == [6, 2]


def test_resume_from_another_layout_names_the_missing_table(
    spark, tmp_path
):
    """A round without a ``state`` table (the layout these loops wrote
    before they ran on the engine) fails loudly, naming what is
    missing."""
    from pyspark.sql import functions as F

    from planar_spark.graph.superstep import RoundStore
    from planar_spark.kernels.mst import boruvka_msf

    g = graph_from_numpy(spark, np.array([(0, 1), (1, 2)]), 3)
    cfg = _cfg(tmp_path)
    labels = g.vertices.select("vid", F.col("vid").alias("label"))
    RoundStore(spark, cfg, "msf", run_id="old").save(1, {"labels": labels})
    with pytest.raises(ValueError, match=r"msf: run 'old' round 1 .*'state'"):
        boruvka_msf(g, cfg, run_id="old", resume=True)


def test_hyperball_resume_equals_uninterrupted(spark, tmp_path):
    """The 100 TB diameter path (r7): kill the HLL sweep after radius 2
    of 4, resume with the same run_id — the restored binary sketches
    must produce estimates identical to an uninterrupted radius-4 run
    (HLL unions are deterministic, so equality is exact)."""
    from pyspark.sql import functions as F

    from planar_spark.kernels.hyperball import hyperball

    edges = edges_powerlaw(200, m=2, seed=3)
    g = graph_from_numpy(spark, np.asarray(edges), 200)
    cfg = _cfg(tmp_path)

    partial = hyperball(g, 2, cfg, run_id="hb1")
    # the crash really was partial: radius-2 balls are strictly smaller
    full = hyperball(g, 4, EngineConfig(num_partitions=8))
    p_sum = partial.agg(F.sum("nf_est")).collect()[0][0]
    f_sum = full.agg(F.sum("nf_est")).collect()[0][0]
    assert p_sum < f_sum

    resumed = hyperball(g, 4, cfg, run_id="hb1", resume=True)
    assert _rows(resumed) == _rows(full)


def test_hyperball_centralities_resume_equals_uninterrupted(
    spark, tmp_path
):
    """Same contract for the accumulator variant: prev_est/h/dist_total
    /ecc all live in the durable state table, so the resumed harmonic/
    closeness/ecc estimates must be exactly the uninterrupted ones."""
    from planar_spark.kernels.hyperball import hyperball_centralities

    edges = edges_powerlaw(200, m=2, seed=7)
    g = graph_from_numpy(spark, np.asarray(edges), 200)
    cfg = _cfg(tmp_path)

    hyperball_centralities(g, 2, cfg, run_id="hbc1")
    resumed = hyperball_centralities(
        g, 4, cfg, run_id="hbc1", resume=True
    )
    full = hyperball_centralities(g, 4, EngineConfig(num_partitions=8))
    assert _rows(resumed) == _rows(full)


def test_nf_profile_resume_reports_full_curve(spark, tmp_path):
    """hyperball_nf_profile's driver-side accumulators (profile,
    round_secs) ride the round metadata: killed after radius 2 of 4 and
    resumed, the returned curve must contain ALL radii 0..4 with the
    uninterrupted run's values — and effective_diameter_approx resumed
    through it must match exactly."""
    from planar_spark.kernels.hyperball import (
        effective_diameter_approx,
        hyperball_nf_profile,
    )

    edges = edges_powerlaw(200, m=2, seed=5)
    g = graph_from_numpy(spark, np.asarray(edges), 200)
    cfg = _cfg(tmp_path)

    part = hyperball_nf_profile(g, 2, cfg, run_id="nf1")
    assert part.count() == 3  # radii 0..2 only — a real partial run
    m: dict = {}
    resumed = hyperball_nf_profile(
        g, 4, cfg, run_id="nf1", resume=True, metrics_out=m
    )
    full = hyperball_nf_profile(g, 4, EngineConfig(num_partitions=8))
    assert _rows(resumed) == _rows(full)
    assert len(m["round_secs"]) == 4  # secs from BOTH halves reported

    eff_r = effective_diameter_approx(
        g, 4, config=cfg, run_id="nf1", resume=True
    )
    eff_f = effective_diameter_approx(g, 4, config=EngineConfig(num_partitions=8))
    assert _rows(eff_r) == _rows(eff_f)
