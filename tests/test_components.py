"""Connected components + LPA + triangles vs oracles (exact)."""

from __future__ import annotations

import numpy as np
import pytest

from planar_spark.ingest.pages import (
    edges_dangling_chain,
    edges_powerlaw,
    edges_ring,
    edges_simple4,
    edges_star_hub,
    edges_two_cliques,
)
from planar_spark.kernels import (
    connected_components,
    label_propagation,
    triangle_count,
    triangle_count_per_vertex,
)
from planar_spark.oracle import (
    oracle_components,
    oracle_lpa,
    oracle_triangle_count,
)

from tests.conftest import graph_from_numpy


def _labels_array(result, n):
    rows = {r["vid"]: r["label"] for r in result.state.collect()}
    return np.array([rows[v] for v in range(n)])


CASES = [
    ("simple4", edges_simple4(), 4),
    ("ring", edges_ring(64), 64),
    ("two_cliques", *edges_two_cliques(5, n_isolated=3)),
    ("dangling_chain", edges_dangling_chain(40), 40),
    ("powerlaw", edges_powerlaw(300, m=3, seed=42), 300),
]


@pytest.mark.parametrize("name,edges,n", CASES, ids=[c[0] for c in CASES])
def test_components_exact(spark, config, name, edges, n):
    g = graph_from_numpy(spark, edges, n)
    result = connected_components(g, config)
    assert result.converged
    got = _labels_array(result, n)
    want = oracle_components(edges, n)
    assert (got == want).all()


def test_components_with_contraction(spark, config):
    """Contract work-shrink (reference's MapAndMutateEdgeBool) preserves
    exact labels."""
    edges = edges_powerlaw(300, m=3, seed=42)
    g = graph_from_numpy(spark, edges, 300)
    result = connected_components(g, config, contract=True)
    assert result.converged
    got = _labels_array(result, 300)
    assert (got == oracle_components(edges, 300)).all()


def test_contract_without_pointer_jumping_raises(spark, config):
    """Contraction without pointer jumping is unsound, so it is refused
    with a ValueError (an ``assert`` would vanish under ``python -O``)."""
    g = graph_from_numpy(spark, edges_simple4(), 4)
    with pytest.raises(ValueError, match="pointer_jumping"):
        connected_components(g, config, contract=True, pointer_jumping=False)


def test_components_without_pointer_jumping(spark, config):
    edges, n = edges_two_cliques(5, n_isolated=2)
    g = graph_from_numpy(spark, edges, n)
    result = connected_components(g, config, pointer_jumping=False)
    got = _labels_array(result, n)
    assert (got == oracle_components(edges, n)).all()


def test_pointer_jumping_converges_faster(spark, config):
    n = 64
    g = graph_from_numpy(spark, edges_ring(n), n)
    fast = connected_components(g, config, pointer_jumping=True)
    assert fast.converged
    # on an ID-ORDERED ring the hash-min labels form long chains that
    # pointer jumping collapses exponentially (NOT a general O(log n)
    # claim — see the adversarial cycle test below)
    assert fast.steps_run <= 10


def _permuted_cycle(n: int, mult: int) -> np.ndarray:
    """A single n-cycle whose vertex ids are scrambled by v -> v*mult
    mod n (mult coprime to n): diameter n/2 with label-adversarial ids
    — the hash-min worst case (the component min roots immediately, so
    pointer jumping is a no-op and reach grows ~1 hop/round)."""
    return np.array(
        [((i * mult) % n, ((i + 1) * mult) % n) for i in range(n)],
        dtype=np.int64,
    )


def test_hashmin_is_diameter_bound_and_boruvka_mode_is_not(spark, config):
    """r6 find: hash-min + single-jump rounds are O(diameter) worst
    case. On a 331-vertex randomly-labeled cycle a 25-round budget
    must NOT converge (honesty check: if this starts passing, the
    kernel changed); algorithm="boruvka" converges to the exact
    union-find labels in O(log V) rounds on the same graph."""
    n, mult = 331, 119
    edges = _permuted_cycle(n, mult)
    want = oracle_components(edges, n)
    assert (want == 0).all()  # single component, sanity

    slow = connected_components(g := graph_from_numpy(spark, edges, n),
                                config, max_iterations=25)
    assert not slow.converged

    fast = connected_components(g, config, algorithm="boruvka")
    assert fast.converged
    assert fast.steps_run <= 10  # ~log2(331) Boruvka rounds
    got = _labels_array(fast, n)
    assert (got == want).all()


def test_auto_mode_falls_back_to_boruvka(spark, config):
    """auto = hashmin under budget, exact boruvka fallback on
    non-convergence — the production default for unknown diameter."""
    n, mult = 331, 119
    edges = _permuted_cycle(n, mult)
    r = connected_components(
        g := graph_from_numpy(spark, edges, n), config,
        max_iterations=10, algorithm="auto",
    )
    assert r.converged
    assert (_labels_array(r, n) == oracle_components(edges, n)).all()
    # low-diameter graph: auto must NOT pay the boruvka fallback
    g2 = graph_from_numpy(spark, edges_ring(64), 64)
    r2 = connected_components(g2, config, algorithm="auto")
    assert r2.converged and r2.metrics  # hashmin path (engine metrics)


def test_boruvka_mode_matches_oracle_on_standard_cases(spark, config):
    for name, edges, n in CASES:
        g = graph_from_numpy(spark, edges, n)
        r = connected_components(g, config, algorithm="boruvka")
        assert r.converged, name
        assert (_labels_array(r, n) == oracle_components(edges, n)).all(), name


@pytest.mark.parametrize(
    "name,edges,n",
    [c for c in CASES if c[0] != "powerlaw"],
    ids=[c[0] for c in CASES if c[0] != "powerlaw"],
)
def test_lpa_exact(spark, config, name, edges, n):
    rounds = 4
    g = graph_from_numpy(spark, edges, n)
    result = label_propagation(g, config, num_iterations=rounds)
    got = _labels_array(result, n)
    want = oracle_lpa(edges, n, rounds)
    assert (got == want).all()


TRI_CASES = [
    ("simple4", edges_simple4(), 2),  # {0,1,3} and {1,2,3} — FIXTURES.md §3
    ("ring", edges_ring(64), 0),
    ("two_cliques_5", edges_two_cliques(5)[0], 2 * 10),  # 2*C(5,3)
    ("two_cliques_50", edges_two_cliques(50)[0], 2 * 19600),  # 2*C(50,3)
    ("powerlaw", edges_powerlaw(300, m=3, seed=42), None),
    ("empty", np.zeros((0, 2), dtype=np.int64), 0),
    ("self_loops", np.array([(v, v) for v in range(5)]), 0),
    # triangle {0,1,2} given with duplicates and both directions, plus
    # a reciprocal pendant edge and a self-loop
    (
        "dup_reciprocal",
        np.array(
            [(0, 1), (0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2),
             (0, 2), (2, 3), (3, 2), (3, 3)]
        ),
        1,
    ),
]
HOSTILE_CASES = [
    c for c in TRI_CASES if c[0] in ("empty", "self_loops", "dup_reciprocal")
]


def _num_vertices(edges: np.ndarray) -> int:
    return int(edges.max()) + 1 if edges.size else 0


@pytest.mark.parametrize(
    "name,edges,expected", TRI_CASES, ids=[c[0] for c in TRI_CASES]
)
def test_triangle_count_exact(spark, config, name, edges, expected):
    g = graph_from_numpy(spark, edges, _num_vertices(edges))
    got = triangle_count(g, config)
    want = oracle_triangle_count(edges)
    if expected is not None:
        assert want == expected  # analytic cross-check of the oracle itself
    assert got == want


def test_triangle_count_releases_its_cache(spark, config):
    """triangle_count returns a plain int, so nothing it cached may
    outlive the call. Compared by RDD id, not count: the context
    cleaner may drop earlier tests' checkpoint RDDs mid-call."""
    g = graph_from_numpy(spark, edges_simple4(), 4)

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    assert triangle_count(g, config) == 2
    assert persistent_ids() - before == set()


def test_per_vertex_triangles_release_their_caches(spark, config):
    """triangle_count_per_vertex and local_clustering return an O(V)
    table; no edge table either call cached may outlive it."""
    from planar_spark.kernels.triangles import local_clustering

    g = graph_from_numpy(spark, edges_simple4(), 4)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for kernel in (triangle_count_per_vertex, local_clustering):
        rows = {r["vid"]: r["triangles"] for r in kernel(g, config).collect()}
        assert rows == {0: 1, 1: 2, 2: 1, 3: 2}
        assert cache.numCachedEntries() == before, kernel.__name__


@pytest.mark.parametrize(
    "edges", [c[1] for c in HOSTILE_CASES], ids=[c[0] for c in HOSTILE_CASES]
)
def test_hostile_inputs_lcc_and_ktruss(spark, config, edges):
    """The empty, self-loop-only and duplicate/reciprocal inputs through
    local_clustering and k_truss, against their python references."""
    from planar_spark.kernels.triangles import local_clustering
    from planar_spark.kernels.truss import k_truss
    from tests.test_extra_kernels import _py_ktruss
    from tests.test_hits import _py_lcc

    n = _num_vertices(edges)
    g = graph_from_numpy(spark, edges, n)
    rows = {r["vid"]: r for r in local_clustering(g, config).collect()}
    want = _py_lcc(edges, n)
    assert sorted(rows) == sorted(want)
    for v, (deg, tri, lcc) in want.items():
        assert (rows[v]["udeg"], rows[v]["triangles"]) == (deg, tri), v
        assert rows[v]["lcc"] == pytest.approx(lcc), v
    for k in (3, 4):
        truss = {(r["a"], r["b"]) for r in k_truss(g, k, config).collect()}
        assert truss == _py_ktruss(edges, k), k


def test_triangle_per_vertex(spark, config):
    edges = edges_simple4()
    g = graph_from_numpy(spark, edges, 4)
    rows = {
        r["vid"]: r["triangles"]
        for r in triangle_count_per_vertex(g, config).collect()
    }
    # triangles {0,1,3} and {1,2,3}: 1 and 3 are in both
    assert rows == {0: 1, 1: 2, 2: 1, 3: 2}


def test_components_two_hop_init_exact_and_fewer_steps(spark, config):
    """O14 two-hop-seeded init: identical labels, fewer supersteps on a
    long-diameter component."""
    edges = edges_ring(64)
    g = graph_from_numpy(spark, edges, 64)
    base = connected_components(g, config)
    seeded = connected_components(g, config, two_hop_init=True)
    assert seeded.converged
    assert (_labels_array(seeded, 64) == _labels_array(base, 64)).all()
    assert seeded.steps_run <= base.steps_run


def test_incremental_wcc_equals_full_recompute(spark, config):
    import numpy as np

    from planar_spark.kernels.components import incremental_wcc
    from planar_spark.oracle.numpy_oracle import oracle_components

    n = 150
    edges = edges_powerlaw(n, m=2, seed=29)
    # split: even-index edges are "old", odd-index are the delta
    old_e, new_e = edges[::2], edges[1::2]
    g_old = graph_from_numpy(spark, old_e, n)
    old_labels = connected_components(g_old, config).state
    ndf = spark.createDataFrame(
        [(int(s), int(d)) for s, d in new_e], "src long, dst long"
    )
    out = incremental_wcc(old_labels, ndf, config)
    got = np.full(n, -1, dtype=np.int64)
    for r in out.collect():
        got[r["vid"]] = r["label"]
    assert np.array_equal(got, oracle_components(edges, n))
    # no-op delta: labels pass through unchanged
    empty = spark.createDataFrame([], "src long, dst long")
    same = incremental_wcc(old_labels, empty, config)
    assert sorted((r["vid"], r["label"]) for r in same.collect()) == sorted(
        (r["vid"], r["label"]) for r in old_labels.select("vid", "label").collect()
    )


def test_incremental_wcc_chain_delta(spark, config):
    """r6 regression: a delta that daisy-chains many old components
    end-to-end makes the LABEL graph a long scrambled path — the
    hash-min CC it previously ran there stalls at O(diameter) rounds
    and returned silently-unconverged (wrong) labels. Boruvka mode
    must merge the whole chain exactly."""
    import numpy as np

    from planar_spark.kernels.components import incremental_wcc
    from planar_spark.oracle.numpy_oracle import oracle_components

    # 120 isolated 2-cliques (240 vertices): old labels = pair minima
    n = 240
    old_e = np.array([(2 * i, 2 * i + 1) for i in range(120)], dtype=np.int64)
    g_old = graph_from_numpy(spark, old_e, n)
    old_labels = connected_components(g_old, config).state
    # delta: scrambled chain linking all 120 components into one
    mult = 77  # coprime to 120
    new_e = np.array(
        [(2 * ((i * mult) % 120), 2 * (((i + 1) * mult) % 120) + 1)
         for i in range(119)],
        dtype=np.int64,
    )
    out = incremental_wcc(old_labels, spark.createDataFrame(
        [(int(s), int(d)) for s, d in new_e], "src long, dst long"), config)
    got = np.full(n, -1, dtype=np.int64)
    for r in out.collect():
        got[r["vid"]] = r["label"]
    want = oracle_components(np.concatenate([old_e, new_e]), n)
    assert (want == 0).all()  # one merged component, sanity
    assert np.array_equal(got, want)


def test_run_kernel_wcc_defaults_to_auto_on_scrambled_cycle(
    spark, tmp_path, config
):
    """Ship-path integration (r7): `run_kernel --kernel wcc` now
    defaults to algorithm=auto, so a high-diameter input (scrambled
    512-cycle, diameter 256 — hash-min stalls inside its 50-round
    budget) falls back to the Boruvka mode and can never silently
    under-merge in production."""
    import json
    import sys

    from pyspark.sql import functions as F

    from jobs.run_kernel import main as run_kernel_main
    from planar_spark.graph.tables import GraphTables

    n, mult = 512, 405  # mult coprime to 512 -> label-adversarial ids
    cyc = spark.range(n).select(
        ((F.col("id") * mult) % n).alias("src"),
        (((F.col("id") + 1) * mult) % n).alias("dst"),
    )
    g = GraphTables.from_edges(cyc, 8)
    gdir, odir = str(tmp_path / "graph"), str(tmp_path / "out")
    g.write(gdir)

    argv_save = sys.argv
    try:
        sys.argv = [
            "run_kernel.py", "--kernel", "wcc",
            "--graph", gdir, "--output", odir, "--partitions", "8",
        ]
        run_kernel_main()
    finally:
        sys.argv = argv_save
    labels = {
        r["vid"]: r["label"] for r in spark.read.parquet(odir).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}  # exact single component, min vid
