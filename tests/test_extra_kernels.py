"""MST (Boruvka), deterministic coloring, GNN forward vs oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from planar_spark.ingest.pages import (
    edges_powerlaw,
    edges_ring,
    edges_simple4,
    edges_star_hub,
    edges_two_cliques,
)
from planar_spark.kernels.coloring import greedy_coloring
from planar_spark.kernels.gnn import gnn_forward, seeded_features, seeded_weights
from planar_spark.kernels.mst import boruvka_msf
from planar_spark.oracle.numpy_oracle import (
    oracle_coloring,
    oracle_gnn_forward,
    oracle_msf,
)

from tests.conftest import graph_from_numpy

MST_CASES = [
    ("simple4", edges_simple4(), 4),
    ("ring", edges_ring(30), 30),
    ("two_cliques", *edges_two_cliques(5, n_isolated=2)),
    ("powerlaw", edges_powerlaw(120, m=2, seed=3), 120),
]


@pytest.mark.parametrize("name,edges,n", MST_CASES, ids=[c[0] for c in MST_CASES])
def test_boruvka_msf_exact(spark, config, name, edges, n):
    g = graph_from_numpy(spark, edges, n)
    got = {(r["a"], r["b"]) for r in boruvka_msf(g, config).collect()}
    want = oracle_msf(edges)
    assert got == want


@pytest.mark.parametrize("name,edges,n", MST_CASES, ids=[c[0] for c in MST_CASES])
def test_boruvka_msf_weighted_vs_kruskal(spark, config, name, edges, n):
    """Real weights with HEAVY TIES ((a+b)%3+1): the (w, a, b) total
    order still makes the forest unique, so weighted Boruvka must equal
    weighted Kruskal edge-for-edge, weights included."""
    from planar_spark.oracle.numpy_oracle import oracle_msf_weighted

    g = graph_from_numpy(spark, edges, n)
    wfn = lambda a, b: (a + b) % 3 + 1  # noqa: E731
    und = g.undirected_edges()
    wdf = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        ((F.col("a") + F.col("b")) % 3 + 1).alias("w"),
    )
    got = {
        (r["a"], r["b"], r["w"])
        for r in boruvka_msf(g, config, weights=wdf).collect()
    }
    assert got == oracle_msf_weighted(edges, wfn)


def test_boruvka_msf_weighted_uncovered_edge_raises(spark, config):
    g = graph_from_numpy(spark, edges_ring(10), 10)
    partial = g.undirected_edges().where(F.col("a") > 2).select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(1).alias("w")
    )
    with pytest.raises(ValueError, match="cover every undirected edge"):
        boruvka_msf(g, config, weights=partial)


COLOR_CASES = [
    ("simple4", edges_simple4(), 4),
    ("ring", edges_ring(20), 20),
    ("two_cliques", *edges_two_cliques(4, n_isolated=2)),
    ("star", edges_star_hub(30), 30),
]


@pytest.mark.parametrize(
    "name,edges,n", COLOR_CASES, ids=[c[0] for c in COLOR_CASES]
)
def test_coloring_exact_and_proper(spark, config, name, edges, n):
    g = graph_from_numpy(spark, edges, n)
    rows = {r["vid"]: r["color"] for r in greedy_coloring(g, config).collect()}
    got = np.array([rows[v] for v in range(n)])
    want = oracle_coloring(edges, n)
    assert (got == want).all()
    # properness independently of the oracle
    und = {(int(a), int(b)) for a, b in edges if a != b}
    for a, b in und:
        assert got[a] != got[b]


def test_gnn_forward_matches_oracle(spark, config):
    dim, layers, n = 8, 2, 60
    edges = edges_powerlaw(n, m=2, seed=5)
    g = graph_from_numpy(spark, edges, n)
    feats = seeded_features(n, dim, seed=7)
    fdf = spark.createDataFrame(
        [(int(v), [float(x) for x in feats[v]]) for v in range(n)],
        schema="vid long, vec array<double>",
    )
    out = gnn_forward(g, fdf, num_layers=layers, dim=dim, seed=42, config=config)
    rows = {r["vid"]: np.array(r["vec"]) for r in out.collect()}
    got = np.stack([rows[v] for v in range(n)])
    want = oracle_gnn_forward(edges, feats, seeded_weights(dim, layers, seed=42))
    assert np.allclose(got, want, atol=1e-9)


def _py_kcore(edges: np.ndarray, k: int):
    """Pure-Python synchronous k-core peeling over the undirected
    closure: (surviving vertices, per-round frontier sizes, per-round
    distinct neighbours of the removed vertices)."""
    und = {(min(a, b), max(a, b)) for a, b in map(tuple, edges) if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    frontier_sizes, touched = [], []
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            return alive, frontier_sizes, touched
        frontier_sizes.append(len(drop))
        touched.append(len(set().union(*(adj[v] for v in drop))))
        alive -= drop


def test_k_core_matches_python_peeling(spark, config):
    """k-core vs a pure-Python reference on the power-law fixture."""
    from planar_spark.ingest.pages import edges_powerlaw
    from planar_spark.kernels.kcore import k_core

    k = 4
    pl = edges_powerlaw(200, m=3, seed=9)
    # two 8-cliques on fresh vids: degree 7 each -> they survive k=4
    cliq = [
        (a, b)
        for base in (200, 208)
        for a in range(base, base + 8)
        for b in range(a + 1, base + 8)
    ]
    edges = np.vstack([pl, np.array(cliq)])
    n = 216
    g = graph_from_numpy(spark, edges, n)
    got = {
        r["vid"]: r["in_core"] for r in k_core(g, k=k, config=config).collect()
    }
    alive, _, _ = _py_kcore(edges, k)
    assert 0 < len(alive) < n  # the fixture must exercise real peeling
    for v in range(n):
        assert got[v] == (1 if v in alive else 0), v


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_k_core_round_metrics_match_python(spark, config, aqe):
    """Per-round ``frontier_sizes`` and ``touched`` (distinct neighbours
    of each round's removed vertices) equal a Python count, whichever
    join strategy the planner picks (a merge join with AQE off stops
    reading its buffered side early)."""
    from planar_spark.ingest.pages import edges_powerlaw
    from planar_spark.kernels.kcore import k_core

    edges = edges_powerlaw(200, m=3, seed=9)
    g = graph_from_numpy(spark, edges, 200)
    m: dict = {}
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        got = {
            r["vid"]: r["in_core"]
            for r in k_core(g, k=4, config=config, metrics_out=m).collect()
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    alive, frontier_sizes, touched = _py_kcore(edges, 4)
    assert {v for v, c in got.items() if c} == alive
    assert m["rounds"] == len(frontier_sizes) >= 3
    assert m["frontier_sizes"] == frontier_sizes
    assert m["touched"] == touched


def test_k_core_raises_when_rounds_run_out(spark, config):
    """A 20-path needs 10 removal rounds at k=2; two rounds must fail
    loudly instead of returning an under-peeled core."""
    from planar_spark.kernels.kcore import k_core

    g = graph_from_numpy(spark, np.array([(i, i + 1) for i in range(19)]), 20)
    with pytest.raises(RuntimeError, match="max_rounds"):
        k_core(g, k=2, config=config, max_rounds=2)


def test_coloring_prio_overflow_safe_matches_bigint(spark):
    """_prio must equal (vid * 2654435761) mod 2^32 computed in
    arbitrary precision for vids far beyond the int64-product overflow
    point (~3.47e9) — the multi-billion-vertex scale case."""
    from pyspark.sql import functions as F

    from planar_spark.kernels.coloring import PRIO_MOD, PRIO_MULT, _prio

    vids = [0, 1, 7, 2**31, 3_470_000_000, 2**32 - 1, 2**32, 2**40 + 123,
            2**62 + 999_999_937]
    df = spark.createDataFrame([(v,) for v in vids], schema="vid long")
    got = {
        r["vid"]: r["p"]
        for r in df.select("vid", _prio(F.col("vid")).alias("p")).collect()
    }
    for v in vids:
        assert got[v] == (v * PRIO_MULT) % PRIO_MOD, v


def test_releaf_fallback_warns(spark):
    """A broken internal API must degrade LOUDLY (RuntimeWarning), not
    silently return the stats-inheriting checkpoint."""
    import pytest

    from planar_spark.graph.superstep import releaf

    df = spark.range(5).localCheckpoint()

    class _Boom:
        def queryExecution(self):
            raise RuntimeError("internal API moved")

    df._jdf = _Boom()
    with pytest.warns(RuntimeWarning, match="fast path unavailable"):
        out = releaf(df)
    assert out is df


def _py_ktruss(edges, k):
    """Brute-force reference: synchronous support peeling."""
    und = {tuple(sorted((int(a), int(b)))) for a, b in edges if a != b}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept = {
            (a, b)
            for a, b in und
            if len(adj[a] & adj[b]) >= k - 2
        }
        if kept == und:
            return und
        und = kept


def test_ktruss_matches_python_peeling(spark, config):
    from itertools import combinations

    from planar_spark.kernels.truss import k_truss
    from planar_spark.ingest.pages import edges_powerlaw
    from tests.conftest import graph_from_numpy

    edges = edges_powerlaw(120, m=4, seed=23)
    g = graph_from_numpy(spark, edges, 120)
    for k in (3, 4, 5):
        got = {(r["a"], r["b"]) for r in k_truss(g, k, config).collect()}
        assert got == _py_ktruss(edges, k), k
    # cascade fixture: a 5-clique with a pendant triangle chain — the
    # chain peels over MULTIPLE rounds
    cl = [(a, b) for a, b in combinations(range(5), 2)]
    chain = [(4, 5), (4, 6), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8)]
    ed = np.array(cl + chain)
    g2 = graph_from_numpy(spark, ed, 9)
    m: dict = {}
    got2 = {
        (r["a"], r["b"])
        for r in k_truss(g2, 4, config, metrics_out=m).collect()
    }
    assert got2 == _py_ktruss(ed, 4)
    assert m["rounds"] >= 2  # the chain actually cascaded


def _py_core_numbers(edges: np.ndarray) -> dict[int, int]:
    """Classic min-degree peeling core numbers on the undirected simple
    graph (batch-synchronous like the kernel: remove ALL deg<k each
    pass — core numbers are identical either way)."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        a, b = int(a), int(b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    k = 1
    while adj:
        doomed = [v for v, ns in adj.items() if len(ns) < k]
        if not doomed:
            k += 1
            continue
        for v in doomed:
            core[v] = k - 1
            for w in adj[v]:
                if w in adj and w != v:
                    adj[w].discard(v)
            del adj[v]
    return core


@pytest.mark.parametrize(
    "name,edges,n",
    [
        ("powerlaw", edges_powerlaw(150, m=3, seed=19), 150),
        ("two_cliques", *edges_two_cliques(6, n_isolated=3)),
        ("star", edges_star_hub(20), 20),
    ],
    ids=["powerlaw", "two_cliques", "star"],
)
def test_core_decomposition_matches_python(spark, config, name, edges, n):
    from planar_spark.kernels.kcore import core_decomposition, k_core

    g = graph_from_numpy(spark, edges, n)
    m: dict = {}
    got = {
        r["vid"]: r["core"]
        for r in core_decomposition(g, config, metrics_out=m).collect()
    }
    want = _py_core_numbers(edges)
    for v in range(n):
        assert got[v] == want.get(v, 0), (v, got[v], want.get(v, 0))
    # consistency with the fixed-k kernel: the max-core vertex set of
    # core_decomposition equals k_core's membership at k = max_core
    kmax = m["max_core"]
    if kmax >= 1:
        in_k = {
            r["vid"]
            for r in k_core(g, kmax, config).collect()
            if r["in_core"] == 1
        }
        assert {v for v, c in got.items() if c >= kmax} == in_k


def _py_truss_numbers(edges: np.ndarray) -> dict[tuple[int, int], int]:
    """Truss number per canonical edge by ascending-k peeling (batch
    removal per pass, like the kernel — truss numbers are unique)."""
    und = {tuple(sorted((int(a), int(b)))) for a, b in edges if a != b}

    def support(es):
        nbrs: dict[int, set[int]] = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        return {
            (a, b): len(nbrs[a] & nbrs[b]) for a, b in es
        }

    truss = {}
    alive = set(und)
    k = 3
    while alive:
        s = support(alive)
        doomed = [e for e in alive if s[e] < k - 2]
        if not doomed:
            k += 1
            continue
        for e in doomed:
            truss[e] = k - 1
            alive.discard(e)
    return truss


def test_truss_decomposition_matches_python(spark, config):
    from itertools import combinations

    from planar_spark.kernels.truss import k_truss, truss_decomposition

    cases = [
        edges_powerlaw(100, m=4, seed=29),
        np.array(
            [(a, b) for a, b in combinations(range(5), 2)]
            + [(4, 5), (4, 6), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8)]
        ),
    ]
    for edges in cases:
        n = int(edges.max()) + 1
        g = graph_from_numpy(spark, edges, n)
        m: dict = {}
        got = {
            (r["a"], r["b"]): r["truss"]
            for r in truss_decomposition(g, config, metrics_out=m).collect()
        }
        assert got == _py_truss_numbers(edges)
        # consistency: edges with truss >= kmax == k_truss(kmax) edge set
        kmax = m["max_truss"]
        if kmax >= 3:
            in_k = {
                (r["a"], r["b"])
                for r in k_truss(g, kmax, config).collect()
            }
            assert {e for e, t in got.items() if t >= kmax} == in_k


def test_ktruss_resume_equals_uninterrupted(spark, tmp_path):
    from planar_spark.config import EngineConfig
    from planar_spark.kernels.truss import k_truss
    from planar_spark.ingest.pages import edges_powerlaw
    from tests.conftest import graph_from_numpy

    edges = edges_powerlaw(120, m=4, seed=23)
    g = graph_from_numpy(spark, edges, 120)
    cfg = EngineConfig(
        num_partitions=8, tolerance=0.0, checkpoint_dir=str(tmp_path)
    )
    # pick a k whose cascade needs >1 round, crash after round 1
    m_full: dict = {}
    full = k_truss(g, 4, cfg, metrics_out=m_full)
    assert m_full["rounds"] > 1
    with __import__("pytest").raises(RuntimeError):
        k_truss(g, 4, cfg, max_rounds=1, run_id="kt1")
    m: dict = {}
    resumed = k_truss(g, 4, cfg, run_id="kt1", resume=True, metrics_out=m)
    a = sorted(tuple(r) for r in resumed.collect())
    b = sorted(tuple(r) for r in full.collect())
    assert a == b
    assert m["rounds"] >= m_full["rounds"]


def _py_densest(edges: np.ndarray, eps: float = 0.1):
    """Replicates the kernel's deterministic 2(1+eps) peeling exactly."""
    und = {tuple(sorted((int(a), int(b)))) for a, b in edges if a != b}
    best = None
    best_density = -1.0
    cur = set(und)
    while cur:
        verts = {v for e in cur for v in e}
        density = len(cur) / len(verts)
        if density > best_density:
            best_density, best = density, set(verts)
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        thresh = 2.0 * (1.0 + eps) * density
        keep = {v for v in verts if deg[v] > thresh}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    return best, best_density


def test_densest_subgraph_matches_python_and_finds_clique(spark, config):
    from planar_spark.kernels.densest import densest_subgraph

    # a 10-clique buried in a sparse powerlaw graph: the clique (or a
    # superset achieving >= its density) must be found
    from itertools import combinations

    sparse = edges_powerlaw(120, m=1, seed=31)
    clique = np.array(
        [(200 + a, 200 + b) for a, b in combinations(range(10), 2)]
    )
    bridge = np.array([(0, 200)])
    edges = np.vstack([sparse, clique, bridge])
    n = 210
    g = graph_from_numpy(spark, edges, n)
    m: dict = {}
    got = {
        r["vid"]
        for r in densest_subgraph(g, config, metrics_out=m).collect()
        if r["in_densest"] == 1
    }
    want_set, want_density = _py_densest(edges)
    assert got == want_set
    assert m["best_density"] == pytest.approx(want_density, abs=1e-6)
    # the 10-clique has density 4.5; the sparse part ~1 — the found
    # subgraph must reach at least the guaranteed 1/(2(1+eps)) of it
    assert m["best_density"] >= 4.5 / (2 * 1.1)
    assert set(range(200, 210)) <= got
