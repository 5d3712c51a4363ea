from __future__ import annotations

import numpy as np
import pytest

from planar_spark.ingest.pages import (
    edges_powerlaw,
    edges_simple4,
    edges_star_hub,
    edges_two_cliques,
)
from planar_spark.kernels.hits import hits
from planar_spark.oracle.numpy_oracle import oracle_hits
from tests.conftest import graph_from_numpy

HITS_CASES = [
    ("simple4", edges_simple4(), 4),
    ("star", edges_star_hub(30), 30),
    ("two_cliques", *edges_two_cliques(5, n_isolated=2)),
    ("powerlaw", edges_powerlaw(120, m=2, seed=3), 120),
]


@pytest.mark.parametrize("name,edges,n", HITS_CASES, ids=[c[0] for c in HITS_CASES])
def test_hits_matches_numpy(spark, config, name, edges, n):
    g = graph_from_numpy(spark, edges, n)
    rows = hits(g, config, num_iterations=4).state.collect()
    hub = np.zeros(n)
    auth = np.zeros(n)
    for r in rows:
        hub[r["vid"]] = r["hub"]
        auth[r["vid"]] = r["auth"]
    want_hub, want_auth = oracle_hits(edges, n, num_iterations=4)
    assert np.allclose(hub, want_hub, atol=1e-9)
    assert np.allclose(auth, want_auth, atol=1e-9)
    # L1 normalization holds
    assert abs(hub.sum() - 1.0) < 1e-9
    assert abs(auth.sum() - 1.0) < 1e-9


def test_ppr_matches_numpy_and_sums_to_one(spark, config):
    """A fixed 5-step run, and a ``tolerance=1e-3`` run that must stop
    early: each matches the oracle at its ``steps_run``. The early-stop
    run uses damping 0.5, so it converges in a few supersteps."""
    from planar_spark.config import EngineConfig
    from planar_spark.kernels.ppr import personalized_pagerank
    from planar_spark.oracle.numpy_oracle import oracle_ppr

    n = 120
    edges = edges_powerlaw(n, m=2, seed=5)
    g = graph_from_numpy(spark, edges, n)
    seeds = [0, 7, 50]
    sdf = g.spark.createDataFrame([(v,) for v in seeds], "vid long")
    early = EngineConfig(num_partitions=8, tolerance=1e-3, damping=0.5)
    for cfg, iters in [(config, 5), (early, 50)]:
        r = personalized_pagerank(g, sdf, cfg, num_iterations=iters)
        if cfg is early:
            assert r.converged and r.steps_run < iters
        got = np.zeros(n)
        for row in r.state.collect():
            got[row["vid"]] = row["ppr"]
        want = oracle_ppr(
            edges, n, seeds, damping=cfg.damping, num_iterations=r.steps_run
        )
        assert np.allclose(got, want, atol=1e-12)
        assert abs(got.sum() - 1.0) < 1e-9
        # non-seed vertex with no in-path from seeds stays at 0 only if
        # unreachable; seeds always retain restart mass
        assert all(got[v] > 0 for v in seeds)


def _py_lcc(edges, n) -> dict[int, tuple[int, int, float]]:
    """Independent python reference over the undirected simple graph:
    vid -> (udeg, triangles, lcc) for vids 0..n-1."""
    nbrs = {v: set() for v in range(n)}
    for s, d in edges:
        if s != d:
            nbrs[int(s)].add(int(d))
            nbrs[int(d)].add(int(s))
    out = {}
    for v in range(n):
        deg = len(nbrs[v])
        tri = sum(
            1
            for a in nbrs[v]
            for b in nbrs[v]
            if a < b and b in nbrs[a]
        )
        out[v] = (deg, tri, 2.0 * tri / (deg * (deg - 1)) if deg >= 2 else 0.0)
    return out


def test_local_clustering_matches_python(spark, config):
    from planar_spark.kernels.triangles import local_clustering

    edges = edges_powerlaw(100, m=3, seed=11)
    n = 100
    g = graph_from_numpy(spark, edges, n)
    rows = {r["vid"]: r for r in local_clustering(g, config).collect()}
    for v, (deg, tri, want) in _py_lcc(edges, n).items():
        assert rows[v]["udeg"] == deg
        assert rows[v]["triangles"] == tri
        assert rows[v]["lcc"] == pytest.approx(want)


def test_hits_star_semantics(spark, config):
    # Directed star hub->leaves only: the center is the only hub,
    # leaves are the only authorities.
    star = np.stack(
        [np.zeros(9, dtype=np.int64), np.arange(1, 10, dtype=np.int64)], axis=1
    )
    g = graph_from_numpy(spark, star, 10)
    rows = {r["vid"]: r for r in hits(g, config, num_iterations=2).state.collect()}
    assert rows[0]["hub"] == pytest.approx(1.0)
    assert rows[0]["auth"] == pytest.approx(0.0)
    for v in range(1, 10):
        assert rows[v]["auth"] == pytest.approx(1.0 / 9)
        assert rows[v]["hub"] == pytest.approx(0.0)
