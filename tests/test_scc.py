from __future__ import annotations

import numpy as np
import pytest

from planar_spark.ingest.pages import (
    edges_dangling_chain,
    edges_powerlaw,
    edges_ring,
    edges_two_cliques,
)
from planar_spark.kernels.scc import strongly_connected_components
from planar_spark.oracle.numpy_oracle import oracle_scc
from tests.conftest import graph_from_numpy


def bowtie_edges() -> tuple[np.ndarray, int]:
    """IN-tendril -> core cycle -> OUT-tendril, plus a disjoint 2-cycle
    and an isolated vertex: every bow-tie region in one fixture."""
    core = [(3, 4), (4, 5), (5, 3)]          # SCC {3,4,5}
    tendrils = [(0, 3), (1, 0), (5, 6), (6, 7)]  # in: 1->0->core, out
    pair = [(8, 9), (9, 8)]                  # SCC {8,9}
    return np.array(core + tendrils + pair, dtype=np.int64), 11  # 10 isolated


SCC_CASES = [
    ("bowtie", *bowtie_edges()),
    ("ring", edges_ring(17), 17),            # one big cycle = one SCC
    ("chain", edges_dangling_chain(12), 12),  # DAG: all singletons
    ("two_cliques", *edges_two_cliques(4, n_isolated=2)),
    ("powerlaw", edges_powerlaw(150, m=2, seed=13), 150),
]


@pytest.mark.parametrize("name,edges,n", SCC_CASES, ids=[c[0] for c in SCC_CASES])
def test_scc_matches_kosaraju(spark, config, name, edges, n):
    g = graph_from_numpy(spark, edges, n)
    rows = strongly_connected_components(g, config).collect()
    assert len(rows) == n  # every vertex assigned exactly once
    got = np.full(n, -1, dtype=np.int64)
    for r in rows:
        assert got[r["vid"]] == -1
        got[r["vid"]] = r["scc_id"]
    want = oracle_scc(edges, n)
    assert np.array_equal(got, want)


def test_bowtie_regions(spark, config):
    from planar_spark.kernels.scc import bowtie_regions

    edges, n = bowtie_edges()
    # add 1 -> 2: vertex 2 becomes a tendril off the IN region
    edges = np.concatenate([edges, np.array([[1, 2]], dtype=np.int64)])
    g = graph_from_numpy(spark, edges, n)
    got = {r["vid"]: r["region"] for r in bowtie_regions(g, config).collect()}
    want = {
        3: "core", 4: "core", 5: "core",
        0: "in", 1: "in",
        6: "out", 7: "out",
        2: "tendril",
        8: "disconnected", 9: "disconnected", 10: "disconnected",
    }
    assert got == want


def test_scc_metrics_shape(spark, config):
    edges, n = bowtie_edges()
    g = graph_from_numpy(spark, edges, n)
    m: dict = {}
    strongly_connected_components(g, config, metrics_out=m).collect()
    assert m["outer_rounds"] <= 4  # trim + one color/sweep round suffices


def test_scc_releases_edge_caches_on_raise(spark, config):
    """A coloring that runs out of max_inner raises; the two cached
    layouts of the active edge set must be released all the same.
    Counted as cache-manager entries: localCheckpoint leaves also count
    as persistent RDDs, so RDD ids would not tell."""
    n = 20
    edges = np.array([(i, (i + 1) % n) for i in range(n)])
    g = graph_from_numpy(spark, edges, n)
    g.edges.count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    # the min label needs n-1 rounds to travel round the cycle
    with pytest.raises(RuntimeError, match="coloring fixpoint"):
        strongly_connected_components(g, config, max_inner=3)
    assert cache.numCachedEntries() == before
