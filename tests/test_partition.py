"""Partitioner family: balance + correctness."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from planar_spark.graph.locality import vertex_parts
from planar_spark.ingest.pages import edges_powerlaw, edges_star_hub

from tests.conftest import graph_from_numpy


def _ring_of_cliques(n_cliques: int, clique_size: int) -> np.ndarray:
    """n_cliques cliques joined in a ring by one bridge edge each — the
    community-structured fixture where a locality-aware partitioner
    should approach zero cross-partition edges."""
    from itertools import combinations

    edges = []
    for c in range(n_cliques):
        base = c * clique_size
        edges += [(base + a, base + b) for a, b in combinations(range(clique_size), 2)]
        nxt = ((c + 1) % n_cliques) * clique_size
        edges.append((base, nxt))
    return np.array(edges)


def _range_buckets(g, P: int):
    """(src, dst, part): every edge in the T6 range bucket of its src."""
    vp = vertex_parts(g, "range", P)
    return g.edges.join(vp.select(F.col("vid").alias("src"), "part"), "src")


def _bucket_sizes(parted) -> list[int]:
    return [
        r["n"]
        for r in parted.groupBy("part").agg(F.count(F.lit(1)).alias("n")).collect()
    ]


def test_bfs_edge_cut_locality_balance_determinism(spark):
    """T3: BFS-grown regions on a ring of 8 cliques must (1) label every
    vertex, (2) be deterministic run-to-run, (3) beat hash vertex-cut on
    cross-partition edge fraction by a wide margin, and (4) stay
    balanced within the soft cap."""
    from planar_spark.graph.partition import bfs_grow_labels

    P, csize = 8, 20
    edges = _ring_of_cliques(P, csize)
    n = P * csize
    g = graph_from_numpy(spark, edges, n)

    lab1 = {r["vid"]: r["branch"] for r in bfs_grow_labels(g, P).collect()}
    lab2 = {r["vid"]: r["branch"] for r in bfs_grow_labels(g, P).collect()}
    assert lab1 == lab2  # deterministic
    assert len(lab1) == n  # every vertex labeled

    def cross(assign):
        e = g.edges
        return (
            e.select((assign("src") != assign("dst")).cast("int").alias("x"))
            .agg(F.avg("x")).collect()[0][0]
        )

    lab_df = spark.createDataFrame(
        [(v, b) for v, b in lab1.items()], "vid long, branch int"
    )
    # cross fraction via joins against the label table
    e = g.edges
    ls = lab_df.select(F.col("vid").alias("src"), F.col("branch").alias("bs"))
    ld = lab_df.select(F.col("vid").alias("dst"), F.col("branch").alias("bd"))
    bfs_cross = (
        e.join(ls, "src").join(ld, "dst")
        .select((F.col("bs") != F.col("bd")).cast("int").alias("x"))
        .agg(F.avg("x")).collect()[0][0]
    )
    hash_cross = cross(
        lambda c: F.pmod(F.xxhash64(c), F.lit(P))
    )
    # cliques are id-contiguous and seeds land one-per-clique region:
    # cross edges should be at most the ring bridges + slack, far under
    # hash's ~(1 - 1/P)
    assert bfs_cross < 0.25 < hash_cross, (bfs_cross, hash_cross)

    # balance: no branch exceeds the soft cap by more than one round
    from collections import Counter

    sizes = Counter(lab1.values())
    cap = int(n / P * 1.5) + 1
    assert max(sizes.values()) <= cap + csize, sizes


def test_bfs_vertex_cut_merges_and_preserves_edges(spark):
    """T4: branch-grow + greedy merge must label every vertex, produce
    ≤ P parts, balance the merged partitions, and beat hash on locality
    on the community fixture. Each edge goes to least(part(src),
    part(dst)) — the vertex-cut assignment."""
    P, csize = 4, 25
    edges = _ring_of_cliques(8, csize)  # 8 branches-worth of structure
    n = 8 * csize
    g = graph_from_numpy(spark, edges, n)
    vp = vertex_parts(g, "bfs_vertex_cut", P, branch_factor=2)
    ps = vp.select(F.col("vid").alias("src"), F.col("part").alias("p_src"))
    pd = vp.select(F.col("vid").alias("dst"), F.col("part").alias("p_dst"))
    parted = (
        g.edges.join(ps, "src")
        .join(pd, "dst")
        .select("src", "dst", F.least("p_src", "p_dst").alias("part"))
    )
    assert parted.count() == g.num_edges
    hist = _bucket_sizes(parted)
    assert len(hist) <= P
    mean = g.num_edges / P
    assert max(hist) <= 2.0 * mean, hist
    # locality: edges landing where src-part == dst-part dominate.
    # Measure the fraction of edges not in their src's home partition
    # (replicated border vertices) and require it far below hash's
    # ~(1 - 1/P).
    home = parted.groupBy("src").agg(F.min("part").alias("p1"))
    diff = (
        parted.join(home, "src")
        .select((F.col("part") != F.col("p1")).cast("int").alias("x"))
        .agg(F.avg("x")).collect()[0][0]
    )
    assert diff < 0.5  # most edges sit in their src's home partition


def test_balanced_range_partition_beats_naive_ranges(spark):
    """On a skewed graph, edge-balanced vid ranges must spread the hub's
    edges far better than equal-vid ranges would."""
    n = 400
    edges = edges_star_hub(n)  # vertex 0 carries half of all edges
    g = graph_from_numpy(spark, edges, n)
    hist = _bucket_sizes(_range_buckets(g, 4))
    # hub vertex 0 has (n-1) edges = half the total; a naive equal-vid
    # 4-way split puts ALL of them in partition 0 together with ~1/4 of
    # the spokes. The balanced split must cap the largest partition near
    # the hub's own (indivisible) share.
    assert max(hist) <= (n - 1) + n // 2  # hub share + slack
    # every edge accounted for
    assert sum(hist) == g.num_edges


def test_balanced_range_partition_uniform_graph(spark):
    edges = edges_powerlaw(500, m=3, seed=8)
    g = graph_from_numpy(spark, edges, 500)
    # the algorithmic property: per-BUCKET edge counts are even
    hist = _bucket_sizes(_range_buckets(g, 8))
    assert sum(hist) == g.num_edges
    ideal = g.num_edges / 8
    assert len(hist) == 8
    assert max(hist) <= 1.3 * ideal


def test_balanced_range_beats_hash_on_balance_and_locality(spark):
    """Evidence for the T3/T4-superseded-by-T6 claim (SURVEY §2.4): on
    the power-law fixture the edge-balanced contiguous-range split must
    beat hash vertex-cut on BOTH axes the BFS-grown reference
    partitioners optimize — per-partition edge balance and
    cross-partition edge fraction (locality). Real web graphs with
    url-sorted vids have far stronger range locality (same-host links
    are id-adjacent); preferential attachment gives the fixture only a
    weak version, so a win here is conservative."""
    from planar_spark.graph.partition import balanced_range_bounds

    n, P = 2000, 8
    g = graph_from_numpy(spark, edges_powerlaw(n, m=4, seed=7), n)
    b = balanced_range_bounds(g.edges, g.degrees, P).collect()

    def assign_range(col):
        expr = F.lit(P - 1)
        for r in sorted(b, key=lambda r: -r["part"]):
            expr = F.when(
                (F.col(col) >= r["lo"]) & (F.col(col) <= r["hi"]),
                F.lit(r["part"]),
            ).otherwise(expr)
        return expr

    e = g.edges

    def cross_fraction(src_part, dst_part):
        return (
            e.select((src_part != dst_part).cast("int").alias("x"))
            .agg(F.avg("x"))
            .collect()[0][0]
        )

    range_cross = cross_fraction(assign_range("src"), assign_range("dst"))
    hash_cross = cross_fraction(
        F.pmod(F.xxhash64("src"), F.lit(P)), F.pmod(F.xxhash64("dst"), F.lit(P))
    )
    assert range_cross < hash_cross, (range_cross, hash_cross)

    # balance: per-bucket edge counts
    range_hist = _bucket_sizes(_range_buckets(g, P))
    hash_hist = [
        r["n"]
        for r in e.groupBy(F.pmod(F.xxhash64("src"), F.lit(P)).alias("part"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    mean = g.num_edges / P
    assert max(range_hist) / mean <= max(hash_hist) / mean
    assert max(range_hist) / mean <= 1.1


def test_balanced_range_bounds_no_single_partition_exchange(spark):
    """The degree prefix-sum must be the distributed two-pass form: no
    stage of the bounds plan may funnel all rows through ONE partition
    (the classic global-Window.orderBy scale-killer)."""
    from planar_spark.graph.partition import balanced_range_bounds

    n = 300
    g = graph_from_numpy(spark, edges_powerlaw(n, m=3, seed=4), n)
    bounds = balanced_range_bounds(g.edges, g.degrees, 4)
    plan = bounds._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # and it still computes correct contiguous covering ranges
    rows = sorted(bounds.collect(), key=lambda r: r["part"])
    assert rows[0]["lo"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi"] < cur["lo"]


def _scrambled_ring(n_cliques: int, csize: int, seed: int = 7):
    """Ring-of-cliques with PERMUTED vertex ids: the community structure
    exists but has zero id-locality, so only a real relabel recovers it."""
    edges = _ring_of_cliques(n_cliques, csize)
    n = n_cliques * csize
    perm = np.random.RandomState(seed).permutation(n)
    return perm[edges], n


def test_with_partitioning_preserves_graph_and_wcc(spark, config):
    """with_partitioning('bfs_vertex_cut') must return an isomorphic
    graph (same V/E; edges map 1:1 through the returned vid mapping)
    and connected_components on the locality layout (block-pinned
    gather path) must induce the IDENTICAL component partition of the
    original vertex set."""
    from planar_spark.kernels.components import connected_components

    ed, n = _scrambled_ring(4, 8)
    g = graph_from_numpy(spark, ed, n)
    g2, mapping = g.with_partitioning("bfs_vertex_cut", num_partitions=4)
    assert g2.block_size and g2.block_size >= 1
    assert g2.num_vertices == g.num_vertices
    assert g2.num_edges == g.num_edges
    mp = {r["vid"]: r["new_vid"] for r in mapping.collect()}
    # new ids are a dense permutation
    assert sorted(mp.values()) == list(range(n))
    e2 = {(r["src"], r["dst"]) for r in g2.edges.collect()}
    assert {(mp[s], mp[d]) for s, d in ed if s != d} == e2

    def comp_partition(labels, inv=None):
        groups: dict[int, set] = {}
        for r in labels.collect():
            v = inv[r["vid"]] if inv else r["vid"]
            groups.setdefault(r["label"], set()).add(v)
        return sorted(
            (frozenset(s) for s in groups.values()), key=lambda s: min(s)
        )

    base = comp_partition(connected_components(g, config).state)
    inv = {nv: v for v, nv in mp.items()}
    loc = comp_partition(connected_components(g2, config).state, inv)
    assert base == loc


def test_locality_layout_shrinks_gather_fanin(spark, config):
    """The measurable locality win: on a scrambled ring of cliques the
    block-pinned sym table's gather fan-in (rows entering the
    groupBy(dst) shuffle = sum over partitions of distinct dst) must be
    a small multiple of V, while the hash layout's is ~parts*V."""
    from planar_spark.graph.locality import (
        block_pinned_sym,
        gather_fanin_rows,
    )

    ed, n = _scrambled_ring(8, 16)  # V=128, dense cliques
    g = graph_from_numpy(spark, ed, n)
    parts = 8
    sym_hash = g.symmetric_edges().repartition(parts, "src").persist()
    fan_hash = gather_fanin_rows(sym_hash)
    # T3 regions: one capped BFS region per clique (the locality the
    # T3 balance/determinism test above already proves); T4's greedy
    # size-only merge may interleave cliques within a part, so it is
    # not the fixture for a tight fan-in bound.
    g2, _ = g.with_partitioning(
        "bfs_edge_cut", num_partitions=parts, blocks_per_partition=1
    )
    sym_loc = block_pinned_sym(g2, parts).persist()
    fan_loc = gather_fanin_rows(sym_loc)
    sym_hash.unpersist()
    sym_loc.unpersist()
    # hash scatters each clique's edges across ~all partitions: fan-in
    # approaches parts*V; the region layout keeps each clique in ~one
    # block: fan-in ~V + ring bridges. Require a >=2x win and the
    # near-V absolute bound.
    assert fan_loc <= 2 * n, (fan_loc, n)
    assert fan_hash >= 2 * fan_loc, (fan_hash, fan_loc)


def test_pagerank_on_locality_layout_matches_plain(spark, config):
    """pagerank(with_partitioning(g)) mapped back through the relabel
    mapping must equal pagerank(g) — the r7 consumption contract for
    the BASELINE metric kernel (pagerank_locality driver gate)."""
    from planar_spark.kernels.pagerank import pagerank

    edges = edges_powerlaw(300, m=3, seed=5)
    g = graph_from_numpy(spark, np.array(edges), 300)
    plain = {
        r["vid"]: r["pr"]
        for r in pagerank(g, config, num_iterations=5).state.collect()
    }
    g2, mapping = g.with_partitioning("bfs_vertex_cut", num_partitions=8)
    r2 = pagerank(g2, config, num_iterations=5).state
    back = r2.join(
        mapping.select(F.col("new_vid").alias("vid"), F.col("vid").alias("ov")),
        "vid",
    ).select(F.col("ov").alias("vid"), "pr")
    got = {r["vid"]: r["pr"] for r in back.collect()}
    assert set(got) == set(plain)
    for v in plain:
        assert abs(got[v] - plain[v]) < 1e-12, (v, got[v], plain[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_ppr_and_hits_on_locality_layout_match_plain(spark, config):
    """r7: PPR and HITS consume with_partitioning layouts through the
    same block-pinned gather as pagerank — results mapped back through
    the relabel mapping must equal the plain runs."""
    from planar_spark.kernels.hits import hits
    from planar_spark.kernels.ppr import personalized_pagerank

    edges = edges_powerlaw(300, m=3, seed=6)
    g = graph_from_numpy(spark, np.array(edges), 300)
    g2, mapping = g.with_partitioning("bfs_vertex_cut", num_partitions=8)
    back = mapping.select(
        F.col("new_vid").alias("vid"), F.col("vid").alias("ov")
    )

    seeds = g.vertices.select("vid").where(F.col("vid") % 7 == 0)
    plain = {
        r["vid"]: r["ppr"]
        for r in personalized_pagerank(
            g, seeds, config, num_iterations=4
        ).state.collect()
    }
    seeds2 = (
        mapping.join(seeds, "vid").select(F.col("new_vid").alias("vid"))
    )
    got = {
        r["ov"]: r["ppr"]
        for r in personalized_pagerank(g2, seeds2, config, num_iterations=4)
        .state.join(back, "vid").select("ov", "ppr").collect()
    }
    assert set(got) == set(plain)
    for v in plain:
        assert abs(got[v] - plain[v]) < 1e-12, (v, got[v], plain[v])

    plain_h = {
        r["vid"]: (r["hub"], r["auth"])
        for r in hits(g, config, num_iterations=3).state.collect()
    }
    got_h = {
        r["ov"]: (r["hub"], r["auth"])
        for r in hits(g2, config, num_iterations=3)
        .state.join(back, "vid").select("ov", "hub", "auth").collect()
    }
    assert set(got_h) == set(plain_h)
    for v in plain_h:
        assert abs(got_h[v][0] - plain_h[v][0]) < 1e-12
        assert abs(got_h[v][1] - plain_h[v][1]) < 1e-12


def test_lpa_on_locality_layout_matches_plain(spark, config):
    """r7: LPA's gather pins by locality block on a with_partitioning
    graph. LPA labels are vids, so the relabeled run's labels must map
    back exactly through the mapping: label'(new(v)) == new(label(v))
    is NOT guaranteed (argmax ties break on label VALUE, which the
    relabel permutes) — so the check uses a tie-free fixture: disjoint
    cliques, where every vertex's argmax label is unique per round."""
    from planar_spark.kernels.lpa import label_propagation

    # 8 disjoint 6-cliques: LPA converges to min-vid per clique and no
    # round ever has an argmax tie between distinct counts... a clique
    # IS all-ties on counts (every neighbor label appears once), so the
    # min-label tie-break decides — and min commutes with the relabel
    # only if the mapping is monotone per clique. Instead, compare
    # PARTITION STRUCTURE: the grouping of vertices into equal-label
    # classes must be identical, which is relabel-invariant.
    edges = []
    for c in range(8):
        base = c * 6
        for i in range(6):
            for j in range(6):
                if i != j:
                    edges.append((base + i, base + j))
    g = graph_from_numpy(spark, np.array(edges), 48)
    g2, mapping = g.with_partitioning("bfs_vertex_cut", num_partitions=4)
    back = mapping.select(
        F.col("new_vid").alias("vid"), F.col("vid").alias("ov")
    )

    plain = {
        r["vid"]: r["label"]
        for r in label_propagation(g, config, num_iterations=3).state.collect()
    }
    got = {
        r["ov"]: r["label"]
        for r in label_propagation(g2, config, num_iterations=3)
        .state.join(back, "vid").select("ov", "label").collect()
    }
    assert set(got) == set(plain)

    def classes(d):
        inv = {}
        for v, l in d.items():
            inv.setdefault(l, set()).add(v)
        return sorted(tuple(sorted(s)) for s in inv.values())

    assert classes(got) == classes(plain)


def test_gather_layout_pins_before_splitting_hubs(spark, config):
    """graph/skew.py ``gather_edges`` picks one layout per gather. On a
    star whose hub is above the hub threshold, a with_partitioning graph
    takes the block-pinned table with no hub split, and pagerank and
    hits over it match their oracles; the same graph in the hash layout
    splits the hub off on both hits sides."""
    import dataclasses

    from planar_spark.graph.skew import gather_edges
    from planar_spark.kernels.hits import hits
    from planar_spark.kernels.pagerank import pagerank
    from planar_spark.oracle import oracle_pagerank
    from planar_spark.oracle.numpy_oracle import oracle_hits

    n = 400
    cfg = dataclasses.replace(
        config, hub_degree_threshold=50, locality_min_edges=0, tolerance=0.0
    )
    g = graph_from_numpy(spark, edges_star_hub(n), n)
    g2, _ = g.with_partitioning("bfs_vertex_cut", num_partitions=8)

    def layout(graph, side):
        gather = gather_edges(graph, cfg, side)
        found = (gather.block_size, gather.hubs and gather.hubs.ids)
        gather.release()
        return found

    assert g2.block_size
    assert layout(g2, "out") == layout(g2, "in") == (g2.block_size, None)
    assert layout(g, "out") == layout(g, "in") == (None, [0])

    edges2 = np.array([(r.src, r.dst) for r in g2.edges.collect()])
    pr = {r.vid: r.pr for r in pagerank(g2, cfg, num_iterations=10).state.collect()}
    want = oracle_pagerank(edges2, n, num_iterations=10)
    assert np.allclose([pr[v] for v in range(n)], want, atol=1e-9)
    rows = {r.vid: r for r in hits(g2, cfg, num_iterations=2).state.collect()}
    for col, want in zip(("hub", "auth"), oracle_hits(edges2, n, num_iterations=2)):
        assert np.allclose([rows[v][col] for v in range(n)], want, atol=1e-9), col


def test_locality_consumption_is_cost_aware(spark, config):
    """r8: block-pinned consumption only pays when the gather exchange
    is the bottleneck, so kernels consult config.locality_min_edges —
    below it a with_partitioning graph runs the PLAIN hash gather
    (identical results, no compound-key join); at 0 the pinned path is
    forced. Asserted on the superstep plan via the engine explain hook."""
    import dataclasses
    import os
    import tempfile

    from planar_spark.graph.locality import effective_block_size
    from planar_spark.kernels.pagerank import pagerank

    edges = edges_powerlaw(300, m=3, seed=9)
    g = graph_from_numpy(spark, np.array(edges), 300)
    g2, mapping = g.with_partitioning("bfs_vertex_cut", num_partitions=8)

    prod = dataclasses.replace(config, locality_min_edges=10_000_000)
    assert effective_block_size(g2, prod) is None  # tiny graph: fallback
    assert effective_block_size(g2, config) == g2.block_size  # pinned at 0

    def superstep_plan(cfg):
        with tempfile.TemporaryDirectory() as d:
            os.environ["SPARK_GRAFT_EXPLAIN_DIR"] = d
            try:
                r = pagerank(g2, cfg, num_iterations=2)
            finally:
                os.environ.pop("SPARK_GRAFT_EXPLAIN_DIR", None)
            steps = sorted(
                f for f in os.listdir(d) if f.startswith("pagerank_step")
            )
            with open(os.path.join(d, steps[-1])) as f:
                return r, f.read()

    r_fb, plan_fb = superstep_plan(prod)
    assert "sblk" not in plan_fb, "fallback must use the hash gather"
    r_pin, plan_pin = superstep_plan(config)
    assert "sblk" in plan_pin, "locality_min_edges=0 must pin the block path"
    # identical results either way
    a = {r["vid"]: r["pr"] for r in r_fb.state.collect()}
    b = {r["vid"]: r["pr"] for r in r_pin.state.collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12
