"""Locality-aware layout: region-major relabel + block-pinned gathers.

This is how the reference's locality-first partitioners (T3/T4,
tools/graph_partitioner/partitioner/bfs_based_edgecut.cpp and
csr_based_planar_vertexcut.cpp) become USABLE inside Spark's execution
model. A raw "edges bucketed by BFS region" layout is useless to a
DataFrame kernel: every equi-join on src re-shuffles to hash(src) and
destroys the layout. The Spark-native re-expression is two moves:

1. **Region-major relabel**: assign new dense vertex ids ordered by
   (region, old_vid) — the same distributed dense-rank as
   ingest/build.py's dictionary_encode (per-partition offsets, never a
   global window) — so a BFS region becomes a CONTIGUOUS id range and
   ``blk = vid div block_size`` is a pure column expression that names
   a locality block. (The reference does the same thing physically:
   its partitioner writes region-local CSR blocks with remapped ids,
   graph_converter.cpp:126-144.)

2. **Block-pinned gather**: cache the kernel's edge table partitioned
   by hash(sblk) and join state on the compound key
   ``(sblk = vblk) AND (src = vid)``. HashPartitioning(sblk) satisfies
   the join's ClusteredDistribution (subset key), so the edge side is
   never re-shuffled — the same zero-edge-exchange pinning the engine
   already proves for hash(src) — while the join OUTPUT now lives in
   region-pinned partitions. That is where the locality pays: the
   map-side partial aggregation of the gather's groupBy(dst) emits one
   row per (physical partition, distinct dst); with hash(src) layout a
   popular dst appears in ~every partition (fan-in ~min(E, parts*V)
   rows into the shuffle), with a region layout its in-neighbors are
   concentrated in ~its own block (fan-in ~V + cut_edges). The
   reduction factor is exactly the replication factor T4 minimizes —
   measured per bench run as wcc_gather_fanin_{hash,bfs} and asserted
   on a ring-of-cliques fixture in tests/test_partition.py.

``block_size`` makes blocks FINER than regions (blocks_per_partition
blocks per target partition, default 8): hash(sblk) over ~8*parts
consecutive block ids fills every partition (32 block ids into 32
partitions would leave ~1/e of them empty by birthday collision),
costing nothing in locality because an id-contiguous sub-block of a
region is still region-local.

Driver traffic: one ≤num_partitions-row collect for the rank offsets
(same budget as dictionary_encode); the BFS growth itself reports
≤num_branches scalars per round (partition.py module doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def vertex_parts(graph, strategy: str, num_partitions: int, **kw) -> DataFrame:
    """(vid, part) for every vertex under a T-family strategy:
    ``bfs_vertex_cut`` (T4 grow+merge), ``bfs_edge_cut`` (T3 capped
    region growth), ``range`` (T6 balanced edge ranges), or ``hash``
    (the null layout, for A/B comparisons)."""
    from planar_spark.graph.partition import (
        balanced_range_bounds,
        bfs_grow_labels,
        bfs_vertex_cut_labels,
    )

    if strategy == "bfs_vertex_cut":
        return bfs_vertex_cut_labels(graph, num_partitions, **kw)
    if strategy == "bfs_edge_cut":
        return bfs_grow_labels(graph, num_partitions, **kw).select(
            "vid", F.col("branch").alias("part")
        )
    if strategy == "range":
        bounds = balanced_range_bounds(
            graph.edges, graph.degrees, num_partitions
        )
        if bounds is None:
            return graph.vertices.select("vid", F.lit(0).alias("part"))
        b = F.broadcast(bounds.select("part", "lo", "hi"))
        v = graph.vertices.select("vid")
        return v.join(
            b, (v["vid"] >= b["lo"]) & (v["vid"] <= b["hi"]), "left"
        ).select("vid", F.coalesce("part", F.lit(0)).alias("part"))
    if strategy == "hash":
        return graph.vertices.select(
            "vid", F.pmod(F.hash("vid"), F.lit(num_partitions)).alias("part")
        )
    raise ValueError(f"unknown partitioning strategy: {strategy}")


def region_major_mapping(
    parts_df: DataFrame, num_partitions: int
) -> DataFrame:
    """(vid, new_vid): dense 0..V-1 ids ordered by (part, vid), so each
    part is a contiguous new-id range. Distributed dense rank — range-
    partition by the sort key, per-partition offsets (≤num_partitions
    scalars to the driver), partition-LOCAL row_number; never a global
    single-partition window (same pattern as dictionary_encode and
    balanced_range_bounds)."""
    from pyspark.sql import Window as W

    from planar_spark.graph.superstep import materialize

    d = materialize(
        parts_df.select("vid", "part")
        .repartitionByRange(num_partitions, "part", "vid")
        .sortWithinPartitions("part", "vid")
        .withColumn("pid", F.spark_partition_id())
    )
    counts = {
        r["pid"]: int(r["n"])
        for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        spark = parts_df.sparkSession
        return spark.createDataFrame([], schema="vid long, new_vid long")
    off = F.broadcast(
        parts_df.sparkSession.createDataFrame(
            offsets, schema="pid int, off long"
        )
    )
    w = W.partitionBy("pid").orderBy("part", "vid")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .join(off, "pid")
        .select("vid", (F.col("off") + F.col("rn") - 1).alias("new_vid"))
    )


def with_partitioning(
    graph,
    strategy: str = "bfs_vertex_cut",
    num_partitions: int = 32,
    blocks_per_partition: int = 8,
    **kw,
):
    """Rebuild ``graph`` in a locality layout: (new GraphTables with
    ``block_size`` set, mapping(vid, new_vid)).

    The new graph is a standard GraphTables — every kernel runs on it
    unchanged (edges re-hash-partitioned by the NEW src ids) — and
    layout-aware kernels (connected_components) read ``block_size`` to
    switch their gather to the block-pinned join documented in the
    module doc. Results carry new ids; invert through the mapping.
    """
    from planar_spark.graph.tables import GraphTables

    parts_df = vertex_parts(graph, strategy, num_partitions, **kw)
    mapping = region_major_mapping(parts_df, num_partitions).persist()
    ms = mapping.select(F.col("vid").alias("src"), F.col("new_vid").alias("_ns"))
    md = mapping.select(F.col("vid").alias("dst"), F.col("new_vid").alias("_nd"))
    edges2 = (
        graph.edges.join(ms, "src")
        .join(md, "dst")
        .select(F.col("_ns").alias("src"), F.col("_nd").alias("dst"))
    )
    verts2 = mapping.select(
        F.lit(None).cast("string").alias("url"), F.col("new_vid").alias("vid")
    )
    g2 = GraphTables.from_edges(
        edges2, num_partitions=num_partitions, vertices=verts2
    )
    bpp = max(1, int(blocks_per_partition))
    g2.block_size = max(1, -(-g2.num_vertices // (num_partitions * bpp)))
    return g2, mapping


def effective_block_size(graph, config) -> int | None:
    """The block size a kernel should consume, or None for the plain
    hash gather: a with_partitioning graph below
    ``config.locality_min_edges`` edges falls back — the pinned
    compound-key join loses wall-clock when the gather exchange it
    removes is not the bottleneck (config.py doc; measured in
    BENCH/NOTES.md r7). ``locality_min_edges=0`` pins unconditionally."""
    bs = getattr(graph, "block_size", None)
    if not bs:
        return None
    thr = int(getattr(config, "locality_min_edges", 0) or 0)
    if thr and graph.num_edges < thr:
        return None
    return bs


def _pinned(edges: DataFrame, block_size: int, parts: int, dedup: bool):
    """The block-pinned layout of an (src, dst) table: sblk = src div
    block_size, hash-partitioned by sblk and sorted by (sblk, src), so a
    merge join on [sblk, src] needs neither exchange nor sort on this
    side. ``dedup`` drops duplicate (src, dst) rows inside each
    partition (sblk is a function of src), so it adds no exchange."""
    out = edges.withColumn(
        "sblk", F.expr(f"src div {int(block_size)}")
    ).repartition(parts, "sblk")
    if dedup:
        out = out.dropDuplicates(["sblk", "src", "dst"])
    return out.sortWithinPartitions("sblk", "src")


def block_pinned_sym(graph, parts: int) -> DataFrame:
    """The symmetric edge table, set-identical to
    GraphTables.symmetric_edges, in the block-pinned layout: (src, dst,
    sblk), one exchange. Caller persists."""
    e = graph.edges
    both = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return _pinned(both, graph.block_size, parts, dedup=True)


def block_pinned_edges(graph, parts: int, reverse: bool = False) -> DataFrame:
    """The DIRECTED edge multiset in the block-pinned layout (src, dst,
    sblk) — consumed by pagerank-family gathers (gather_join's block
    mode). ``reverse`` swaps the endpoints first: the in-neighbor
    table of hits' hub phase, whose src is still a vid and so names its
    block the same way. Caller persists."""
    e = graph.edges
    if reverse:
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return _pinned(e, graph.block_size, parts, dedup=False)


def gather_fanin_rows(sym: DataFrame) -> int:
    """Rows the gather's map-side partial aggregation feeds into the
    groupBy(dst) shuffle = Σ over physical partitions of distinct dst
    (a merge-join gather's output stays in the edge side's partitions,
    so this is computable on the cached edge table directly). The
    locality metric: hash layout ≈ min(E, parts·V), region layout ≈
    V + cut edges."""
    return (
        sym.select(F.spark_partition_id().alias("p"), "dst")
        .distinct()
        .count()
    )
