"""Partitioning strategies — the reference's partitioner family in Spark.

Reference: tools/graph_partitioner/partitioner/* and planar/
partitioner.cpp. The hash family needs no code here: the reference's
hash vertex-cut (hash_based_vertexcut.cpp:43-167), hash edge-cut
(hash_based_edgecut.cpp) and 2D grid cut (two_dimensional_vertexcut.cpp)
are plain ``repartition(n, "src")`` / ``("dst")`` / ``("src", "dst")``
calls, and every cached edge layout a kernel gathers over is built by
the GraphTables builders (graph/tables.py) or graph/locality.py. What
lives here are the strategies that compute a vertex assignment, each
consumed through ``locality.vertex_parts`` / ``with_partitioning``:

| here                  | strategy   | reference                          |
|-----------------------|------------|------------------------------------|
| balanced_range_bounds | T6 range   | planar/partitioner.cpp:62-101      |
| bfs_grow_labels       | T3 BFS     | bfs_based_edgecut.cpp              |
|                       | edge-cut   |                                    |
| bfs_vertex_cut_labels | T4 BFS     | csr_based_planar_vertexcut.cpp:    |
|                       | vertex-cut | 52-250,457-505                     |

T6 is the reference's equal-edge block split (also nvme/partition/
edge_equal_block_partition.h:29-120): contiguous vertex-id ranges whose
EDGE counts are balanced — the explicit skew handling for power-law
degree distributions, re-expressed with a degree prefix-sum.

The BFS pair re-expresses the reference's locality-first growth as
frontier DataFrame supersteps (the same join shape as kernels/sssp):

- T3 (``bfs_grow_labels``): one BFS region per target partition, grown
  simultaneously from the k highest-degree seeds; a vertex joins the
  lowest-numbered region that reaches it first, regions stop expanding
  at a soft capacity cap (|V|/k * cap_factor), and stranded vertices
  balance-fill deterministically. Edges follow part(src) = edge-cut.
- T4 (``bfs_vertex_cut_labels``): grow MORE branches than partitions
  (branch_factor*k, the reference grows one branch per root-neighbor
  until branch >= E/128), then greedily merge branch sizes into k
  partitions driver-side (the reference's ``Redistributing`` — a
  k*branch_factor-scalar bin-pack, no data movement). An edge belongs
  to least(part(src), part(dst)) — a vertex-cut: a vertex with edges
  in several partitions is implicitly replicated, exactly the
  reference's border-vertex notion (SURVEY P17).

Per BFS round the driver sees only ≤ num_branches scalars (per-branch
growth counts, same budget discipline as balanced_range_bounds);
frontier expansion is the standard hash-join + min-agg superstep, so
the rounds scale like any BFS kernel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def balanced_range_bounds(
    edges: DataFrame, degrees: DataFrame, num_partitions: int
) -> DataFrame | None:
    """(part, lo, hi) contiguous vid ranges with ~equal edge counts, or
    None for an empty graph. Exposed separately so locality diagnostics
    can map vertices to their range partition.

    The degree prefix-sum is DISTRIBUTED (the two-pass pattern from
    ingest/build.py's dictionary_encode, never a global
    ``Window.orderBy`` whose single-partition Exchange serializes |V|
    rows through one task): range-partition degrees by vid and
    materialize once (freezing the partition ids), collect one
    per-partition subtotal row per partition (num_partitions scalars —
    the only driver traffic), then add each partition's broadcast
    offset to a partition-LOCAL running sum. Works unchanged at 10^9+
    vertices; asserted single-partition-Exchange-free in
    tests/test_partition.py."""
    from pyspark.sql import Window as W

    from planar_spark.graph.superstep import materialize

    d = materialize(
        degrees.select("vid", "out_deg")
        .repartitionByRange(num_partitions, "vid")
        .sortWithinPartitions("vid")
        .withColumn("pid", F.spark_partition_id())
    )
    per_pid = {
        r["pid"]: int(r["s"] or 0)
        for r in d.groupBy("pid").agg(F.sum("out_deg").alias("s")).collect()
    }
    total = sum(per_pid.values())
    if total == 0:
        return None
    target = max(1, total // num_partitions)
    offsets, acc = [], 0
    for pid in sorted(per_pid):
        offsets.append((pid, acc))
        acc += per_pid[pid]
    off_df = degrees.sparkSession.createDataFrame(
        offsets, schema="pid int, off long"
    )
    w = (
        W.partitionBy("pid")
        .orderBy("vid")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pref = (
        d.withColumn("run", F.sum("out_deg").over(w))
        .join(F.broadcast(off_df), "pid")
        .select("vid", (F.col("off") + F.col("run")).alias("cum"))
    )
    return (
        pref.withColumn(
            "part", F.least(
                (F.col("cum") / target).cast("long"),
                F.lit(num_partitions - 1),
            )
        )
        .groupBy("part")
        .agg(F.min("vid").alias("lo"), F.max("vid").alias("hi"))
    )


def bfs_grow_labels(
    graph,
    num_branches: int,
    cap_factor: float = 1.5,
    max_rounds: int = 60,
    metrics_out: dict | None = None,
) -> DataFrame:
    """(vid, branch) for EVERY vertex: multi-source BFS region growth.

    Seeds are the ``num_branches`` highest-out-degree vertices
    (deterministic tie-break by vid — the reference picks max-degree
    roots, csr_based_planar_vertexcut.cpp:124-141); branch ids follow
    that order. Each round every unlabeled vertex adjacent (undirected)
    to a labeled one adopts the MIN branch among its labeled neighbors
    — first-reach wins, ties lowest branch, fully deterministic. A
    branch whose size reaches ceil(|V|/num_branches * cap_factor) stops
    expanding (soft cap: the round that crosses the cap completes).
    Vertices never reached (other components, or walled off by full
    branches) fill as vid % num_branches.

    ``metrics_out`` (optional dict) receives ``rounds`` (BFS rounds
    actually run), ``truncated`` (True when max_rounds was exhausted
    while branches were still growing — the growth was cut short, not
    converged) and ``fill_fraction`` (share of vertices that got the
    vid %% b balance-fill instead of a BFS label). A high fill_fraction
    means the "locality-first" partitioner degraded toward hash
    partitioning — callers/benches should check it rather than trust
    the label silently.
    """
    from planar_spark.graph.superstep import materialize

    spark = graph.spark
    nv = graph.num_vertices
    if nv == 0:
        return spark.createDataFrame([], schema="vid long, branch int")
    b = min(int(num_branches), nv)
    cap = int(nv / b * cap_factor) + 1
    seed_rows = (
        graph.degrees.orderBy(F.desc("out_deg"), F.asc("vid"))
        .limit(b)
        .select("vid")
        .collect()
    )
    seeds = spark.createDataFrame(
        [(int(r["vid"]), i) for i, r in enumerate(seed_rows)],
        schema="vid long, branch int",
    )
    # the symmetric table is read every round: cache it for the loop
    sym = graph.symmetric_edges_by_src(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    ).persist()
    labels = materialize(seeds)
    frontier = labels
    sizes = {i: 1 for i in range(b)}
    rounds = 0
    truncated = True  # flipped False by any converged exit below
    for _ in range(max_rounds):
        open_branches = [i for i, s in sizes.items() if s < cap]
        if not open_branches:
            truncated = False
            break
        f = (
            frontier
            if len(open_branches) == b
            else frontier.where(F.col("branch").isin(open_branches))
        )
        grown = (
            f.join(sym, f["vid"] == sym["src"])
            .select(F.col("dst").alias("vid"), "branch")
            .join(labels, "vid", "left_anti")
            .groupBy("vid")
            .agg(F.min("branch").alias("branch"))
        )
        new = materialize(grown)
        rounds += 1
        # per-branch growth counts: ≤ b scalars to the driver per round
        per_branch = {
            r["branch"]: r["n"]
            for r in new.groupBy("branch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not per_branch:
            truncated = False  # no growth anywhere: BFS converged
            break
        for i, n in per_branch.items():
            sizes[i] = sizes.get(i, 0) + int(n)
        labels = materialize(labels.unionAll(new))
        frontier = new
    sym.unpersist()
    labeled = sum(sizes.values())
    if metrics_out is not None:
        metrics_out["rounds"] = rounds
        metrics_out["truncated"] = truncated
        metrics_out["fill_fraction"] = round((nv - labeled) / nv, 6)
    # deterministic balance-fill for stranded vertices
    return graph.vertices.select("vid").join(labels, "vid", "left").select(
        "vid",
        F.coalesce(
            "branch", F.pmod(F.col("vid"), F.lit(b)).cast("int")
        ).alias("branch"),
    )


def bfs_vertex_cut_labels(
    graph,
    num_partitions: int,
    branch_factor: int = 4,
    cap_factor: float = 1.5,
) -> DataFrame:
    """(vid, part) for every vertex: the T4 grow-then-merge assignment
    (grow branch_factor*k BFS branches, greedily bin-pack them into k
    partitions driver-side). Layout-aware callers
    (GraphTables.with_partitioning) relabel vertices region-major from
    it; an edge belongs to least(part(src), part(dst))."""
    nb = max(num_partitions, int(num_partitions) * int(branch_factor))
    labels = bfs_grow_labels(graph, nb, cap_factor)
    branch_sizes = {
        r["branch"]: r["n"]
        for r in labels.groupBy("branch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # greedy merge: largest branch first into the currently lightest
    # partition (ties -> lowest part id; fully deterministic)
    load = [0] * num_partitions
    branch_to_part = {}
    for br in sorted(branch_sizes, key=lambda x: (-branch_sizes[x], x)):
        p = min(range(num_partitions), key=lambda i: (load[i], i))
        branch_to_part[br] = p
        load[p] += branch_sizes[br]
    m = F.broadcast(
        labels.sparkSession.createDataFrame(
            [(int(br), int(p)) for br, p in branch_to_part.items()],
            schema="branch int, part int",
        )
    )
    return labels.join(m, "branch").select("vid", "part")
