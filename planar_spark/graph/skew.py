"""Explicit skew handling: degree-based salting + broadcast frontiers.

Web graphs are power-law: hub vertices (site roots, popular pages) have
out-degrees 10^6+ while the median is ~10. Hash-partitioning edges by
``src`` puts ALL of a hub's edges in one partition — one straggler task
per hub (the reference hits the same wall and adds a strided task
assignment, core/apis/planar_app_base.h:208-231).

Two explicit mechanisms, both pure DataFrame ops (AQE skew-join is ON as
a backstop, but the north rule wants this handled explicitly):

1. ``salted_gather_join``: edges of hub sources get a salt derived from
   ``dst``; the (tiny) hub slice of the state is replicated across all
   salt values; the join key becomes (src, salt) so a hub's edges spread
   over ``salt_buckets`` tasks. Non-hub traffic keeps salt=0 and is
   untouched.
2. ``maybe_broadcast``: frontier/state DataFrames below a row threshold
   are broadcast, removing the shuffle entirely (the analogue of the
   reference sharing the whole vertex-state array in memory,
   core/update_stores/bsp_update_store.h:35-36).

Note on aggregation skew: ``groupBy(dst).agg(sum)`` needs NO salting in
Spark — partial aggregation (map-side combine) already reduces each
partition to one row per key before the shuffle, which is exactly the
two-stage salted-agg pattern done natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig

# Broadcast the frontier/state side of a join when its row count is at
# most this (reference analogue: whole vertex-state array shared in
# memory, core/update_stores/bsp_update_store.h:35-36).
BROADCAST_MAX_ROWS = 2_000_000


def hub_vertices(degrees: DataFrame, threshold: int) -> DataFrame:
    """(vid) of vertices whose out-degree exceeds the hub threshold.

    This set is tiny by construction (power-law tail) — always
    broadcastable.
    """
    return degrees.where(F.col("out_deg") > threshold).select("vid")


def salted_gather_join(
    edges: DataFrame,
    state: DataFrame,
    config: EngineConfig,
    hubs: DataFrame | None = None,
    block_size: int | None = None,
) -> DataFrame:
    """edges(src, dst, ...) ⋈ state(vid, ...) on src==vid, hub-salted.

    Returns the joined DataFrame with edge columns + state columns
    (state's ``vid`` column is dropped; join key is ``src``).

    ``block_size`` switches to the BLOCK-PINNED gather for graphs in a
    with_partitioning locality layout (graph.block_size set): ``edges``
    must then carry an ``sblk`` column and sit hash-partitioned by it
    (graph/locality.py block_pinned_edges); the join runs on the
    compound key (sblk = vid div block_size) AND (src = vid), so
    HashPartitioning(sblk) satisfies the join's distribution — zero
    edge-side exchange — while the join output lives in region-pinned
    partitions and the downstream groupBy(dst) partial agg emits
    ~V + cut rows instead of ~parts*V (locality.py module doc). Hub
    salting is a no-op under pinning (a hub's edges live in its own
    block's partition by construction — redistributing them is exactly
    what the pin forbids); block granularity + AQE carry hub skew here.
    """
    k = max(1, config.salt_buckets)
    if block_size is not None:
        s = state.withColumn(
            "vblk", F.expr(f"vid div {int(block_size)}")
        )
        # merge hint on the edge side: SMJ reuses the cached
        # (sblk, src) sort + HashPartitioning(sblk) — and keeps AQE
        # from broadcasting a small state at test scale, which is not
        # the at-scale plan
        e = edges.hint("merge")
        return e.join(
            s, (e["sblk"] == s["vblk"]) & (e["src"] == s["vid"])
        ).drop("vid", "vblk")
    if hubs is None:
        # merge hint on the edge side: a sort-merge join against the
        # pre-partitioned, pre-sorted cached edge table (zero exchange,
        # zero sort on the edge side). Without it AQE tends to broadcast
        # the state, whose serial per-superstep broadcast build becomes
        # the Amdahl bottleneck at high parallelism. A shuffled hash
        # join (hash map on the state side, no state sort) measured a
        # tie (r6, big-graph pagerank: 7.08 s vs 7.55 s medians).
        e = edges.hint("merge")
        return e.join(state, e["src"] == state["vid"]).drop("vid")

    hub_flag = hubs.select(F.col("vid").alias("src"), F.lit(True).alias("_is_hub"))
    e = (
        edges.join(F.broadcast(hub_flag), "src", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_is_hub").isNotNull(),
                F.pmod(F.xxhash64(F.col("dst")), F.lit(k)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_is_hub")
    )
    # Replicate only the (tiny) hub slice of the state across all salts.
    s_hub = state.join(F.broadcast(hubs), "vid", "left_semi").withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0).cast("int"), F.lit(k - 1).cast("int"))),
    )
    s_rest = state.join(F.broadcast(hubs), "vid", "left_anti").withColumn(
        "_salt", F.lit(0).cast("int")
    )
    s = s_hub.unionByName(s_rest)
    joined = e.join(s, (e["src"] == s["vid"]) & (e["_salt"] == s["_salt"]))
    return joined.drop("vid", "_salt")


def maybe_broadcast(df: DataFrame, row_count: int | None):
    """Broadcast-hint df when its known row count is at most
    BROADCAST_MAX_ROWS."""
    if row_count is not None and row_count <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df
