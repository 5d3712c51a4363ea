"""Explicit skew handling: hub edges split off once per call + broadcast
frontiers.

Web graphs are power-law: hub vertices (site roots, popular pages) have
out-degrees 10^6+ while the median is ~10. Hash-partitioning edges by
``src`` puts ALL of a hub's edges in one partition — one straggler task
per hub (the reference hits the same wall and hands a hub's edges out in
a fixed strided order, core/apis/planar_app_base.h:208-231).

Two explicit mechanisms, both pure DataFrame ops (AQE skew-join is ON as
a backstop, but the north rule wants this handled explicitly):

1. ``split_hubs``: a gather's hub ids go to the driver once per call
   (``top_hubs``, at most ``HUB_CAP``), and the hub sources' edges are
   moved ONCE into a ``(src, dst, mult)`` table spread round-robin over
   every partition — the heavy key's work moves once instead of every
   row being re-keyed every superstep (DS2, "Handling Data Skew Using
   Data Stealings", ICDE 2021). The remaining edges are a filter over
   the edge cache, so their gather stays the zero-exchange merge join
   (``gather_join``). Each hub's value rides the state's Observation,
   and the hub gather is a projection of the cached table through a
   literal hub→value map: no join, no extra job per superstep.
2. ``maybe_broadcast``: frontier/state DataFrames below a row threshold
   are broadcast, removing the shuffle entirely (the analogue of the
   reference sharing the whole vertex-state array in memory,
   core/update_stores/bsp_update_store.h:35-36).

Note on aggregation skew: ``groupBy(dst).agg(sum)`` needs no special
handling in Spark — partial aggregation (map-side combine) already
reduces each partition to one row per key before the shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F

# Broadcast the frontier/state side of a join when its row count is at
# most this (reference analogue: whole vertex-state array shared in
# memory, core/update_stores/bsp_update_store.h:35-36).
BROADCAST_MAX_ROWS = 2_000_000

# Most hubs a gather splits off: each is a literal in the step plan. A
# hub past the cap takes the plain gather (AQE skew join is the backstop).
HUB_CAP = 256


def top_hubs(degrees: DataFrame, threshold: int, degree: str = "out_deg") -> DataFrame:
    """(vid) of the at most ``HUB_CAP`` vertices whose ``degree``
    exceeds ``threshold``, highest degree first (ties by vid). Tiny by
    construction — callers collect it."""
    return (
        degrees.where(F.col(degree) > max(threshold, 0))
        .orderBy(F.col(degree).desc(), "vid")
        .limit(HUB_CAP)
        .select("vid")
    )


@dataclass(frozen=True)
class HubSplit:
    """A gather's edge table split once per call at its hub sources.

    ``rest`` is every edge of a non-hub source: a filter over the edge
    cache, which keeps its hash(src) layout and src order. ``table`` is
    (src, dst, mult) over the hub sources' edges, ``mult`` the count of
    duplicate links, spread round-robin over the partitions; the caller
    persists it and releases it after the call. ``name`` is the alias
    of the hub values on the state's Observation."""

    ids: list[int]
    rest: DataFrame
    table: DataFrame
    name: str = "_hubx"

    def observed(self, x: Column) -> Column:
        """Aggregate of (vid, ``x``) over the hub rows of a state, to
        ride that state's Observation (or a resume's one action)."""
        hub = F.col("vid").isin(self.ids)
        return F.collect_list(F.when(hub, F.struct(F.col("vid"), x))).alias(
            self.name
        )

    def contribs(self, got: Mapping, div: float = 1.0) -> DataFrame:
        """(dst, x) with x = mult * x_h / ``div`` per hub edge, x_h read
        from the observed row ``got``: a projection of the cached table."""
        pairs = []
        for vid, x in got[self.name]:
            pairs += [F.lit(vid).cast("long"), F.lit(x / div)]
        x_h = F.create_map(*pairs)[F.col("src")]
        return self.table.select("dst", (F.col("mult") * x_h).alias("x"))


def split_hubs(
    edges: DataFrame, ids: list[int], parts: int, name: str = "_hubx"
) -> HubSplit | None:
    """The hub split of ``edges`` (src, dst), hash-partitioned by src,
    at the hub sources ``ids``; None when there are none. One exchange:
    the groupBy rides the cache's hash(src) layout, and the round-robin
    repartition spreads a hub's edges (without it they all stay in the
    hub's partition)."""
    if not ids:
        return None
    hub = F.col("src").isin(ids)
    table = (
        edges.where(hub)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("mult"))
        .repartition(parts)
    )
    return HubSplit(list(ids), edges.where(~hub), table, name)


def gather_join(
    edges: DataFrame, state: DataFrame, block_size: int | None = None
) -> DataFrame:
    """edges(src, dst, ...) ⋈ state(vid, ...) on src==vid.

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
    ~V + cut rows instead of ~parts*V (locality.py module doc). No hub
    split under pinning (a hub's edges live in its own block's
    partition by construction — redistributing them is exactly what the
    pin forbids); block granularity + AQE carry hub skew here.
    """
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
    # merge hint on the edge side: a sort-merge join against the
    # pre-partitioned, pre-sorted cached edge table (zero exchange,
    # zero sort on the edge side). Without it AQE tends to broadcast
    # the state, whose serial per-superstep broadcast build becomes
    # the Amdahl bottleneck at high parallelism. A shuffled hash
    # join (hash map on the state side, no state sort) measured a
    # tie (r6, big-graph pagerank: 7.08 s vs 7.55 s medians).
    e = edges.hint("merge")
    return e.join(state, e["src"] == state["vid"]).drop("vid")


def maybe_broadcast(df: DataFrame, row_count: int | None):
    """Broadcast-hint df when its known row count is at most
    BROADCAST_MAX_ROWS."""
    if row_count is not None and row_count <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df
