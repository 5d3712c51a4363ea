"""Neighborhood operators: adjacency stats, two-hop, k-hop risk, walks.

Reference parity:
- ``one_hop_min``  = GetNeiMinId (mutable_block_csr_graph.h:213-234):
  per-vertex min out-neighbor id.
- ``two_hop_stats`` = the two-hop precompute (nvme/precomputing/
  two_hop_neighbor.h:11-227): per-vertex min/max two-hop neighbor —
  a self-equi-join of the edge table instead of the reference's
  block-nested loop.
- ``khop_risk``   = the k-hop risk app (nvme/apps/k-hop_app.h:26-77):
  seed a risky set, count risky out-neighbors, then flag vertices whose
  own + neighbor risk counts exceed a threshold. The reference seeds
  with rand(); we seed deterministically (vid % seed_mod == 0) so the
  result is oracle-checkable.
- ``random_walk`` = the random-walk app (core/apps/randomwalk_app.cpp:
  27-43): per-vertex walks following sampled out-edges, deg-0 vertices
  walk to themselves. The reference samples with an unseeded rand();
  we make the choice deterministic — next hop = argmin over out-edges
  of an explicit mixing hash — so walks are exactly reproducible and
  SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.tables import GraphTables

# explicit mixing hash for deterministic walks — identical formula in the
# DuckDB oracle (all terms < 2^40 for vid spaces < ~2^20, no overflow)
WALK_H_A, WALK_H_B, WALK_H_C, WALK_H_MOD = 131071, 8191, 524287, 1000003
WALK_H_D = 97003  # replica-index term for the biased (node2vec) walk
WALK_H_E = 337411  # walk-id term: decorrelates the walks of one start


def one_hop_min(graph: GraphTables) -> DataFrame:
    """(vid, min_nbr): min out-neighbor per vertex with out-degree > 0."""
    return graph.edges.groupBy(F.col("src").alias("vid")).agg(
        F.min("dst").alias("min_nbr")
    )


def two_hop_stats(graph: GraphTables) -> DataFrame:
    """(vid, min_two_hop, max_two_hop) over directed two-hop paths.

    O(E) decomposition: because only min/max survive, the wedge set is
    never materialized — pre-aggregate each mid vertex's out-neighbor
    min/max (one row per mid), then join that O(V)-sized table to the
    edges and aggregate again. A naive edges⋈edges self-join emits
    O(Σ in_deg·out_deg) wedge rows, which explodes on hub vertices.
    """
    mid_stats = graph.edges.groupBy(F.col("src").alias("mid")).agg(
        F.min("dst").alias("mn"), F.max("dst").alias("mx")
    )
    e1 = graph.edges.select(F.col("src").alias("vid"), F.col("dst").alias("mid"))
    return (
        e1.join(mid_stats, "mid")
        .groupBy("vid")
        .agg(
            F.min("mn").alias("min_two_hop"),
            F.max("mx").alias("max_two_hop"),
        )
    )


def khop_risk(
    graph: GraphTables, seed_mod: int = 17, threshold: int = 4
) -> DataFrame:
    """(vid, risky): two-round risk propagation, deterministic seeds."""
    seeds = F.col("vid") % seed_mod == 0
    verts = graph.vertices.select("vid", seeds.cast("long").alias("seed"))
    # round 1: count risky out-neighbors
    seed_dst = verts.select(F.col("vid").alias("dst"), "seed")
    cnt1 = (
        graph.edges.join(seed_dst, "dst")
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum("seed").alias("risk1"))
    )
    base = verts.join(cnt1, "vid", "left").select(
        "vid", "seed", F.coalesce("risk1", F.lit(0)).alias("risk1")
    )
    # round 2: own seed + sum of out-neighbor risk counts vs threshold
    nbr_risk = (
        graph.edges.join(
            base.select(F.col("vid").alias("dst"), F.col("risk1").alias("r")),
            "dst",
        )
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum("r").alias("nbr_risk"))
    )
    return (
        base.join(nbr_risk, "vid", "left")
        .select(
            "vid",
            (
                (F.col("seed") + F.coalesce("nbr_risk", F.lit(0)) > threshold)
                | (F.col("seed") == 1)
            )
            .cast("long")
            .alias("risky"),
        )
    )


def random_walk(
    graph: GraphTables,
    config: EngineConfig | None = None,
    num_steps: int = 4,
    start_mod: int = 31,
) -> DataFrame:
    """(start, cur): end vertex of a ``num_steps``-step deterministic walk
    from every vertex with vid % start_mod == 0."""
    config = config or EngineConfig()
    edges = graph.edges
    walks = graph.vertices.where(F.col("vid") % start_mod == 0).select(
        F.col("vid").alias("start"), F.col("vid").alias("cur")
    )
    for k in range(1, num_steps + 1):
        cand = walks.join(edges, walks["cur"] == edges["src"], "left")
        h = (
            F.col("cur") * WALK_H_A
            + F.coalesce(F.col("dst"), F.lit(0)) * WALK_H_B
            + F.lit(k) * WALK_H_C
        ) % WALK_H_MOD
        # argmin by (h asc, dst asc) as a struct-min aggregate instead of
        # a window: partial-agg-able, so a walk sitting on a hub never
        # sorts deg(hub) rows in one window partition. ``cur`` rides
        # along in the struct (constant per start). A start whose cur has
        # no out-edges yields exactly one row (dst null) — no mixed-null
        # struct comparisons.
        walks = (
            cand.groupBy("start")
            .agg(
                F.min(
                    F.struct(h.alias("h"), F.col("dst"), F.col("cur"))
                ).alias("m")
            )
            .select("start", F.coalesce("m.dst", F.col("m.cur")).alias("cur"))
        )
    return walks


def node2vec_walk(
    graph: GraphTables,
    config: EngineConfig | None = None,
    num_steps: int = 4,
    start_mod: int = 31,
    w_return: int = 1,
    w_common: int = 2,
    w_far: int = 1,
    num_walks: int = 1,
) -> DataFrame:
    """(start, walk_id, cur): end vertex of each of ``num_walks``
    deterministic SECOND-ORDER biased walks per start (node2vec,
    Grover-Leskovec) — the standard corpus generator for
    graph-embedding training data, which wants MANY walks per start
    vertex, not one. Transition weight from (prev, cur) to candidate
    dst: ``w_return`` if dst == prev (the 1/p return term),
    ``w_common`` if dst is und-adjacent to prev (distance-1 term),
    else ``w_far`` (the 1/q term); the defaults encode p = q = 2
    scaled to integers.

    The walk_id folds into the mixing hash (term walk_id·WALK_H_E), so
    the walks of one start diverge deterministically; walk_id 0
    reproduces the single-walk output bit-for-bit (its hash term is
    zero). Row count scales LINEARLY in num_walks — the per-step plan
    is the same join + struct-min agg, now keyed (start, walk_id), so
    partial aggregation and the no-window property are unchanged.

    Deterministic weighted sampling WITHOUT floats: each candidate is
    replicated ``weight`` times (weights are small integers, so the
    explode is bounded by max-weight x out-degree) and the walker takes
    the replica minimizing the mixing hash — a candidate with w
    replicas wins with probability ~w/Σw, and the choice is exactly
    reproducible in SQL (same hash, same tie-break). The per-step
    argmin is a struct-min aggregate, never a window, so hub-resident
    walkers keep partial aggregation. The first step degenerates to
    the uniform walk (prev = start makes every out-neighbor
    distance-1), matching node2vec's uniform start convention.
    """
    config = config or EngineConfig()
    edges = graph.edges
    # cache the adjacency-flag table (r8): the lazy num_steps-deep walk
    # plan references it once PER STEP, and uncached that re-ran the
    # O(E) distinct+union (symmetric_edges) num_steps times in the one
    # job that executes the walk (big graph: 4 x 19M-row exchanges).
    # The final walks are cut to a leaf so the cache can be released
    # before returning.
    sym = (
        graph.symmetric_edges_by_src(config.partitions_for(graph.spark))
        .select(
            F.col("src").alias("prev"), F.col("dst").alias("dst"),
            F.lit(1).alias("_adj"),
        )
        .persist()
    )
    walks = graph.vertices.where(F.col("vid") % start_mod == 0).select(
        F.col("vid").alias("start"),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(num_walks) - 1))
        ).alias("walk_id"),
        F.col("vid").alias("prev"),
        F.col("vid").alias("cur"),
    )
    for k in range(1, num_steps + 1):
        cand = (
            walks.join(edges, walks["cur"] == edges["src"], "left")
            .join(sym, ["prev", "dst"], "left")
        )
        wt = (
            F.when(F.col("dst").isNull(), F.lit(1))
            .when(F.col("dst") == F.col("prev"), F.lit(w_return))
            .when(F.col("_adj").isNotNull(), F.lit(w_common))
            .otherwise(F.lit(w_far))
        )
        rep = F.explode(
            F.sequence(F.lit(0), (wt - 1).cast("int"))
        ).alias("rep")
        r = cand.select("start", "walk_id", "prev", "cur", "dst", rep)
        h = (
            F.col("cur") * WALK_H_A
            + F.coalesce(F.col("dst"), F.lit(0)) * WALK_H_B
            + F.lit(k) * WALK_H_C
            + F.col("rep") * WALK_H_D
            + F.col("walk_id") * WALK_H_E
        ) % WALK_H_MOD
        walks = (
            r.groupBy("start", "walk_id")
            .agg(
                F.min(
                    F.struct(
                        h.alias("h"),
                        F.col("dst"),
                        F.col("rep"),
                        F.col("cur"),
                        F.col("prev"),
                    )
                ).alias("m")
            )
            .select(
                "start",
                "walk_id",
                F.when(F.col("m.dst").isNull(), F.col("m.prev"))
                .otherwise(F.col("m.cur"))
                .alias("prev"),
                F.coalesce("m.dst", F.col("m.cur")).alias("cur"),
            )
        )
    from planar_spark.graph.superstep import materialize

    out = materialize(walks.select("start", "walk_id", "cur"))
    sym.unpersist()
    return out
