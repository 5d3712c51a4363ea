"""Louvain community detection — deterministic synchronous variant.

Not a reference kernel (the reference's community surface stops at
LPA); added as the standard modularity-based community detector a
link-graph engine is expected to ship. Classic Louvain (Blondel 2008)
is sequential — vertices move one at a time. The distributed variant
here is the standard synchronous adaptation (as in Spark/GraphX
community implementations), made fully deterministic:

- MOVE rounds: every vertex computes the modularity gain of moving to
  each neighboring community (one edges⋈comm join + groupBy(v, c)),
  picks argmax gain with lowest-community-id tie-break, and moves iff
  gain > 0 — but gated: rounds come in pairs, each pair splits V by
  the HIGH bit of H(v, pair) and its two rounds gate the two classes
  in turn (_move_gate). Synchronous Louvain without gating oscillates
  (two adjacent vertices swap communities forever); hash gating is the
  deterministic analogue of Louvain's sequential visit order, and the
  per-pair-changing split breaks the swap cycles a FIXED split (or the
  degenerate (v+r)%2 parity, r6 ADVICE) would let lock in. A level's
  move phase ends on a quiet PAIR — two zero-move rounds covering
  complementary classes of the same split = fixpoint proof.
- CONTRACT: communities collapse to vertices, parallel edge weights
  sum, intra-community weight becomes a self-loop; the next level runs
  on the contracted graph. Levels stop when a level moves nothing.

Modularity bookkeeping (undirected, weighted):
  deg(v) = Σ_{u≠v} w(v,u) + 2·w_self(v);  m = Σ_e w(e) (self-loops once)
  tot_c  = Σ_{v∈c} deg(v);   k_{v,c} = Σ_{u∈c,u≠v} w(v,u)
  ΔQ(v: a→c) = (k_{v,c} − k_{v,a′})/m − deg(v)·(tot_c − tot_{a′})/(2m²)
  with a′ = a∖{v}, tot_{a′} = tot_a − deg(v).

Scale shape: per move round one edges⋈comm shuffle + a (v, c) partial
agg + V-sized joins — the same O(E) gather budget as a pagerank
superstep; the only driver-side scalars are m (once per level) and the
observed move/gain counters. Contraction shrinks E geometrically
across levels. State rides localCheckpoint leaves (releaf) like every
other loop kernel.

Tested round-exactly against the pure-python replica in
tests/test_louvain.py (same gating hash, same tie-breaks), plus
modularity-monotonicity and planted-structure fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import SuperstepEngine, materialize
from planar_spark.graph.tables import GraphTables

_H_A = 2654435761  # Knuth multiplicative hash, same family as coloring
_H_B = 40503
_H_MOD = 1 << 32


def _move_gate(vid_col, rnd: int):
    """Deterministic move gate: paired complementary hash classes.

    Rounds come in pairs p = (r+1)//2. Within pair p the vertex set is
    split by the HIGH bit of H(v, p); the odd round gates the high-bit
    class ON, the even round its complement — so every pair covers all
    vertices exactly once, which keeps the two-quiet-rounds-in-a-pair
    fixpoint proof sound (see the loop's termination condition).

    The HIGH bit, not ``% 2``: both hash constants are odd, so the low
    bit degenerates to ``(v + p) % 2`` — adjacent vertices with the
    same vid parity would be gated ON together every round and could
    swap-oscillate for ~half of all edges (r6 ADVICE). The high bit
    mixes vid and pair properly, and because the split CHANGES every
    pair, two adjacent vertices land in the same class only with
    probability 1/2 per pair — a persistent A<->B swap cycle decays
    geometrically instead of locking in the way a fixed split would.
    """
    pair = (rnd + 1) // 2
    # Overflow-safe (vid * _H_A + pair * _H_B) mod 2^32 for ANY int64
    # vid (r7 ADVICE low): the direct product overflows int64 at
    # vid ≳ 3.47e9 — wrapping negative in non-ANSI mode (gate class
    # frozen for all such vertices) and raising under ANSI. 16-bit limb
    # decomposition of vid mod 2^32 keeps every intermediate < 2^49:
    # identical values to the direct product wherever it is exact
    # (all test/oracle vids), exact everywhere else.
    v32 = F.pmod(vid_col, F.lit(_H_MOD))
    h16 = F.shiftright(v32, 16)
    l16 = v32.bitwiseAND(F.lit(0xFFFF))
    prod = F.pmod(
        F.pmod(h16 * _H_A, F.lit(_H_MOD)) * F.lit(1 << 16) + l16 * _H_A,
        F.lit(_H_MOD),
    )
    hi = F.pmod(prod + F.lit(pair) * _H_B, F.lit(_H_MOD)) >= (1 << 31)
    return hi if rnd % 2 == 1 else ~hi


def louvain(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_levels: int = 4,
    max_move_rounds: int = 64,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, community) — community = the level-0 vid of the final
    community representative (deterministic; NOT guaranteed to be the
    min vid of the member set).

    Every distinct undirected edge weighs 1. ``metrics_out`` receives
    ``levels``, ``move_rounds`` (list per level), ``modularity`` (final
    Q) and ``communities`` (count).

    Durable resume: the move rounds run on ``SuperstepEngine`` under
    kernel ``louvain``, state = the level's community table (comm)
    carrying the level edge table (cur) and the composed assignment
    (assign). A level boundary is one superstep that composes the
    assignment, contracts the graph and returns the next level's
    initial comm, so round numbers count move rounds and boundaries
    across levels. With ``config.checkpoint_dir`` set, round 0 and every
    ``config.checkpoint_every``-th round write the three tables plus
    the level counters; ``resume=True`` with the same ``run_id``
    re-enters mid-move-phase — sym/deg/m are re-derived once per level,
    from the restored level edges on resume.
    """
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    c = {"level": 0, "rounds": 0, "zero_streak": 0,
         "move_rounds_per_level": [], "modularity": 0.0, "communities": 0}
    lv: dict = {}  # the current level's sym (cached), deg and m

    def verts(cur: DataFrame) -> DataFrame:
        return (
            cur.select(F.col("a").alias("vid"))
            .unionAll(cur.select(F.col("b").alias("vid")))
            .distinct()
        )

    def fresh(cur: DataFrame) -> DataFrame:
        """Every vertex of a level graph in its own community."""
        return verts(cur).select("vid", F.col("vid").alias("c"))

    def init() -> dict:
        cur = graph.undirected_edges_by_a(parts).withColumn("w", F.lit(1.0))
        # cur: one row per undirected edge (a <= b after contraction;
        # a == b rows are self-loops carrying intra-community weight)
        cur = materialize(cur)
        return {
            "state": fresh(cur),
            "cur": cur,
            # assign: original vid -> current-level vertex (community rep)
            "assign": materialize(
                graph.vertices.select("vid", F.col("vid").alias("comm"))
            ),
        }

    def derive(cur: DataFrame) -> None:
        """The level graph's symmetric edges, weighted degrees and total
        weight m, once per level."""
        sym = cur.where(F.col("a") != F.col("b")).select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        ).unionAll(
            cur.where(F.col("a") != F.col("b")).select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "w"
            )
        )
        selfs = cur.where(F.col("a") == F.col("b")).select(
            F.col("a").alias("vid"), F.col("w").alias("w_self")
        )
        deg = (
            verts(cur).join(
                sym.groupBy(F.col("src").alias("vid")).agg(
                    F.sum("w").alias("_wn")
                ),
                "vid",
                "left",
            )
            .join(selfs, "vid", "left")
            .select(
                "vid",
                (
                    F.coalesce("_wn", F.lit(0.0))
                    + 2.0 * F.coalesce("w_self", F.lit(0.0))
                ).alias("deg"),
            )
        )
        if "sym" in lv:
            lv["sym"].unpersist()
        lv.update(
            level=c["level"],
            deg=materialize(deg.repartition(parts, "vid")),
            m=cur.agg(F.sum("w")).collect()[0][0] or 0.0,
            # cached SORTED by src (r8): the per-move-round community
            # gather rides the merge fast path with zero exchange/sort
            # on the O(E) side (same discipline as WCC's sym cache)
            sym=sym.repartition(parts, "src")
            .sortWithinPartitions("src")
            .persist(),
        )

    def move(comm: DataFrame, rnd: int) -> tuple[DataFrame, dict]:
        """One gated move round of the level's move phase."""
        sym, deg, m = lv["sym"], lv["deg"], lv["m"]
        tot = comm.join(deg, "vid").groupBy("c").agg(
            F.sum("deg").alias("tot")
        )
        # gather along src (the cache's partition/sort key) and
        # aggregate by dst — the edge set is symmetric with equal
        # weights in both directions, so the (vertex, community,
        # weight) multiset is identical to the old dst-side join,
        # without re-shuffling the O(E) side every round. Sums are
        # exact under reordering at gate scale (integer-valued w).
        nbr_c = (
            sym.hint("merge").join(
                comm.select(F.col("vid").alias("src"), "c"), "src"
            )
            .groupBy(F.col("dst").alias("vid"), "c")
            .agg(F.sum("w").alias("k_vc"))
        )
        own = comm.select("vid", F.col("c").alias("c_own"))
        # candidate rows: every neighbor community (k_vc to own
        # community rides along via a left join back)
        cand = (
            nbr_c.join(own, "vid")
            .join(tot, "c")
            .join(deg, "vid")
            .join(
                tot.select(
                    F.col("c").alias("c_own"),
                    F.col("tot").alias("tot_own"),
                ),
                "c_own",
            )
            .join(
                nbr_c.select(
                    "vid",
                    F.col("c").alias("c_own"),
                    F.col("k_vc").alias("k_own"),
                ),
                ["vid", "c_own"],
                "left",
            )
        )
        gain = cand.select(
            "vid",
            "c",
            "c_own",
            (
                (F.col("k_vc") - F.coalesce("k_own", F.lit(0.0)))
                / F.lit(m)
                - F.col("deg")
                * (F.col("tot") - (F.col("tot_own") - F.col("deg")))
                / F.lit(2.0 * m * m)
            ).alias("dq"),
        ).where(F.col("c") != F.col("c_own"))
        best = (
            gain.groupBy("vid")
            .agg(
                F.max(
                    F.struct(F.col("dq"), (-F.col("c")).alias("nc"))
                ).alias("b"),
                F.first("c_own").alias("c_own"),
            )
            .where(F.col("b.dq") > 1e-12)
            .select("vid", (-F.col("b.nc")).alias("c_new"), "c_own")
        )
        moves = best.where(_move_gate(F.col("vid"), rnd))
        obs = Observation()
        return (
            comm.join(moves.select("vid", "c_new"), "vid", "left")
            .select(
                "vid",
                F.coalesce("c_new", F.col("c")).alias("c"),
                F.col("c_new").isNotNull().cast("long").alias("_mv"),
            )
            .observe(obs, F.sum("_mv").alias("moved"))
            .drop("_mv"),
            {"_obs": obs},
        )

    def boundary(t: dict) -> dict:
        """End the level's move phase: compose the assignment through
        it, then contract the level graph into the next level's — or
        return the input state, which ends the run, when the level
        moved nothing or was the last."""
        cur, comm, deg, m = t["cur"], t["state"], lv["deg"], lv["m"]
        c["move_rounds_per_level"].append(c["rounds"])
        # compose the original-vid assignment through this level (LEFT:
        # isolated vertices never enter a level graph and keep their
        # own-vid community)
        assign = materialize(
            t["assign"].join(
                comm.select(
                    F.col("vid").alias("comm"), F.col("c").alias("_c")
                ),
                "comm",
                "left",
            )
            .select("vid", F.coalesce("_c", F.col("comm")).alias("comm"))
        )
        ca = comm.select(F.col("vid").alias("a"), F.col("c").alias("ca"))
        cb = comm.select(F.col("vid").alias("b"), F.col("c").alias("cb"))
        # modularity of this level's partition (on the level graph):
        # Q = Σ_c [ in_c/m − (tot_c/(2m))² ], in_c = intra weight.
        # METERED (r6 VERDICT finding #2): these are reporting-only
        # driver actions — 2 collects + a count per level — so they run
        # only when the caller asked for metrics_out; the hard-gate and
        # production paths pay 1 action per move round + m per level.
        if metrics_out is not None:
            intra = (
                cur.join(ca, "a")
                .join(cb, "b")
                .where(F.col("ca") == F.col("cb"))
                .agg(F.coalesce(F.sum("w"), F.lit(0.0)))
                .collect()[0][0]
            )
            tot_rows = (
                comm.join(deg, "vid").groupBy("c").agg(F.sum("deg").alias("t"))
            )
            sq = tot_rows.agg(
                F.coalesce(F.sum(F.col("t") * F.col("t")), F.lit(0.0))
            ).collect()[0][0]
            c["modularity"] = intra / m - sq / (4.0 * m * m)
            c["communities"] = tot_rows.count()
        # no movement at all this level -> done (rounds==2 means the
        # first pair was immediately quiescent — both classes of its
        # split saw zero moves)
        if c["rounds"] <= 2 or c["level"] + 1 >= max_levels:
            return {**t, "assign": assign}
        # contract: communities become vertices, weights aggregate,
        # intra-community weight becomes the self-loop
        nxt = materialize(
            cur.join(ca, "a")
            .join(cb, "b")
            .select(
                F.least("ca", "cb").alias("a"),
                F.greatest("ca", "cb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            .repartition(parts, "a")
        )
        c.update(level=c["level"] + 1, rounds=0, zero_streak=0)
        return {"state": fresh(nxt), "cur": nxt, "assign": assign}

    def step(t: dict, _rnd: int) -> tuple[dict, dict]:
        if lv.get("level") != c["level"]:
            derive(t["cur"])
        if lv["m"] <= 0:
            return t, {}  # no edge weight left: nothing can move
        rounds = c["rounds"]
        # stop only on a zero PAIR (streak >= 2 ending on an even
        # round): the pair's two rounds gate complementary classes of
        # the SAME hash split with state unchanged between them, so a
        # quiet pair proves no vertex anywhere wants to move. A streak
        # of 2 ending on an odd round spans two different splits and
        # proves nothing — run one more round.
        if rounds < max_move_rounds and not (
            c["zero_streak"] >= 2 and rounds % 2 == 0
        ):
            comm, metrics = move(t["state"], rounds + 1)
            return {**t, "state": comm}, metrics
        return boundary(t), {}

    def settle(m: dict) -> bool:
        if "level" in m:  # the restored round
            c.update((key, m[key]) for key in c)
        else:
            if "moved" in m:  # a move round
                c["rounds"] += 1
                c["zero_streak"] = c["zero_streak"] + 1 if not m["moved"] else 0
            m.update(c)
        return False  # a level that ends the run returns its input state

    engine = SuperstepEngine(spark, config, "louvain", run_id=run_id)
    try:
        result = engine.run(
            init, step, max_levels * (max_move_rounds + 1), settle,
            resume=resume,
        )
    finally:
        if "sym" in lv:
            lv["sym"].unpersist()
    if metrics_out is not None:
        metrics_out["levels"] = len(c["move_rounds_per_level"])
        metrics_out["move_rounds"] = c["move_rounds_per_level"]
        metrics_out["modularity"] = float(c["modularity"])
        metrics_out["communities"] = int(c["communities"])
    return result.tables["assign"].select(
        "vid", F.col("comm").alias("community")
    )
