"""Greedy graph coloring — deterministic Luby-style speculative rounds.

Reference kernel: core/apps/coloring_app.cpp:5-110 — iterative conflict
resolution where a conflicted vertex bumps its color by an UNSEEDED
``rand()`` (coloring_app.cpp:110), so the reference's output is
nondeterministic run-to-run. We keep its speculative propose-and-
resolve shape but make every choice a deterministic hash, so the
result is exactly reproducible (and cross-checkable in SQL).

Why not Jones-Plassmann (the round-2 implementation): JP's round count
is the depth of the priority dependency DAG, which is O(log n) only on
SPARSE graphs. The sf0.1 derived graph is dense (4096 vertices, 578k
undirected edges, avg degree 282) and measured JP at **485 rounds**
(~10 vertices colored per round — a pure driver-latency death march at
scale). The speculative algorithm below colors the same graph in
**9 rounds** (6 at sf0.01, 5 at sf0.001), measured with an identical
pure-python simulation, because progress per round is an independent-
set fraction of the CONFLICT graph (same-proposal neighbors), not of
the priority DAG.

Round r, every uncolored vertex v simultaneously:
  1. used(v)  = distinct colors of v's already-colored neighbors
  2. t(v, r)  = hash(v, r) mod 2*(|used|+1)    -- palette offset; the
     factor 2 trades ~2x more colors for a near-conflict-free proposal
     spread (measured: 9 rounds/230 colors vs 68 rounds/68 colors with
     a min-color proposal on the dense graph)
  3. propose the smallest free color >= t  (a free color always exists
     in [t, t+|used|], so the candidate range is bounded by saturation
     — never a per-vertex collect_set, and hub candidate rows stream
     through ordinary shuffles)
  4. conflict resolution: among adjacent same-color proposers the
     higher deterministic priority commits, the lower retries next
     round. The globally highest-priority uncolored vertex can never
     lose, so every round commits at least one vertex (termination).

Scale shape per round: one gather join over the todo-restricted
symmetric edges (O(E_todo)), partial-agg'd counts, a bounded candidate
explode (Σ saturation+1 <= E+V rows), and a proposal-conflict join that
touches only edges between two CURRENT proposers. The per-round
uncolored count rides the state checkpoint as an Observation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import SuperstepEngine
from planar_spark.graph.tables import GraphTables

PRIO_MULT = 2654435761  # Knuth's 2^32 golden-ratio multiplier
PRIO_MOD = 2**32
ROUND_MULT = 40503  # 16-bit golden-ratio constant for the round mix


def _prio(col):
    """(vid * PRIO_MULT) mod 2^32, overflow-safe at ANY int64 vid.

    A naive ``col * PRIO_MULT`` wraps int64 for vid >= ~3.47e9 (silent
    wraparound, or an error under spark.sql.ansi.enabled) and would
    diverge from the arbitrary-precision python/DuckDB oracles at
    multi-billion-vertex scale. Identity used: a*M mod m ==
    ((a mod m)*M) mod m, then the 32-bit residue is split into 16-bit
    halves so every intermediate stays below 2^48. Bit-identical to the
    naive product for all vid (asserted vs big-int python in tests)."""
    v = F.pmod(col.cast("long"), F.lit(PRIO_MOD))
    lo = v.bitwiseAND(F.lit((1 << 16) - 1))
    hi = F.shiftright(v, 16)
    term_lo = F.pmod(lo * F.lit(PRIO_MULT), F.lit(PRIO_MOD))
    term_hi = F.pmod(
        F.pmod(hi * F.lit(PRIO_MULT), F.lit(PRIO_MOD)) * F.lit(1 << 16),
        F.lit(PRIO_MOD),
    )
    return F.pmod(term_lo + term_hi, F.lit(PRIO_MOD))


def _round_hash(vid_col, round_no: int):
    """Deterministic per-(vertex, round) hash, int64-overflow-safe:
    every intermediate stays < 2^32 * 40503 < 2^63."""
    return F.pmod(
        (_prio(vid_col) + F.lit(round_no)) * F.lit(ROUND_MULT),
        F.lit(PRIO_MOD),
    )


def _round_commits(
    todo: DataFrame, sym: DataFrame, colored: DataFrame, round_no: int
) -> DataFrame:
    """One speculative round: (vid, pc) commits for the given todo set.

    Proposal = smallest free color >= hashed offset, via a bounded
    candidate explode + anti-join (NEVER a per-vertex collect_set —
    a hub's aggregation buffer would be unbounded); conflict losers
    (adjacent same-color proposers of lower priority) are removed."""
    colored_nn = colored.where(F.col("color").isNotNull())
    used = (
        sym.join(todo.select(F.col("vid").alias("src")), "src", "left_semi")
        .join(
            colored_nn.select(
                F.col("vid").alias("dst"), F.col("color").alias("ncolor")
            ),
            "dst",
        )
        .select(F.col("src").alias("vid"), "ncolor")
        .distinct()
    )
    st = used.groupBy("vid").agg(F.count(F.lit(1)).alias("n_used"))
    base = todo.join(st, "vid", "left").select(
        "vid", F.coalesce("n_used", F.lit(0)).alias("n_used")
    )
    toff = F.pmod(
        _round_hash(F.col("vid"), round_no),
        (F.col("n_used") + 1) * 2,
    )
    cand = base.select(
        "vid",
        F.explode(
            F.sequence(
                toff.cast("long"), (toff + F.col("n_used")).cast("long")
            )
        ).alias("c"),
    )
    prop = (
        cand.join(
            used.select("vid", F.col("ncolor").alias("c")),
            ["vid", "c"],
            "left_anti",
        )
        .groupBy("vid")
        .agg(F.min("c").alias("pc"))
    )
    p_src = prop.select(F.col("vid").alias("src"), F.col("pc").alias("pc_s"))
    p_dst = prop.select(F.col("vid").alias("dst"), F.col("pc").alias("pc_d"))
    ps = _prio(F.col("src"))
    pd_ = _prio(F.col("dst"))
    losers = (
        sym.join(p_src, "src")
        .join(p_dst, "dst")
        .where(
            (F.col("pc_s") == F.col("pc_d"))
            & ((pd_ > ps) | ((pd_ == ps) & (F.col("dst") > F.col("src"))))
        )
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    return prop.join(losers, "vid", "left_anti")


def greedy_coloring(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_rounds: int = 60,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Returns (vid, color) — a proper coloring, deterministic. Runs on
    ``SuperstepEngine``, one superstep per round; raises RuntimeError
    when ``max_rounds`` rounds leave a vertex uncolored.

    Durable resume: with ``config.checkpoint_dir`` set, the partial
    coloring is checkpointed at round 0 (all uncolored) and every
    ``config.checkpoint_every``-th round; ``resume=True`` with the same
    ``run_id`` continues at the next round, and runs none when the
    restored round colored the last vertex. The round NUMBER is the
    engine's superstep number, restored with the state, because it
    seeds ``_round_hash`` — a resumed run replays the exact same
    proposal sequence and lands on the identical coloring (asserted in
    tests/test_loop_resume.py).
    """
    config = config or EngineConfig()
    spark = graph.spark
    sym = graph.symmetric_edges_by_src(config.partitions_for(spark)).persist()

    def step(colored: DataFrame, r: int) -> tuple[DataFrame, dict]:
        todo = colored.where(F.col("color").isNull()).select("vid")
        commit = _round_commits(todo, sym, colored, r)
        obs = Observation()
        return (
            colored.join(commit, "vid", "left")
            .select("vid", F.coalesce("color", "pc").alias("color"))
            .observe(
                obs,
                F.sum(F.col("color").isNull().cast("long")).alias("n_uncolored"),
            ),
            {"_obs": obs},
        )

    engine = SuperstepEngine(spark, config, "coloring", run_id=run_id)
    try:
        result = engine.run(
            lambda: graph.vertices.select(
                "vid", F.lit(None).cast("long").alias("color")
            ),
            step,
            max_rounds,
            lambda m: not m.get("n_uncolored"),
            resume=resume,
        )
    finally:
        sym.unpersist()
    if not result.converged:
        raise RuntimeError(
            f"greedy_coloring: vertices left uncolored after {max_rounds} "
            "rounds; raise max_rounds"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = result.steps_run
    return result.state
