"""Betweenness centrality — k-source Brandes over the directed graph.

Not a reference kernel (the reference's centrality surface stops at
PageRank/HITS/closeness-style measures); added as the standard missing
link-graph centrality: which pages sit on the most shortest paths —
navigational chokepoints, link hubs bridging communities.

Algorithm: Brandes (2001) restricted to a deterministic sample of k
sources (Brandes & Pich 2007 estimator: bc(v) ~ (|V|/k) * sum over
sampled sources s of the dependency delta_s(v)); with sources = all
vertices it IS exact Brandes. Both phases are batched over ALL k
sources in lockstep — one DataFrame with an ``s`` column — so the
round count is the graph diameter, not k * diameter:

- forward: multi-source BFS carrying sigma (= number of shortest
  s->v paths). Frontier at depth d joined to edges (on ``src``, the
  edge table's partitioning key), per-(s,dst) sigma sums, anti-join
  against the reached set. Per-round shuffle is O(frontier
  neighborhood), never O(k*V).
- backward: dependencies accumulate level-by-level from the deepest
  BFS level up: delta(v) = sum over edges v->w with depth(w) =
  depth(v)+1 of sigma(v)/sigma(w) * (1 + delta(w)). Each level is one
  join bounded by the level's size.

Scale shape: state is O(k*V) rows (the reached table) — k is the
caller's memory/accuracy dial; the per-round work is frontier-sized.
Counts ride Observations on the frontier checkpoints (zero standalone
count jobs). Determinism: source sampling is top-out-degree with vid
tie-break, so results are exactly reproducible and oracle-checkable.

Durable resume: both phases run on ``SuperstepEngine`` under kernel
``betweenness``, one superstep per BFS depth or dependency level. The
state is the frontier during the forward phase and the current level
``cur`` during the backward phase; it carries the reached set and the
finished levels' dependencies (``acc``), and the round metrics hold
the phase, depth, next backward level and the sources. With
``config.checkpoint_dir`` set, round 0 and every
``config.checkpoint_every``-th round write all three tables;
``resume=True`` with the same ``run_id`` re-enters the interrupted
phase at the next round — the same contract as msf/scc/kcore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import maybe_broadcast
from planar_spark.graph.superstep import (
    SuperstepEngine,
    empty_table,
    materialize,
)
from planar_spark.graph.tables import GraphTables

_ACC_SCHEMA = "s long, vid long, delta double"
_REACHED_SCHEMA = "s long, vid long, sigma double, depth int"


def top_degree_sources(graph: GraphTables, k: int) -> list[int]:
    """Deterministic source sample: k max-out-degree vids, vid asc on
    ties (hubs first — the sources whose BFS DAGs cover the most
    pairs, and the same seed rule the BFS partitioners use).

    NOTE: the |V|/k Brandes-Pich scale is only an UNBIASED estimator
    for uniformly sampled sources; over hub sources the scaled values
    are a deterministic heuristic score that systematically overweights
    hub-neighborhood vertices (r6 ADVICE). Callers who want the
    estimator's statistical meaning should use ``uniform_sources`` /
    ``source_sample="uniform"``."""
    rows = (
        graph.degrees.orderBy(F.col("out_deg").desc(), F.col("vid").asc())
        .limit(k)
        .select("vid")
        .collect()
    )
    return [int(r["vid"]) for r in rows]


def uniform_sources(graph: GraphTables, k: int) -> list[int]:
    """Deterministic UNIFORM source sample: the k smallest md5(vid)
    values. md5 is independent of degree and graph structure, so this
    is a fixed uniform draw from V — the sampling regime under which
    the |V|/k Brandes-Pich scale is an unbiased estimate — while
    staying exactly reproducible (same graph -> same sources). One
    TakeOrdered job (O(V) scan, k rows to the driver)."""
    rows = (
        graph.vertices.orderBy(
            F.md5(F.col("vid").cast("string")).asc(), F.col("vid").asc()
        )
        .limit(k)
        .select("vid")
        .collect()
    )
    return [int(r["vid"]) for r in rows]


def betweenness(
    graph: GraphTables,
    sources: list[int] | None = None,
    num_sources: int = 16,
    estimate: bool = True,
    config: EngineConfig | None = None,
    max_depth: int = 200,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
    source_sample: str = "top_degree",
) -> DataFrame:
    """(vid, bc) over ALL vertices.

    ``sources=None`` samples ``num_sources`` deterministically per
    ``source_sample``: ``"top_degree"`` (default — max-coverage hub
    sources; the |V|/k-scaled result is then a deterministic heuristic
    SCORE, systematically overweighting hub neighborhoods, not an
    unbiased estimate) or ``"uniform"`` (k smallest md5(vid) — a fixed
    uniform draw, under which the |V|/k scale IS the Brandes-Pich
    estimator; quantified in bench extras ``betweenness_est_*``:
    top-100 overlap and Spearman rank correlation vs the exact run).
    ``estimate=True`` applies the |V|/k scale; with ``estimate=False``
    and sources = all vertices the result is exact betweenness.
    ``metrics_out`` receives ``depth``, ``frontier_sizes`` and
    ``num_sources``.
    """
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    if sources is not None and not sources:
        return graph.vertices.select("vid", F.lit(0.0).alias("bc"))
    c = {"phase": "fwd", "depth": 0, "n": 0, "d_next": -1,
         "sources": [], "frontier_sizes": []}
    held: dict = {}  # the persisted reached set, released on exit

    def keep(reached: DataFrame) -> DataFrame:
        reached = reached.persist()
        reached.count()
        if "reached" in held:
            held["reached"].unpersist()
        held["reached"] = reached
        return reached

    def init() -> tuple[dict, dict]:
        srcs = sources
        if srcs is None:
            if source_sample == "uniform":
                srcs = uniform_sources(graph, num_sources)
            elif source_sample == "top_degree":
                srcs = top_degree_sources(graph, num_sources)
            else:
                raise ValueError(f"unknown source_sample: {source_sample!r}")
        c.update(sources=[int(s) for s in srcs], n=len(srcs),
                 frontier_sizes=[len(srcs)])
        src_df = spark.createDataFrame([(s,) for s in c["sources"]], "s long")
        return {
            "state": src_df.select(
                "s", F.col("s").alias("vid"), F.lit(1.0).alias("sigma")
            ),
            "reached": empty_table(spark, _REACHED_SCHEMA),
            "acc": empty_table(spark, _ACC_SCHEMA),
        }, dict(c)

    def step(t: dict, _rnd: int) -> tuple[dict, dict]:
        reached, acc = t["reached"], t["acc"]
        if c["phase"] == "bwd" and "reached" not in held:
            reached = keep(reached)  # the checkpoint copy a resume read
        if c["phase"] == "fwd":
            # ---- forward: multi-source BFS with path counts ----------
            # the reached set lags the frontier by one level: fold the
            # input frontier (depth c["depth"]) in before expanding it
            if c["n"]:
                reached = keep(reached.unionByName(
                    t["state"].withColumn("depth", F.lit(c["depth"]))
                ))
            if c["n"] and c["depth"] < max_depth:
                cand = (
                    maybe_broadcast(
                        t["state"].select("s", F.col("vid").alias("src"), "sigma"),
                        c["n"],
                    )
                    .join(edges, "src")
                    .groupBy("s", F.col("dst").alias("vid"))
                    .agg(F.sum("sigma").alias("sigma"))
                )
                obs = Observation()
                frontier = cand.join(
                    reached.select("s", "vid"), ["s", "vid"], "left_anti"
                ).observe(obs, F.count(F.lit(1)).alias("n"))
                return (
                    {"state": frontier, "reached": reached, "acc": acc},
                    {"_obs": obs},
                )
            # the frontier is empty or at max_depth: its deepest level
            # (delta = 0) starts the backward phase
            c.update(phase="bwd", d_next=c["depth"] - 1)
            cur = (
                reached.where(F.col("depth") == c["depth"])
                .select("s", "vid", "sigma")
                .withColumn("delta", F.lit(0.0))
            )
            if c["d_next"] < 0:
                return {"state": cur, "reached": reached, "acc": acc}, {}
        else:
            cur = t["state"]
        # ---- backward: level-by-level dependency accumulation --------
        d = c["d_next"]
        lvl = reached.where(F.col("depth") == d).select("s", "vid", "sigma")
        contrib = (
            lvl.join(edges.select(F.col("src").alias("vid"), "dst"), "vid")
            .join(
                cur.select(
                    "s",
                    F.col("vid").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                ["s", "dst"],
            )
            .groupBy("s", "vid")
            .agg(
                F.sum(
                    F.col("sigma")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        c["d_next"] = d - 1
        return {
            "state": lvl.join(contrib, ["s", "vid"], "left").select(
                "s", "vid", "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            ),
            "reached": reached,
            "acc": acc.unionByName(cur.select("s", "vid", "delta")),
        }, {}

    def settle(m: dict) -> bool:
        if "phase" in m:  # round 0 or the restored round
            c.update((key, m[key]) for key in c)
        else:
            if "n" in m:  # a forward level
                c["n"] = m["n"]
                if m["n"]:
                    c["depth"] += 1
                    c["frontier_sizes"].append(m["n"])
            m.update(c)
        return c["phase"] == "bwd" and c["d_next"] < 0

    # parallel edges don't create additional shortest paths — dedup once
    # (one shuffle at kernel entry, reused by every forward AND backward
    # round from the cache)
    edges = (
        graph.edges.select("src", "dst")
        .distinct()
        .repartition(parts, "src")
        .persist()
    )
    try:
        edges.count()
        engine = SuperstepEngine(spark, config, "betweenness", run_id=run_id)
        # each phase takes at most max_depth + 1 rounds
        result = engine.run(init, step, 2 * max_depth + 2, settle, resume=resume)
        # source rows (depth 0) contribute nothing to their own score:
        # Brandes sums delta_s(v) over v != s.
        acc = result.tables["acc"].unionByName(
            result.state.select("s", "vid", "delta")
        )
        k = len(c["sources"])
        scale = (graph.num_vertices / k) if estimate and k else 1.0
        bc = (
            acc.where(F.col("vid") != F.col("s"))
            .groupBy("vid")
            .agg((F.sum("delta") * F.lit(float(scale))).alias("bc"))
        )
        out = materialize(
            graph.vertices.select("vid")
            .join(bc, "vid", "left")
            .select("vid", F.coalesce("bc", F.lit(0.0)).alias("bc"))
            .repartition(parts, "vid")
        )
    finally:
        if "reached" in held:
            held["reached"].unpersist()
        edges.unpersist()
    if metrics_out is not None:
        metrics_out["depth"] = c["depth"]
        metrics_out["frontier_sizes"] = c["frontier_sizes"]
        metrics_out["num_sources"] = len(c["sources"])
    return out
