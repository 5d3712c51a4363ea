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

Durable resume: with ``config.checkpoint_dir`` set, the loop state is
written through RoundStore every ``config.checkpoint_every``
combined rounds (forward depth r = round r; backward level d = round
depth + (depth - d)), including which phase the run was in;
``resume=True`` with the same ``run_id`` re-enters the interrupted
phase at the next round — the same contract as msf/scc/kcore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import maybe_broadcast
from planar_spark.graph.superstep import RoundStore, materialize
from planar_spark.graph.tables import GraphTables

_ACC_SCHEMA = "s long, vid long, delta double"


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
    max_rounds: int | None = None,
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
    ``max_rounds`` caps the COMBINED forward+backward round count
    (crash simulation for the resume tests); a capped run returns the
    partial accumulation — resume to finish it.
    """
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    ckpt = RoundStore(spark, config, "betweenness", run_id=run_id)

    # ---- restore -----------------------------------------------------
    phase = "fwd"
    depth = 0
    d_next: int | None = None  # next backward level to process
    frontier_sizes: list[int] = []
    reached: DataFrame | None = None
    frontier: DataFrame | None = None
    cur: DataFrame | None = None
    acc: DataFrame | None = None
    n_frontier = 0
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            _rnd, tables, m = latest
            phase = m["phase"]
            depth = int(m["depth"])
            sources = [int(s) for s in m["sources"]]
            frontier_sizes = list(m.get("frontier_sizes", []))
            reached = tables["reached"].repartition(parts, "vid").persist()
            reached.count()
            if phase == "fwd":
                frontier = tables["frontier"]
                n_frontier = int(m["n_frontier"])
            else:
                cur = tables["cur"]
                acc = tables["acc"]
                d_next = int(m["d_next"])
    if sources is None:
        if source_sample == "uniform":
            sources = uniform_sources(graph, num_sources)
        elif source_sample == "top_degree":
            sources = top_degree_sources(graph, num_sources)
        else:
            raise ValueError(f"unknown source_sample: {source_sample!r}")
    if not sources:
        return graph.vertices.select("vid", F.lit(0.0).alias("bc"))

    # parallel edges don't create additional shortest paths — dedup once
    # (one shuffle at kernel entry, reused by every forward AND backward
    # round from the cache)
    edges = (
        graph.edges.select("src", "dst")
        .distinct()
        .repartition(parts, "src")
        .persist()
    )
    edges.count()

    rounds_left = max_rounds if max_rounds is not None else (1 << 30)

    def save(rnd: int, tables: dict, extra: dict) -> None:
        ckpt.save(
            rnd,
            tables,
            {
                "phase": phase,
                "depth": depth,
                "sources": [int(s) for s in sources],
                "frontier_sizes": frontier_sizes,
                **extra,
            },
        )

    # ---- forward: multi-source BFS with path counts ------------------
    if reached is None:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "s long")
        frontier = materialize(
            src_df.select(
                "s", F.col("s").alias("vid"), F.lit(1.0).alias("sigma")
            )
        )
        n_frontier = len(sources)
        reached = frontier.withColumn("depth", F.lit(0)).persist()
        reached.count()
        frontier_sizes = [n_frontier]
    while phase == "fwd":
        if n_frontier == 0 or depth >= max_depth:
            phase = "bwd"
            d_next = depth - 1
            break
        if rounds_left <= 0:
            break
        rounds_left -= 1
        depth += 1
        cand = (
            maybe_broadcast(
                frontier.select("s", F.col("vid").alias("src"), "sigma"),
                n_frontier,
            )
            .join(edges, "src")
            .groupBy("s", F.col("dst").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        obs = Observation()
        new_frontier = materialize(
            cand.join(reached.select("s", "vid"), ["s", "vid"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n_frontier = int(obs.get["n"])
        if n_frontier == 0:
            depth -= 1
            phase = "bwd"
            d_next = depth - 1
            break
        frontier_sizes.append(n_frontier)
        nxt = reached.unionByName(
            new_frontier.withColumn("depth", F.lit(depth))
        ).persist()
        nxt.count()
        reached.unpersist()
        reached = nxt
        frontier = new_frontier
        save(
            depth,
            {"reached": reached, "frontier": frontier},
            {"n_frontier": n_frontier},
        )

    # ---- backward: level-by-level dependency accumulation ------------
    if phase == "bwd" and cur is None:
        # cur = rows at the deepest level with delta = 0; acc collects
        # finished levels' (s, vid, delta)
        cur = (
            reached.where(F.col("depth") == depth)
            .select("s", "vid", "sigma")
            .withColumn("delta", F.lit(0.0))
        )
        acc = spark.createDataFrame([], _ACC_SCHEMA)
    while phase == "bwd" and d_next is not None and d_next >= 0:
        if rounds_left <= 0:
            break
        rounds_left -= 1
        d = d_next
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
        nxt_cur = materialize(
            lvl.join(contrib, ["s", "vid"], "left")
            .select(
                "s",
                "vid",
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
        )
        acc = acc.unionByName(cur.select("s", "vid", "delta"))
        cur = nxt_cur
        d_next = d - 1
        save(
            depth + (depth - d),
            {"reached": reached, "cur": cur, "acc": acc},
            {"d_next": d_next},
        )
    finished = phase == "bwd" and (d_next is None or d_next < 0)
    if finished and cur is not None:
        # source rows (depth 0) contribute nothing to their own score:
        # Brandes sums delta_s(v) over v != s.
        acc = acc.unionByName(cur.select("s", "vid", "delta"))

    scale = (graph.num_vertices / len(sources)) if estimate else 1.0
    bc = (
        acc.where(F.col("vid") != F.col("s"))
        .groupBy("vid")
        .agg((F.sum("delta") * F.lit(float(scale))).alias("bc"))
        if acc is not None
        else spark.createDataFrame([], "vid long, bc double")
    )
    out = materialize(
        graph.vertices.select("vid")
        .join(bc, "vid", "left")
        .select("vid", F.coalesce("bc", F.lit(0.0)).alias("bc"))
        .repartition(parts, "vid")
    )
    if metrics_out is not None:
        metrics_out["depth"] = depth
        metrics_out["frontier_sizes"] = frontier_sizes
        metrics_out["num_sources"] = len(sources)
        metrics_out["finished"] = finished
    reached.unpersist()
    edges.unpersist()
    return out
