"""HITS (hubs & authorities) — Kleinberg's link-analysis kernel.

The reference ships PageRank as its only link-analysis app
(core/apps/pagerank_app.h:38-99); HITS is the other classic web-graph
ranking and composes from the same dataflow primitives (gather over
in-edges for authorities, over out-edges for hubs — P7/P16 in
SURVEY.md §2.1), so we provide it as a first-class kernel:

    auth_k(v) = Σ_{u→v} hub_{k-1}(u) / Σ_u hub_{k-1}(u)
    hub_k(u)  = Σ_{u→v} auth_k(v)    / Σ_v auth_k(v)

Engine mapping — one HITS iteration = TWO supersteps (auth phase, hub
phase), so each gather's output is materialized exactly once and never
recomputed as the input subtree of the next gather:

- auth phase: normalize hub by the column sum observed on the previous
  state's materialization (inlined literal — the r8 dangling-mass trick
  from pagerank.py), gather over the src-partitioned forward edges
  (merge-join, hub-salted), groupBy(dst).sum.
- hub phase: same shape over a reversed edge table built once, hash-
  partitioned and sorted by the reversed src (= original dst) and
  cached, so this gather is ALSO a zero-exchange merge join; its skew
  set is the high IN-degree vertices.

Normalizing only the input column each phase keeps every stored value
bounded by max-degree (no growth across iterations, no per-step output
normalization barrier); hub/auth are each defined up to a positive
scalar, so the final one-shot L1 normalization (the final state's
observed sums, inlined as literals) yields exactly the per-step-
normalized fixpoint trajectory.

Scale notes: per superstep the only shuffles are the O(V) state
broadcast-side of the merge join and the partial-aggregated
groupBy(dst) — one row per (task, dst). The reversed edge cache doubles
edge storage; at 100 TB that is the price of making BOTH gathers
co-partitioned merge joins (the alternative — shuffling the full edge
set by dst every iteration — is strictly worse after 1 iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.locality import block_pinned_edges, effective_block_size
from planar_spark.graph.skew import hub_vertices, salted_gather_join
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult, materialize
from planar_spark.graph.tables import GraphTables


def hits(
    graph: GraphTables,
    config: EngineConfig | None = None,
    num_iterations: int = 4,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (vid, hub, auth), each column L1-normalized.

    Requires a graph with at least one edge (otherwise the
    normalizations are 0/0 by construction).
    """
    config = config or EngineConfig()
    if graph.num_edges == 0:
        raise ValueError(
            "hits requires at least one edge (normalizations are 0/0 "
            "on an empty edge set)"
        )
    spark = graph.spark
    parts = config.partitions_for(spark)

    # Layout-aware gathers (r7): on a with_partitioning graph both edge
    # tables pin by locality block — the reversed table's src is still a
    # vid, so the same sblk = src div block_size names its block.
    # Cost-aware consumption (r8): fall back to the hash gather below
    # config.locality_min_edges — identical results, see config doc
    bs = effective_block_size(graph, config)
    if bs:
        fwd = block_pinned_edges(graph, parts).persist()
        rev = block_pinned_edges(graph, parts, reverse=True).persist()
    else:
        fwd = graph.edges  # (src, dst), partitioned+sorted by src, cached
        # partitioned and sorted by the reversed src (= the forward dst)
        # so the hub-phase gather is a merge join too
        rev = graph.reversed_edges_by_src(parts).persist()
    # Both hub sets (out-degree for the auth gather, in-degree for the
    # hub gather) ride ONE driver action: union the two tiny filtered
    # sets, observe the per-side counts on the materialization job, and
    # keep the result as a leaf so later per-superstep broadcasts of a
    # non-empty hub set never re-run the O(E) in-degree aggregation.
    in_deg = rev.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    both = hub_vertices(graph.degrees, config.hub_degree_threshold).select(
        F.lit(0).alias("side"), "vid"
    ).unionAll(
        hub_vertices(in_deg, config.hub_degree_threshold).select(
            F.lit(1).alias("side"), "vid"
        )
    )
    obs = Observation()
    hubs_leaf = materialize(
        both.observe(
            obs,
            F.sum((F.col("side") == 0).cast("long")).alias("n_out"),
            F.sum((F.col("side") == 1).cast("long")).alias("n_in"),
        )
    )
    probe = obs.get
    out_hubs = (
        hubs_leaf.where(F.col("side") == 0).select("vid")
        if int(probe["n_out"] or 0)
        else None
    )
    in_hubs = (
        hubs_leaf.where(F.col("side") == 1).select("vid")
        if int(probe["n_in"] or 0)
        else None
    )

    base = graph.degrees.select("vid")  # one row per vertex, vid-partitioned

    # Both column sums ride every state materialization as an
    # Observation and the next phase inlines its normalizer as a
    # literal — same r8 restructure as pagerank's dangling mass (the
    # old in-plan 1-row aggregate cost a state scan + 2 agg stages + a
    # broadcast per phase; values identical modulo FP partial-sum
    # order, already nondeterministic before). A resumed run's
    # checkpointed state carries no Observation: its sums cost one
    # driver action instead, so every phase plan has one shape.
    sums = (F.sum("hub").alias("_hs"), F.sum("auth").alias("_as"))
    carry: dict = {}

    def _observed(df: DataFrame) -> DataFrame:
        carry["obs"] = obs = Observation()
        return df.observe(obs, *sums)

    def _sums(state: DataFrame) -> tuple[float, float]:
        obs = carry.get("obs")
        got = obs.get if obs is not None else state.agg(*sums).first()
        return float(got["_hs"] or 0.0), float(got["_as"] or 0.0)

    def init_state() -> DataFrame:
        return _observed(
            base.select(
                "vid", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth")
            )
        )

    def _gather(state, src_col, dst_col, edges, hubs, keep):
        """Normalize state[src_col] by the carried sum, gather, return
        the full state."""
        s = _sums(state)[0 if src_col == "hub" else 1]
        live = state.select("vid", (F.col(src_col) / F.lit(s)).alias("w"))
        gathered = salted_gather_join(
            edges, live, config, hubs=None if bs else hubs, block_size=bs
        )
        contribs = gathered.groupBy(F.col("dst").alias("vid")).agg(
            F.sum("w").alias("_c")
        )
        return _observed(
            state.select("vid", keep)
            .join(contribs, "vid", "left")
            .select(
                "vid",
                *(
                    [F.coalesce("_c", F.lit(0.0)).alias(dst_col), keep]
                    if dst_col == "hub"
                    else [keep, F.coalesce("_c", F.lit(0.0)).alias(dst_col)]
                ),
            )
            .select("vid", "hub", "auth")
        )

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        if k % 2 == 1:  # auth phase: gather hub over forward edges
            return _gather(state, "hub", "auth", fwd, out_hubs, "hub"), {}
        # hub phase: gather auth over reversed edges
        return _gather(state, "auth", "hub", rev, in_hubs, "auth"), {}

    engine = engine or SuperstepEngine(
        spark, config, "hits",
        lineage={"num_vertices": graph.num_vertices, "num_edges": graph.num_edges},
    )
    result = engine.run(init_state, step, 2 * num_iterations, resume=resume)
    # Final one-shot L1 normalization; the final state's sums were
    # observed on its own materialization, so they fold in as literals.
    hs, as_ = _sums(result.state)
    normalized = result.state.select(
        "vid",
        (F.col("hub") / F.lit(hs)).alias("hub"),
        (F.col("auth") / F.lit(as_)).alias("auth"),
    )
    rev.unpersist()
    if bs:
        fwd.unpersist()
    return SuperstepResult(
        normalized, result.steps_run, result.converged, result.metrics
    )
