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
  (merge-join), groupBy(dst).sum.
- hub phase: same shape over a reversed edge table built once, hash-
  partitioned and sorted by the reversed src (= original dst) and
  cached, so this gather is ALSO a zero-exchange merge join.
- hubs: both hub id sets (high out-degree for the auth phase, high
  in-degree for the hub phase) reach the driver in one action, and each
  side's hub edges are split off once per call (graph/skew.py
  ``split_hubs``). The raw hub/auth value of each hub rides the state's
  Observation next to the column sums, so a hub's edges are gathered as
  a projection of the cached split table, never re-keyed per phase.

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
from planar_spark.graph.skew import gather_join, split_hubs, top_hubs
from planar_spark.graph.superstep import SuperstepEngine, SuperstepResult
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
    out_hubs = in_hubs = None
    if bs:
        fwd = block_pinned_edges(graph, parts).persist()
        rev = block_pinned_edges(graph, parts, reverse=True).persist()
    else:
        fwd = graph.edges  # (src, dst), partitioned+sorted by src, cached
        # partitioned and sorted by the reversed src (= the forward dst)
        # so the hub-phase gather is a merge join too
        rev = graph.reversed_edges_by_src(parts).persist()
        # Both hub id sets (out-degree for the auth gather, in-degree
        # for the hub gather) come to the driver in ONE action; each
        # side's hub edges are then split off once for the whole call.
        t = config.hub_degree_threshold
        in_deg = rev.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("in_deg")
        )
        both = (
            top_hubs(graph.degrees, t).select(F.lit(0).alias("side"), "vid")
            .unionAll(top_hubs(in_deg, t, "in_deg").select(F.lit(1), "vid"))
            .collect()
        )
        out_hubs = split_hubs(
            fwd, [r.vid for r in both if r.side == 0], parts, "_hub_out"
        )
        in_hubs = split_hubs(
            rev, [r.vid for r in both if r.side == 1], parts, "_hub_in"
        )
    splits = [h for h in (out_hubs, in_hubs) if h is not None]
    for h in splits:
        h.table.persist()

    base = graph.degrees.select("vid")  # one row per vertex, vid-partitioned

    # Both column sums ride every state materialization as an
    # Observation and the next phase inlines its normalizer as a
    # literal — same r8 restructure as pagerank's dangling mass (the
    # old in-plan 1-row aggregate cost a state scan + 2 agg stages + a
    # broadcast per phase; values identical modulo FP partial-sum
    # order, already nondeterministic before). A resumed run's
    # checkpointed state carries no Observation: its sums cost one
    # driver action instead, so every phase plan has one shape. Each
    # split's raw hub values ride the same Observation and action.
    carried_exprs = [F.sum("hub").alias("_hs"), F.sum("auth").alias("_as")]
    if out_hubs is not None:
        carried_exprs.append(out_hubs.observed(F.col("hub")))
    if in_hubs is not None:
        carried_exprs.append(in_hubs.observed(F.col("auth")))
    carry: dict = {}

    def _observed(df: DataFrame) -> DataFrame:
        carry["obs"] = obs = Observation()
        return df.observe(obs, *carried_exprs)

    def _carried(state: DataFrame):
        obs = carry.get("obs")
        return obs.get if obs is not None else state.agg(*carried_exprs).first()

    def _sums(got) -> tuple[float, float]:
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
        got = _carried(state)
        s = _sums(got)[0 if src_col == "hub" else 1]
        live = state.select("vid", (F.col(src_col) / F.lit(s)).alias("x"))
        msgs = gather_join(edges, live, bs).select("dst", "x")
        if hubs is not None:
            msgs = msgs.unionByName(hubs.contribs(got, div=s))
        contribs = msgs.groupBy(F.col("dst").alias("vid")).agg(
            F.sum("x").alias("_c")
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

    fwd_rest = out_hubs.rest if out_hubs else fwd
    rev_rest = in_hubs.rest if in_hubs else rev

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        if k % 2 == 1:  # auth phase: gather hub over forward edges
            return _gather(state, "hub", "auth", fwd_rest, out_hubs, "hub"), {}
        # hub phase: gather auth over reversed edges
        return _gather(state, "auth", "hub", rev_rest, in_hubs, "auth"), {}

    engine = engine or SuperstepEngine(
        spark, config, "hits",
        lineage={"num_vertices": graph.num_vertices, "num_edges": graph.num_edges},
    )
    result = engine.run(init_state, step, 2 * num_iterations, resume=resume)
    # Final one-shot L1 normalization; the final state's sums were
    # observed on its own materialization, so they fold in as literals.
    hs, as_ = _sums(_carried(result.state))
    normalized = result.state.select(
        "vid",
        (F.col("hub") / F.lit(hs)).alias("hub"),
        (F.col("auth") / F.lit(as_)).alias("auth"),
    )
    rev.unpersist()
    if bs:
        fwd.unpersist()
    for h in splits:
        h.table.unpersist()
    return SuperstepResult(
        normalized, result.steps_run, result.converged, result.metrics
    )
