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
- layout: graph/skew.py ``gather_edges`` picks each side's edge table
  once per call — block-pinned on a with_partitioning graph, else the
  hash layout with its hubs (high out-degree for the auth phase, high
  in-degree for the hub phase) split off, one driver job per side. The
  raw hub/auth value of each hub rides the state's Observation next to
  the column sums, so a hub's edges are gathered as a projection of the
  cached split table, never re-keyed per phase.

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
from planar_spark.graph.skew import gather_edges
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
    # the auth phase gathers hub over the out-edges, the hub phase auth
    # over the in-edges; each side's layout and hub split are picked
    # once per call (graph/skew.py gather_edges)
    fwd = gather_edges(graph, config, "out")
    rev = gather_edges(graph, config, "in")

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
    if fwd.hubs is not None:
        carried_exprs.append(fwd.hubs.observed(F.col("hub")))
    if rev.hubs is not None:
        carried_exprs.append(rev.hubs.observed(F.col("auth")))
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

    def _gather(state, src_col, dst_col, gather, keep):
        """Normalize state[src_col] by the carried sum, gather, return
        the full state."""
        got = _carried(state)
        s = _sums(got)[0 if src_col == "hub" else 1]
        live = state.select("vid", (F.col(src_col) / F.lit(s)).alias("x"))
        msgs = gather.join(live).select("dst", "x")
        if gather.hubs is not None:
            msgs = msgs.unionByName(gather.hubs.contribs(got, div=s))
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

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        if k % 2 == 1:  # auth phase: gather hub over forward edges
            return _gather(state, "hub", "auth", fwd, "hub"), {}
        # hub phase: gather auth over reversed edges
        return _gather(state, "auth", "hub", rev, "auth"), {}

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
    fwd.release()
    rev.release()
    return SuperstepResult(
        normalized, result.steps_run, result.converged, result.metrics
    )
