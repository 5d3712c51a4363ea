"""Neighborhood function / HyperBall — distance profiling of a web graph.

N(v, r) = |{t : dist(v → t) <= r}| (self included). Summed over v it
gives the graph's neighborhood function, from which effective diameter
and closeness/harmonic centralities derive (Boldi-Vigna, "HyperBall:
beyond 1.5 billion distance computations").

Two modes, same recurrence ball(v, r) = {v} ∪ ⋃_{v→w} ball(w, r-1):

- ``neighborhood_function_exact``: materializes the distinct
  (v, t) reachable-within-r pair set level by level (frontier-style:
  only the NEW pairs of level k join against the edge table, never the
  full closure). Exact; memory is O(Σ_v N(v,r)) — the gate/validation
  mode, fine for small r or bounded graphs.
- ``hyperball``: each vertex carries a HyperLogLog sketch of its ball
  (Spark's built-in Datasketches HLL columns); one superstep = gather
  out-neighbors' sketches (merge join on the reversed edge cache,
  ``hll_union_agg`` partial-aggregates map-side) + ``hll_union`` with
  the own sketch. State is O(V · sketch_bytes) REGARDLESS of r — the
  100 TB mode. Estimates are within HLL error (~1.6% at lgK=12),
  asserted against the exact mode in pytest.

The sketch column is opaque binary and engine-specific, so the hard
cross-system gate runs the exact mode; hyperball itself is validated
by the error-bound pytest (same pattern as embedding ANN vs exact).
"""

from __future__ import annotations

from itertools import accumulate
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import SuperstepEngine, materialize
from planar_spark.graph.tables import GraphTables


def _exact_levels(graph: GraphTables, radius: int):
    """Yield (k, new_pairs, n) for k = 1..radius: ``new_pairs`` is the
    materialized (vid, t) set at exact directed distance k and ``n`` its
    row count (observed on the materialization, no extra job). Only the
    level-k frontier joins the edge table, never the full closure; the
    walk stops early once a level adds no pair."""
    reach = materialize(
        graph.vertices.select(F.col("vid"), F.col("vid").alias("t"))
    )
    frontier = reach
    edges = graph.edges.select("src", "dst").distinct()
    for k in range(1, radius + 1):
        nxt = (
            frontier.join(edges, frontier["t"] == edges["src"])
            .select(frontier["vid"], edges["dst"].alias("t"))
            .distinct()
            .join(reach, ["vid", "t"], "left_anti")
        )
        obs = Observation()
        nxt = materialize(nxt.observe(obs, F.count(F.lit(1)).alias("n")))
        n = int(obs.get["n"] or 0)
        if n == 0:
            return
        yield k, nxt, n
        if k < radius:
            reach = materialize(reach.unionAll(nxt))
            frontier = nxt


def _level_counts(graph: GraphTables, radius: int) -> list[DataFrame]:
    """Per level k, (vid, c<k>): how many targets vid reaches at exact
    distance k."""
    return [
        nxt.groupBy("vid").agg(F.count(F.lit(1)).alias(f"c{k}"))
        for k, nxt, _n in _exact_levels(graph, radius)
    ]


def neighborhood_function_exact(
    graph: GraphTables, radius: int, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, nf) with nf = |{t : dist(vid → t) <= radius}|, exact."""
    pairs = graph.vertices.select(F.col("vid"), F.col("vid").alias("t"))
    for _k, nxt, _n in _exact_levels(graph, radius):
        pairs = pairs.unionAll(nxt)
    return pairs.groupBy("vid").agg(F.count(F.lit(1)).alias("nf"))


def distance_histogram(
    graph: GraphTables, radius: int, config: EngineConfig | None = None
) -> DataFrame:
    """(dist, n_pairs): number of ordered (v, t) pairs at exact directed
    distance dist, for dist in 0..radius (dist 0 = the V self-pairs).

    The level-k frontier of the exact walk IS the set of pairs at
    distance exactly k, so the histogram is one count per level,
    observed on the level checkpoint. The summed prefix gives the
    neighborhood function; the median gives the effective-diameter
    estimate web-graph papers report."""
    counts = [(0, graph.num_vertices)]
    counts += [(k, n) for k, _nxt, n in _exact_levels(graph, radius)]
    return graph.spark.createDataFrame(
        counts, schema="dist long, n_pairs long"
    )


def harmonic_centrality(
    graph: GraphTables, radius: int, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, harmonic): truncated harmonic centrality
    Σ_{t != vid, dist(vid→t) <= radius} 1/dist(vid→t) — Boldi-Vigna's
    centrality of choice for web graphs, here cut at ``radius`` so it
    derives from the same exact frontier levels as the neighborhood
    function (the untruncated value is the radius→∞ limit; HyperBall
    estimates it from sketches at scale).

    Determinism note: the level contributions n_k/k are DOUBLES, and a
    groupBy-sum would add them in partition-dependent order. Instead
    each level's per-vertex NEW-pair count joins the result as its own
    integer column and one fixed left-to-right expression
    c1/1 + c2/2 + ... + cR/R does the float math — bit-identical to the
    SQL oracle's identical expression.

    SCALE NOTE: this exact mode materializes the truncated reachable-
    pair set (O(Σ_v N(v,r)) rows) — the small-radius ORACLE mode. At
    web scale use ``hyperball_centralities``: same recurrence over
    O(V·sketch_bytes) HLL state, error-bounded against this mode in
    pytest (mirrors neighborhood_function_exact vs hyperball)."""
    out = graph.vertices.select("vid")
    terms = []
    for k, lvl in enumerate(_level_counts(graph, radius), 1):
        out = out.join(lvl, "vid", "left")
        terms.append(F.coalesce(f"c{k}", F.lit(0)) / F.lit(float(k)))
    if not terms:
        return out.select("vid", F.lit(0.0).alias("harmonic"))
    h = terms[0]
    for t in terms[1:]:
        h = h + t
    return out.select("vid", F.round(h, 6).alias("harmonic"))


def closeness_centrality(
    graph: GraphTables, radius: int, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, reached, closeness): truncated closeness
    (reached-1) / Σ dist(vid→t) over t reached within ``radius``
    (Wasserman-Faust numerator restricted to the reached set; 0.0 when
    nothing but the vertex itself is reached). Unlike harmonic
    centrality the sufficient statistics here are PURE INTEGERS
    (reached count and total distance), so cross-engine determinism is
    free — the one double division happens after exact integer math.

    SCALE NOTE: exact-closure oracle mode — see harmonic_centrality's
    scale note; ``hyperball_centralities`` is the 100 TB path."""
    out = graph.vertices.select("vid")
    reached = F.lit(1)
    total = F.lit(0)
    for k, lvl in enumerate(_level_counts(graph, radius), 1):
        out = out.join(lvl, "vid", "left")
        c = F.coalesce(f"c{k}", F.lit(0))
        reached = reached + c
        total = total + F.lit(k) * c
    return out.select(
        "vid",
        reached.cast("long").alias("reached"),
        F.round(
            F.when(
                total > 0, (reached - 1).cast("double") / total
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("closeness"),
    )


def _interpolated_diameter(q: float, cumulative: list) -> float:
    """Palmer's interpolated effective diameter over a cumulative curve
    of ``(d, cum(d))`` pairs, d ascending: at the first d whose cum(d)
    covers ``q`` of the last cum, (d-1) + (q·total − cum(d−1)) /
    (cum(d) − cum(d−1)), 0.0 at d = 0; the last d when none does."""
    target = q * cumulative[-1][1]
    prev = 0
    for d, cum in cumulative:
        if cum >= target:
            step = cum - prev
            if d == 0:
                return 0.0
            return (d - 1) + ((target - prev) / step if step > 0 else 0.0)
        prev = cum
    return float(cumulative[-1][0])


def effective_diameter(
    graph: GraphTables,
    radius: int,
    q: float = 0.9,
    config: EngineConfig | None = None,
) -> DataFrame:
    """One row (q, eff_diameter): the standard interpolated effective
    diameter — the (linearly interpolated) distance d at which the
    cumulative count of ordered reachable pairs first covers fraction
    ``q`` of all pairs reachable within ``radius`` (Palmer et al.;
    the scalar web-graph papers report from the neighborhood function).

    Derivation is a prefix-sum over the (<= radius+1)-row distance
    histogram — the histogram job does all the distributed work, the
    interpolation is driver-side arithmetic on a handful of scalars.
    Interpolated: eff = (d-1) + (q·total − cum(d−1)) / hist(d), where d
    is the first distance whose cumulative count reaches the target
    (d=0 degenerates to 0.0). Rounded via F.round on the result plan so
    tie-breaking matches the SQL oracle's ROUND.
    """
    hist = distance_histogram(graph, radius, config).collect()
    counts = sorted((int(r["dist"]), int(r["n_pairs"])) for r in hist)
    total = sum(n for _, n in counts)
    if not counts or total == 0:  # empty graph: no pairs at any distance
        return graph.spark.createDataFrame(
            [(float(q), 0.0)], schema="q double, eff_diameter double"
        )
    dists, ns = zip(*counts)
    eff = _interpolated_diameter(q, list(zip(dists, accumulate(ns))))
    return graph.spark.createDataFrame(
        [(float(q), float(eff))], schema="q double, eff_diameter double"
    ).select("q", F.round("eff_diameter", 6).alias("eff_diameter"))


def _sweep(
    graph: GraphTables,
    radius: int,
    config: EngineConfig | None,
    lg_config_k: int,
    kernel: str,
    run_id: str | None,
    resume: bool,
    carried: tuple = (),
    advance: Callable[[DataFrame, int], DataFrame] | None = None,
    observed: Column | None = None,
    converged_fn: Callable[[dict], bool] | None = None,
) -> DataFrame:
    """The one HyperBall radius loop, on ``SuperstepEngine``: returns the
    (vid, sk, *carried) state after ``radius`` supersteps.

    Superstep r sets ball(v) ∪= ball(w) for each out-edge v→w: the
    reversed edge table keys the join by w (its src column), then ships
    the merged neighbor sketch to v with one partial-agg'd shuffle (the
    same reversed-edge merge join as kernels/hits.py's hub phase).
    ``carried`` are extra state columns over the round-0 (vid, sk) rows;
    ``advance(state, r)`` updates them after the union. ``observed``
    (an aggregate) rides round 0's and every superstep's
    materialization as an Observation, and ``converged_fn`` sees those
    metrics as the engine's stop test.

    Durable resume: with ``config.checkpoint_dir`` set, the state table
    — the sketches are opaque binary, which TableStore round-trips — is
    checkpointed under ``kernel`` at round 0 and every
    ``config.checkpoint_every``-th radius; ``resume=True`` with the same
    ``run_id`` re-enters at the next radius. A run to a smaller radius
    under the same ``run_id`` stops at its own radius, and a later
    resume to a larger one continues from there."""
    config = config or EngineConfig()
    parts = config.partitions_for(graph.spark)
    # the edge multiset: a duplicate row cannot change an HLL union
    rev = graph.reversed_edges_by_src(parts).persist()

    def watched(state: DataFrame) -> tuple[DataFrame, dict]:
        if observed is None:
            return state, {}
        obs = Observation()
        return state.observe(obs, observed), {"_obs": obs}

    def init() -> tuple[DataFrame, dict]:
        return watched(
            graph.vertices.groupBy("vid")
            .agg(F.hll_sketch_agg("vid", F.lit(lg_config_k)).alias("sk"))
            .select("vid", "sk", *carried)
            .repartition(parts, "vid")
        )

    def step(state: DataFrame, r: int) -> tuple[DataFrame, dict]:
        msgs = (
            rev.join(state.select(F.col("vid").alias("src"), "sk"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.hll_union_agg("sk").alias("nsk"))
        )
        merged = F.when(F.col("nsk").isNull(), F.col("sk")).otherwise(
            F.hll_union("sk", "nsk")
        )
        rest = [col for col in state.columns if col not in ("vid", "sk")]
        new = state.join(msgs, "vid", "left").select(
            "vid", merged.alias("sk"), *rest
        )
        return watched(advance(new, r) if advance else new)

    engine = SuperstepEngine(graph.spark, config, kernel, run_id=run_id)
    try:
        result = engine.run(init, step, radius, converged_fn, resume=resume)
        return result.state
    finally:
        rev.unpersist()


def hyperball(
    graph: GraphTables,
    radius: int,
    config: EngineConfig | None = None,
    lg_config_k: int = 12,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, nf_est) — HLL-sketch estimate of the radius-ball size.

    State per superstep is one sketch per vertex. Durable resume (kernel
    name ``hyperball``) is ``_sweep``'s: this is the self-declared
    100 TB diameter path, so a driver loss at radius N of a long sweep
    must not restart from zero.
    """
    state = _sweep(graph, radius, config, lg_config_k, "hyperball",
                   run_id, resume)
    return state.select("vid", F.hll_sketch_estimate("sk").alias("nf_est"))


def hyperball_nf_profile(
    graph: GraphTables,
    radius: int,
    config: EngineConfig | None = None,
    lg_config_k: int = 8,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(r, total_nf_est): the GLOBAL neighborhood function per radius
    0..radius from HyperBall sketches — Σ_v |B(v, r)| estimated, the
    curve web-graph papers integrate for the effective diameter.

    Zero extra actions: each round's global estimate rides the state
    checkpoint job as an ``Observation`` (sum of the per-vertex HLL
    estimates — the [[observation-metrics-trick]] discipline), so the
    profile costs exactly the HyperBall supersteps. State stays
    O(V · sketch_bytes) at any radius; the exact distance_histogram is
    the small-radius oracle (pytest-matched in sparse-exact range).

    PER-ROUND COST IS NOT CONSTANT IN r: ball sizes grow ~(avg deg)^r,
    so by r=3-4 most sketches leave Datasketches' sparse-exact range
    and densify to the full 2^lg_config_k register array — union work
    and shuffled sketch bytes grow accordingly. Measured on the bench
    big graph (9.6M edges) at lgK=10: per-round secs [11.1, 13.1,
    70.2, 100.3] — rounds 1-2 equal plain ``hyperball``'s per-round
    cost, rounds 3-4 are pure densification. That is why THIS GLOBAL
    profile defaults to ``lg_config_k=8`` (unlike the per-vertex
    sketches above): per-vertex error (~6.5% at lgK=8) averages out in
    the Σ_v sum — same graph, lgK=8 measured [2.9, 2.6, 3.5, 3.4] s
    per round (15× faster end-to-end) with the interpolated effective
    diameter agreeing with lgK=10 to 1e-5 (3.887657 vs 3.887669).
    ``metrics_out['round_secs']`` reports per-round wall time so
    benches keep attributing cost to the radius.

    Durable resume: ``_sweep``'s (kernel name ``hyperball_nf``); the
    accumulated global profile and per-round secs ride each round's
    metrics, so a resumed sweep reports the full curve."""
    c: dict = {"profile": [], "round_secs": []}

    def record(m: dict) -> bool:
        if "profile" in m:  # the restored round
            c["profile"] = [(int(r), float(v)) for r, v in m["profile"]]
            c["round_secs"] = [float(x) for x in m["round_secs"]]
        else:
            c["profile"].append((m.get("superstep", 0), float(m["nf"] or 0.0)))
            if "seconds" in m:
                c["round_secs"].append(round(m["seconds"], 3))
            m.update(c)
        return False

    _sweep(
        graph, radius, config, lg_config_k, "hyperball_nf", run_id, resume,
        observed=F.sum(F.hll_sketch_estimate("sk")).alias("nf"),
        converged_fn=record,
    )
    if metrics_out is not None:
        metrics_out["round_secs"] = c["round_secs"]
        metrics_out["profile"] = [(r, round(v, 1)) for r, v in c["profile"]]
    return graph.spark.createDataFrame(
        c["profile"], schema="r long, total_nf_est double"
    )


def effective_diameter_approx(
    graph: GraphTables,
    radius: int,
    q: float = 0.9,
    config: EngineConfig | None = None,
    lg_config_k: int = 8,
    metrics_out: dict | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """One row (q, eff_diameter): interpolated effective diameter from
    the HyperBall neighborhood-function profile — the sketch-mode
    companion to ``effective_diameter`` (which materializes the exact
    truncated closure). Same Palmer-style interpolation, but over the
    O(radius) global NF estimates: eff = (d-1) + (q·NF(R) − NF(d−1)) /
    (NF(d) − NF(d−1)) at the first d where NF(d) covers the target.
    The q-quantile is taken against NF(radius) (the pairs reachable
    within the truncation radius), mirroring the exact kernel."""
    prof = {
        int(r["r"]): float(r["total_nf_est"])
        for r in hyperball_nf_profile(
            graph, radius, config, lg_config_k, metrics_out=metrics_out,
            run_id=run_id, resume=resume,
        ).collect()
    }
    if not prof or max(prof.values()) <= 0.0:
        return graph.spark.createDataFrame(
            [(float(q), 0.0)], schema="q double, eff_diameter double"
        )
    eff = _interpolated_diameter(q, sorted(prof.items()))
    return graph.spark.createDataFrame(
        [(float(q), float(eff))], schema="q double, eff_diameter double"
    ).select("q", F.round("eff_diameter", 6).alias("eff_diameter"))


def hyperball_centralities(
    graph: GraphTables,
    radius: int,
    config: EngineConfig | None = None,
    lg_config_k: int = 12,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """(vid, nf_est, harmonic_est, closeness_est): truncated harmonic
    and closeness centrality estimated from HyperBall's HLL counters —
    Boldi-Vigna's actual production path ("HyperBall: beyond 1.5
    billion distance computations", §2: any Σ f(dist) decomposes over
    the per-radius ball-size deltas).

    Per superstep r the sketch union is the same reversed-edge merge
    join as ``hyperball``; the NEW work is three pure column
    expressions on the union projection (no extra shuffle, no extra
    job):

        est_r       = hll_sketch_estimate(sk_r)
        delta_r     = est_r - est_{r-1}      (#vertices at distance ~r)
        harmonic   += delta_r / r
        dist_total += r * delta_r

    and closeness_est = (est_R - 1) / dist_total at the end — the same
    Wasserman-Faust truncation the exact kernel computes. ``ecc_est``
    rides the same deltas for free: the truncated out-eccentricity
    min(ecc(v), radius) is the last radius whose ball still grew
    (delta_r > 0.5 — deltas are integral in the sparse-exact range and
    clamped wobble can't cross the half-vertex threshold in dense
    range). The HLL
    registers only grow under union, but the Datasketches ESTIMATOR is
    not strictly monotone across its sparse/dense/bias-corrected mode
    switches, so a per-round estimate can wobble slightly downward;
    the delta is clamped at 0 (and prev_est carried as a running max)
    so estimator wobble can never subtract from harmonic/dist_total.

    State stays O(V · sketch_bytes) REGARDLESS of radius — this is the
    100 TB mode; the exact kernels above are its small-radius oracle.
    At pytest scale the Datasketches sketch is in sparse-exact range,
    so the estimates match the exact kernels to float tolerance; at
    bench scale the error bound is asserted like hyperball's
    (bench.py big_graph: harmonic r=1 vs exact out-degree).

    Durable resume: ``_sweep``'s (kernel name
    ``hyperball_centralities``) — the full accumulator state (vid, sk,
    prev_est, h, dist_total, ecc) is the one checkpointed table.
    """
    est = F.hll_sketch_estimate("sk")

    def advance(state: DataFrame, r: int) -> DataFrame:
        delta = F.greatest(F.col("_est") - F.col("prev_est"), F.lit(0.0))
        return state.withColumn("_est", est).select(
            "vid", "sk",
            # running max: a downward estimator wobble must not lower
            # the baseline future deltas are measured from
            F.greatest("_est", "prev_est").alias("prev_est"),
            (F.col("h") + delta / F.lit(float(r))).alias("h"),
            (F.col("dist_total") + F.lit(float(r)) * delta).alias(
                "dist_total"
            ),
            F.when(delta > 0.5, F.lit(r)).otherwise(F.col("ecc")).alias("ecc"),
        )

    state = _sweep(
        graph, radius, config, lg_config_k, "hyperball_centralities",
        run_id, resume,
        carried=(
            est.alias("prev_est"),
            F.lit(0.0).alias("h"),
            F.lit(0.0).alias("dist_total"),
            F.lit(0).alias("ecc"),
        ),
        advance=advance,
    )
    return state.select(
        "vid",
        F.col("prev_est").alias("nf_est"),
        F.round("h", 6).alias("harmonic_est"),
        F.round(
            F.when(
                F.col("dist_total") > 0.0,
                (F.col("prev_est") - 1.0) / F.col("dist_total"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("closeness_est"),
        F.col("ecc").cast("long").alias("ecc_est"),
    )
