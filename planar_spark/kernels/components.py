"""Connected components: hash-min label exchange + pointer jumping.

Reference kernel: core/apps/wcc_app.cpp:12-127 (Graft / PointJump /
Contract over WriteMin) and nvme/apps/wcc_nvme_app.h:48-116 (hash-min:
each vertex takes the min label over itself and its neighbors, pushed
through WriteMin). Semantics: weakly-connected components of the
directed graph = components of the undirected closure; converged label
of v = min vertex id in v's component; exact-match correctness.

DataFrame formulation per superstep:

  1. hash-min exchange (the Graft):  every vertex's label flows across
     every undirected edge; each vertex takes the min of its own label
     and incoming labels — ``symmetric_edges ⋈ labels -> groupBy(vid).min``.
  2. pointer jumping (the PointJump, wcc_app.cpp:60-77):
     ``label'(v) <- old_label(new(v))`` — a join against the PREVIOUS
     round's materialized label leaf (r8: joining the in-flight plan
     against itself executed the whole gather twice per superstep);
     sound because labels are always vertex ids in v's component, and
     chains still collapse geometrically.

Termination: the label-sum invariant — labels only decrease, so an
unchanged sum(label) between supersteps is a fixpoint proof (one cheap
aggregate; the reference's analogue is the active-count,
bsp_update_store.h:111-125).

Round complexity (r6 honesty note): hash-min + single-jump rounds are
O(diameter) worst case, NOT O(log) — see connected_components's
``algorithm`` doc. ``algorithm="boruvka"`` is the O(log V)-guaranteed
high-diameter path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.skew import gather_join
from planar_spark.graph.superstep import (
    SuperstepEngine,
    SuperstepResult,
    materialize,
)
from planar_spark.graph.tables import GraphTables


def connected_components(
    graph: GraphTables,
    config: EngineConfig | None = None,
    max_iterations: int = 50,
    pointer_jumping: bool = True,
    contract: bool = False,
    two_hop_init: bool = False,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    algorithm: str = "hashmin",
    run_id: str | None = None,
) -> SuperstepResult:
    """Returns state (vid, label) with label = min vid of the component.

    ``contract=True`` additionally shrinks the live edge set each round
    by dropping edges whose endpoints already share a label — the
    reference's Contract step (MapAndMutateEdgeBool,
    nvme/apps/wcc_nvme_app.h:77-93; CSR compaction
    pram_block.h:176-250). In Spark the "mutation" is just a filtered
    re-materialized DataFrame per round.

    ``algorithm`` picks the round structure:

    - ``"hashmin"`` (default, the reference's WCC): one cheap
      edge-gather superstep per round. Rounds are O(diameter) WORST
      CASE — pointer jumping compresses label CHAINS, but once a
      vertex's label is a root (the min it knows is its own ball's
      min), jumping is a no-op and reach still grows ~1 hop/round
      (measured: a 997-vertex random-labeled cycle is <50% converged
      after 50 rounds). The right mode for low-diameter graphs — web
      link graphs, social graphs — where it converges in <15 rounds.
    - ``"boruvka"``: hook-to-min + FULL pointer doubling + contraction
      (the MSF loop on the unweighted graph, kernels/mst.py). Heavier
      rounds (edge⋈labels both sides + O(log) jump jobs) but O(log V)
      rounds GUARANTEED regardless of diameter — the mode for
      high-diameter graphs (long chains: pagination trails, ID-remap
      artifacts). Exactness is identical (label = component min vid,
      pytest-checked against union-find on an adversarial cycle
      fixture). Always returns ``converged=True`` (empty-pick is a
      fixpoint proof); ``resume``/checkpointing ride the msf kernel's
      engine run (kernel name ``msf``) — pass the same ``run_id``
      on the original call AND the retry, otherwise a fresh uuid is
      minted per call and the "resume" silently restarts from scratch.

    - ``"auto"``: the production default for unknown diameter — run
      hashmin under the ``max_iterations`` budget; if the label-sum
      fixpoint is not reached, fall back to a boruvka run rather than
      raising the budget (hashmin's remaining rounds scale with the
      uncovered diameter, boruvka's with log V). Exactness is
      unaffected (both modes produce min-vid labels; the fallback
      recomputes from scratch — hash-min labels are not a valid
      boruvka warm start because boruvka's invariant is
      cluster-contracted edges, not partial min labels).
    """
    config = config or EngineConfig()
    if algorithm == "auto":
        import warnings

        with warnings.catch_warnings():
            # the hashmin non-convergence warning tells callers to do
            # exactly what auto does next — no point emitting it here
            warnings.simplefilter("ignore", RuntimeWarning)
            result = connected_components(
                graph,
                config,
                max_iterations=max_iterations,
                pointer_jumping=pointer_jumping,
                contract=contract,
                two_hop_init=two_hop_init,
                engine=engine,
                resume=resume,
                algorithm="hashmin",
                run_id=run_id,
            )
        if result.converged:
            return result
        # resume must ride the fallback too: auto is the production
        # default, and a resume=True retry that restarts the Boruvka
        # phase from scratch silently defeats the run_id plumbing
        # (r7 ADVICE medium).
        return connected_components(
            graph, config, algorithm="boruvka", run_id=run_id, resume=resume
        )
    if algorithm == "boruvka":
        from planar_spark.kernels.mst import _boruvka

        # 64 rounds >> log2 of any representable vertex count; hitting
        # it means the fixpoint proof (empty pick) was never reached,
        # and returning those labels as components would repeat the
        # silent-under-merge bug this mode exists to prevent.
        # run_id MUST be plumbed through for resume to mean anything:
        # the engine mints a fresh uuid per call, so without the
        # caller's run_id a "resume" run silently restarts from scratch
        # (r6 ADVICE).
        result, _ = _boruvka(graph, config, 64, 40, run_id, resume)
        if not result.converged:
            raise RuntimeError(
                "connected_components(boruvka): round budget exhausted "
                "before the empty-pick fixpoint — labels would be "
                "under-merged (should be impossible at <2^64 vertices; "
                "indicates a kernel bug or a corrupted resume state)"
            )
        return result
    if algorithm != "hashmin":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # NOTE: WCC stays on localCheckpoint state (the engine default), NOT
    # cache-mode: each round references the label state 4x (gather +
    # min-merge + the pointer-jump self-join), so a cached lineage tree
    # grows 4^rounds and analysis cost explodes. localCheckpoint resets
    # the state to a leaf every round at the cost of one label-side
    # exchange per superstep.
    spark = graph.spark
    parts = config.partitions_for(spark)
    # Contraction is only sound with pointer jumping: same-label
    # endpoints stay connected through the parent chain (which keeps
    # receiving future relabelings), exactly as the reference contracts
    # only after PointJump (wcc_nvme_app.h:95-116).
    assert not contract or pointer_jumping, "contract requires pointer_jumping"

    # Layout-aware gather: on a with_partitioning graph (region-major
    # ids, graph.block_size set) the sym table is pinned by locality
    # BLOCK and the label join runs on the compound (blk, vid) key —
    # still zero edge-side exchange, but the gather's partial agg now
    # emits ~V + cut rows instead of ~parts*V (graph/locality.py).
    from planar_spark.graph.locality import effective_block_size

    # cost-aware consumption (r8): fall back to the hash gather below
    # config.locality_min_edges — identical results, see config doc
    bs = effective_block_size(graph, config)
    if bs:
        from planar_spark.graph.locality import block_pinned_sym

        edge_state = {"sym": block_pinned_sym(graph, parts).persist()}
    else:
        # sorted WITHIN the cache (r8): the per-round gather rides the
        # merge-join fast path — partitioning AND ordering come from the
        # cache, so neither an exchange, nor a per-round sort, nor the
        # pathological alternative AQE picked before (broadcasting the
        # whole O(E) sym table as the build side every superstep,
        # because the releaf'd label leaf reports default stats) touches
        # the edge side. Same discipline as GraphTables.from_edges.
        edge_state = {
            "sym": graph.symmetric_edges_by_src(parts).persist()
        }

    def init_state() -> DataFrame:
        labels = graph.vertices.select("vid", F.col("vid").alias("label"))
        if not two_hop_init:
            return labels
        # Two-hop-seeded init (reference O14,
        # nvme/apps/wcc_nvme_precomputing_app.h:35-41): start each label
        # at the min vid within the vertex's 2-hop neighborhood — saves
        # ~2 supersteps on large-diameter components. O(E) decomposed
        # (per-mid pre-agg, no wedge materialization); every seed is a
        # member of the same component, so exactness is unaffected.
        sym = edge_state["sym"]
        m1 = sym.groupBy(F.col("src").alias("vid")).agg(
            F.min("dst").alias("n1")
        )
        # m2(v) = min over neighbors u of m1(u). The edge set is
        # symmetric, so gathering m1 ALONG each edge (join on src, the
        # cache's partition+sort key — zero exchange on the edge side)
        # and aggregating by dst is the same set of (v, m1(u)) pairs as
        # the old join on dst, without re-shuffling the O(E) table.
        m2 = (
            gather_join(
                sym, m1.select("vid", F.col("n1").alias("mid_min")), bs
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("mid_min").alias("n2"))
        )
        return (
            labels.join(m1, "vid", "left")
            .join(m2, "vid", "left")
            .select(
                "vid",
                F.least(
                    "label",
                    F.coalesce("n1", F.col("label")),
                    F.coalesce("n2", F.col("label")),
                ).alias("label"),
            )
        )

    def step(labels: DataFrame, _step: int) -> tuple[DataFrame, dict]:
        from pyspark.sql import Observation

        sym = edge_state["sym"]
        if contract and _step > 1:
            la = labels.select(F.col("vid").alias("src"), F.col("label").alias("ls"))
            lb = labels.select(F.col("vid").alias("dst"), F.col("label").alias("ld"))
            shrunk = materialize(
                sym.join(la, "src").join(lb, "dst")
                .where(F.col("ls") != F.col("ld"))
                .select(*(["sblk"] if bs else []), "src", "dst")
            )
            sym.unpersist()
            edge_state["sym"] = sym = shrunk
        msgs = gather_join(sym, labels, bs).select(
            F.col("dst").alias("vid"), "label"
        )
        min_nbr = msgs.groupBy("vid").agg(F.min("label").alias("nbr_min"))
        new = (
            labels.join(min_nbr, "vid", "left")
            .select(
                "vid",
                F.least(
                    "label", F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
        )
        if pointer_jumping:
            # Jump through the PREVIOUS round's labels (the materialized
            # leaf), not the in-flight ``new`` plan (r8): a self-join of
            # ``new`` duplicated the whole gather+agg subtree on both
            # join sides — every superstep executed the hash-min
            # exchange twice. old_label(x) <= x and stays within x's
            # component, so label'(v) = old_label(new(v)) is still
            # monotone non-increasing with the same fixpoint (component
            # min), and the label-sum termination proof is unchanged;
            # the jump is one round staler, which costs at most one
            # extra (now half-priced) superstep on deep chains.
            parent = labels.select(
                F.col("vid").alias("p_vid"), F.col("label").alias("p_label")
            )
            new = (
                new.join(parent, new["label"] == parent["p_vid"])
                .select("vid", F.col("p_label").alias("label"))
            )
        # Convergence via the label-sum invariant: hash-min labels only
        # ever DECREASE, so an unchanged sum(label) between supersteps
        # is a fixpoint proof. The sum is OBSERVED on the state plan and
        # populated by the engine's materialization job — one driver
        # action per superstep total, no standalone aggregate job (the
        # reference's analogue is the active counter,
        # bsp_update_store.h:111-125).
        obs = Observation()
        new = new.observe(obs, F.sum("label").alias("label_sum"))
        return new, {"_obs": obs}

    prev_sum = {"v": None}

    def converged(metrics: dict) -> bool:
        s = metrics.get("label_sum")
        if s is None:
            return False
        done = prev_sum["v"] is not None and s == prev_sum["v"]
        prev_sum["v"] = s
        return done

    engine = engine or SuperstepEngine(
        spark, config, "connected_components",
        lineage={"num_vertices": graph.num_vertices,
                 "num_edges": graph.num_edges},
    )
    result = engine.run(
        init_state, step, max_iterations, converged, resume=resume
    )
    edge_state["sym"].unpersist()
    if not result.converged:
        import warnings

        # unconverged hash-min labels are under-merged (WRONG for any
        # consumer that treats them as components) — make the silent
        # path loud; callers that cannot tolerate it should use
        # algorithm="boruvka" (converged by construction)
        warnings.warn(
            f"connected_components(hashmin): label fixpoint NOT reached "
            f"in {max_iterations} supersteps — labels are under-merged. "
            f"Raise max_iterations or use algorithm='boruvka' "
            f"(O(log V) rounds guaranteed).",
            RuntimeWarning,
            stacklevel=2,
        )
    return result


def incremental_wcc(
    old_labels: DataFrame,
    new_edges: DataFrame,
    config: EngineConfig | None = None,
) -> DataFrame:
    """Incremental WCC maintenance: exact labels after ADDING edges,
    touching only O(|new edges| + |merged components|) data.

    ``old_labels`` (vid, label) must be an exact WCC labeling (label =
    min vid per component) of the old edge set over the FULL vertex
    set; ``new_edges`` (src, dst) are the additions. Edge additions can
    only MERGE components, and which components merge is fully
    determined by the new edges' endpoint labels — so the update is:

      1. contract: map each new edge to its (label(src), label(dst))
         pair, drop intra-component pairs — a LABEL graph whose size is
         bounded by the new-edge count, independent of V and E;
      2. run CC on that tiny label graph in Boruvka mode (O(log V)
         rounds GUARANTEED + converged=True by construction — a
         chain-shaped delta, e.g. new edges linking a pagination
         series end-to-end, makes the label graph high-diameter, which
         stalls hash-min's O(diameter) rounds and previously returned
         silently-unconverged labels here): root = min old label of
         each merged component group — the correct new component
         minimum, since every old label IS its component's min vid;
      3. one broadcast-join maps old labels to their merged root;
         untouched components pass through unchanged.

    This is the streaming-graph companion to the batch kernel: at
    100 TB the nightly link-graph delta re-labels in label-graph time
    (seconds) instead of full-graph time. The wcc_incremental gate
    value-hashes this path against the same full-recompute oracle as
    the batch ``wcc`` gate.
    """
    config = config or EngineConfig()
    la = old_labels.select(
        F.col("vid").alias("src"), F.col("label").alias("la")
    )
    lb = old_labels.select(
        F.col("vid").alias("dst"), F.col("label").alias("lb")
    )
    label_edges = (
        new_edges.join(la, "src")
        .join(lb, "dst")
        .select(
            F.least("la", "lb").alias("src"),
            F.greatest("la", "lb").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if label_edges.limit(1).count() == 0:
        return old_labels.select("vid", "label")
    lg = GraphTables.from_edges(
        label_edges, num_partitions=config.partitions_for(
            old_labels.sparkSession
        )
    )
    cc = connected_components(lg, config, algorithm="boruvka").state
    mapping = cc.select(
        F.col("vid").alias("label"), F.col("label").alias("_root")
    )
    # mapping row count == lg.num_vertices (known without an action);
    # broadcast only when it actually is delta-sized
    from planar_spark.graph.skew import maybe_broadcast

    mapping = maybe_broadcast(mapping, lg.num_vertices)
    out = old_labels.join(mapping, "label", "left").select(
        "vid", F.coalesce("_root", F.col("label")).alias("label")
    )
    lg.unpersist()
    return out
