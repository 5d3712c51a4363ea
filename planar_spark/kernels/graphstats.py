"""Whole-graph summary statistics for web-graph profiling.

The reference exposes per-vertex degree arrays (SURVEY.md §2.1 P20);
these kernels are the corpus-level profiling views a crawl operator
derives from them: the degree distribution (log2-bucketed, the standard
power-law diagnostic) and edge reciprocity (fraction of directed links
whose reverse also exists — a crawl-quality / spam signal).

Both are single-pass aggregations: no iteration, no windows, partial
aggregation everywhere. The log2 bucket is computed with exact integer
logic (binary-digit count), not floating log2, so results hash
identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.tables import GraphTables
from planar_spark.kernels.triangles import closed_wedges, oriented_edges


def degree_histogram(graph: GraphTables) -> DataFrame:
    """(bucket, n_vertices): bucket = floor(log2(out_deg + 1)), so
    bucket 0 holds dangling vertices, bucket k degrees in
    [2^k - 1, 2^(k+1) - 2]."""
    # digits(bin(x)) - 1 == floor(log2(x)) exactly, for x >= 1
    bucket = (
        F.length(F.conv((F.col("out_deg") + 1).cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        graph.degrees.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def powerlaw_alpha(graph: GraphTables, dmin: int = 1) -> DataFrame:
    """One row (n_tail, alpha): continuous-MLE estimate of the degree
    power-law exponent (Clauset-Shalizi-Newman) over out-degrees >=
    dmin:  alpha = 1 + n / Σ ln(deg / (dmin - 0.5)).

    The standard one-number check that a crawl's degree distribution
    looks web-like (alpha ≈ 2.1 for real web graphs). Single partial-
    agg'd aggregation pass."""
    tail = graph.degrees.where(F.col("out_deg") >= dmin)
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("out_deg") / F.lit(dmin - 0.5))),
            6,
        ).alias("alpha"),
    )


def degree_assortativity(graph: GraphTables) -> DataFrame:
    """One row (n_ends, assortativity): Pearson correlation of the
    undirected degrees at the two ends of every undirected edge, both
    orientations counted (Newman 2002) — the standard "do hubs link to
    hubs?" diagnostic (real web graphs are mildly disassortative,
    r ≈ -0.05..-0.2).

    Numerics are gate-grade deterministic: the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy², n) are EXACT integer sums (never
    a streaming corr aggregate, whose merge order varies run to run),
    converted once to double for the closed-form correlation — bit-
    identical in any engine that sums the same integers. Products are
    taken in double so the expression never overflows int64 at web
    scale. One degree aggregation + one edge join + one global
    aggregate; partial aggregation everywhere. Degenerate (zero
    variance) graphs return NULL rather than an engine-specific 0/0."""
    sym = graph.symmetric_edges_by_src(
        EngineConfig().partitions_for(graph.spark)
    )
    udeg = sym.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("ud")
    )
    j = (
        sym.join(
            udeg.select(F.col("vid").alias("src"), F.col("ud").alias("x")),
            "src",
        ).join(
            udeg.select(F.col("vid").alias("dst"), F.col("ud").alias("y")),
            "dst",
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_ends"),
        F.round(
            F.when(den != 0.0, num / den).otherwise(F.lit(None)), 6
        ).alias("assortativity"),
    )


def triad_census(graph: GraphTables, config=None) -> DataFrame:
    """One row (n_cyclic, n_transitive): directed-triangle census of the
    link graph — cyclic triples (a→b→c→a) vs transitive triples
    (a→b→c with a→c). The cyclic/transitive ratio distinguishes
    hierarchy (directories, hub-and-spoke sites) from mutual-citation
    structure; each count is over ordered pattern INSTANCES (a triangle
    with reciprocated edges contributes several).

    Scale shape: never enumerates raw directed wedges (Σ in(b)·out(b)
    explodes on hubs). The UNDIRECTED triangles come from the
    degree-oriented two-join (kernels/triangles.py — wedge work bounded
    O(E^1.5)); the directed edge set is pre-aggregated ONCE into an
    undirected-pair flag table (lo, hi, f_fwd, f_bwd) — both direction
    flags of a pair in one row — so each triangle fetches all six
    direction flags with THREE equi-joins (one per triangle edge;
    r4's form burned six). Every triangle edge is an undirected edge,
    so the joins are inner and flag columns are never null. One
    closed-form integer expression then counts both pattern families
    per triangle.
    """
    parts = (config or EngineConfig()).partitions_for(graph.spark)
    # (a, b, c), each triangle once; the oriented cache stays live
    # under the returned lazy frame
    tri = closed_wedges(
        oriented_edges(graph.undirected_edges_by_a(parts))
        .repartition(parts, "lo")
        .persist()
    ).toDF("a", "b", "c")
    e = graph.edges.select("src", "dst").distinct()
    # (lo, hi, f_fwd, f_bwd): f_fwd = lo->hi exists, f_bwd = hi->lo.
    # max() folds a reciprocal pair's two rows into one.
    pairs = (
        e.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            (F.col("src") < F.col("dst")).cast("int").alias("fwd"),
            (F.col("src") > F.col("dst")).cast("int").alias("bwd"),
        )
        .groupBy("lo", "hi")
        .agg(F.max("fwd").alias("f_fwd"), F.max("bwd").alias("f_bwd"))
    )

    def attach(df, x, y, fwd_name, bwd_name):
        # triangle corners are DEGREE-ordered (the orientation that
        # bounds wedge work), not vid-ordered — so key the pair lookup
        # on (least, greatest) of the corner vids and swap the flags
        # back according to the actual corner order
        p = pairs.select(
            F.col("lo").alias(f"_lo_{fwd_name}"),
            F.col("hi").alias(f"_hi_{fwd_name}"),
            F.col("f_fwd").alias(f"_ff_{fwd_name}"),
            F.col("f_bwd").alias(f"_fb_{fwd_name}"),
        )
        cond = (F.least(df[x], df[y]) == p[f"_lo_{fwd_name}"]) & (
            F.greatest(df[x], df[y]) == p[f"_hi_{fwd_name}"]
        )
        xy_is_lohi = df[x] < df[y]
        return (
            df.join(p, cond)
            .withColumn(
                fwd_name,
                F.when(xy_is_lohi, F.col(f"_ff_{fwd_name}")).otherwise(
                    F.col(f"_fb_{fwd_name}")
                ),
            )
            .withColumn(
                bwd_name,
                F.when(xy_is_lohi, F.col(f"_fb_{fwd_name}")).otherwise(
                    F.col(f"_ff_{fwd_name}")
                ),
            )
            .drop(
                f"_lo_{fwd_name}", f"_hi_{fwd_name}",
                f"_ff_{fwd_name}", f"_fb_{fwd_name}",
            )
        )

    tri = attach(tri, "a", "b", "f_ab", "f_ba")
    tri = attach(tri, "a", "c", "f_ac", "f_ca")
    tri = attach(tri, "b", "c", "f_bc", "f_cb")
    z = F.col
    cyc = z("f_ab") * z("f_bc") * z("f_ca") + z("f_ba") * z("f_cb") * z("f_ac")
    trans = (
        z("f_ab") * z("f_bc") * z("f_ac")
        + z("f_ac") * z("f_cb") * z("f_ab")
        + z("f_ba") * z("f_ac") * z("f_bc")
        + z("f_bc") * z("f_ca") * z("f_ba")
        + z("f_ca") * z("f_ab") * z("f_cb")
        + z("f_cb") * z("f_ba") * z("f_ca")
    )
    return tri.agg(
        F.coalesce(F.sum(cyc), F.lit(0)).cast("long").alias("n_cyclic"),
        F.coalesce(F.sum(trans), F.lit(0)).cast("long").alias("n_transitive"),
    )


def sample_edges(
    edges: DataFrame, pct: int, salt: str = "e0"
) -> DataFrame:
    """Deterministic graph sampling: keep edge (src, dst) iff its
    md5-derived bucket (engine-agnostic, same trick as
    textops.sample_documents) falls below ``pct``. Reshuffle-stable and
    monotone in pct — the standard way to carve a test subgraph out of
    a 100 TB edge table without a global shuffle (pure filter,
    pushdown-friendly)."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("src").cast("string"),
                        F.lit("_"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    return edges.where(bucket < F.lit(pct))


def reciprocity(graph: GraphTables) -> DataFrame:
    """One row (n_edges, n_reciprocal, reciprocity) over the distinct
    directed edge set: n_reciprocal counts edges (u,v) with (v,u) also
    present. Self-loops are already dropped by GraphTables."""
    e = graph.edges.select("src", "dst").distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges"), 6).alias(
                "reciprocity"
            ),
        )
    )
