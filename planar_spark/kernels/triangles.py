"""Triangle counting: degree-oriented two-join wedge closure.

Not present in the reference as an app (the north rule adds it); its
wedge enumeration is the same block-nested-loop two-hop join the
reference precomputes in nvme/precomputing/two_hop_neighbor.h:125-227
(for each v, for each 1-hop w, enumerate w's neighbors).

Semantics: triangles of the UNDIRECTED simple graph (directions and
duplicate/self edges dropped). Exact count.

Algorithm (the standard "compact-forward" orientation, scale-critical):
orient each undirected edge from the lower-ranked endpoint to the
higher, ranking by (degree, vid). Every triangle then has exactly one
oriented wedge a->b, b->c with a->c, so

    triangles = |oriented ⋈_{b} oriented ⋈_{(a,c)} oriented|

Orienting by degree bounds every vertex's oriented out-degree by
O(sqrt(E)) even on power-law graphs — the wedge join stays tractable at
web scale where a raw hub wedge count would explode (a 10^6-degree hub
contributes 10^12 unoriented wedges but only ~E oriented ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.tables import GraphTables


def _oriented_edges(graph: GraphTables) -> DataFrame:
    """Undirected distinct edges oriented by (undirected degree, vid)."""
    und = graph.undirected_edges()  # (a, b), a < b, distinct
    udeg = (
        und.select(F.col("a").alias("vid"))
        .unionAll(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("udeg"))
    )
    da = udeg.select(F.col("vid").alias("a"), F.col("udeg").alias("deg_a"))
    db = udeg.select(F.col("vid").alias("b"), F.col("udeg").alias("deg_b"))
    e = und.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def _closed_wedges(
    graph: GraphTables, config: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    """(triangles (a, b, c), the cached oriented edge table they are
    built from) — the caller unpersists the latter once it is done."""
    parts = config.partitions_for(graph.spark)
    oriented = _oriented_edges(graph).repartition(parts, "lo").persist()
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")
    closing = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return wedges.join(closing, ["a", "c"]).select("a", "b", "c"), oriented


def triangle_count(graph: GraphTables, config: EngineConfig | None = None) -> int:
    config = config or EngineConfig()
    tri, oriented = _closed_wedges(graph, config)
    n = tri.count()
    oriented.unpersist()
    return n


def local_clustering(
    graph: GraphTables, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, triangles, udeg, lcc): local clustering coefficient of the
    undirected simple graph — lcc(v) = triangles(v) / C(udeg(v), 2),
    0 where udeg < 2.

    Pure composition of the oriented triangle enumeration with the
    undirected-degree aggregate: one extra O(V) join over
    triangle_count_per_vertex, no new shuffle shape.
    """
    config = config or EngineConfig()
    und = graph.undirected_edges()
    udeg = (
        und.select(F.col("a").alias("vid"))
        .unionAll(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("udeg"))
    )
    tri = triangle_count_per_vertex(graph, config)
    return (
        tri.join(udeg, "vid", "left")
        .select(
            "vid",
            "triangles",
            F.coalesce("udeg", F.lit(0)).alias("udeg"),
            F.when(
                F.coalesce("udeg", F.lit(0)) >= 2,
                F.col("triangles") * 2.0
                / (F.col("udeg") * (F.col("udeg") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def triangle_count_per_vertex(
    graph: GraphTables, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, triangles) for every vertex (0 for triangle-free vertices)."""
    config = config or EngineConfig()
    tri, _oriented = _closed_wedges(graph, config)
    corners = (
        tri.select(F.col("a").alias("vid"))
        .unionAll(tri.select(F.col("b").alias("vid")))
        .unionAll(tri.select(F.col("c").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        graph.vertices.select("vid")
        .join(corners, "vid", "left")
        .select("vid", F.coalesce("n_tri", F.lit(0)).alias("triangles"))
    )
