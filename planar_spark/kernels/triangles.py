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

``oriented_edges`` and ``closed_wedges`` are the package's one triangle
enumeration: kernels/truss.py and graphstats.triad_census compose them
too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import materialize
from planar_spark.graph.tables import GraphTables, undirected_degree


def oriented_edges(und: DataFrame) -> DataFrame:
    """(lo, hi): each undirected edge (a, b) of ``und`` directed from
    its lower-ranked endpoint to the higher, ranked by (undirected
    degree, vid)."""
    udeg = undirected_degree(und)
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


def closed_wedges(oriented: DataFrame) -> DataFrame:
    """(x, y, z): each triangle of an ``oriented_edges`` table once, as
    its one oriented wedge x->y->z closed by x->z."""
    e1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    closing = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    return e1.join(e2, "y").join(closing, ["x", "z"]).select("x", "y", "z")


def _cached_orientation(
    graph: GraphTables, config: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    """(und, oriented): the graph's undirected edges and their
    orientation hashed by lo, both persisted, since the orientation
    reads ``und`` three times and the wedge join reads ``oriented``
    three times. The caller unpersists both."""
    parts = config.partitions_for(graph.spark)
    und = graph.undirected_edges_by_a(parts).persist()
    return und, oriented_edges(und).repartition(parts, "lo").persist()


def triangle_count(graph: GraphTables, config: EngineConfig | None = None) -> int:
    und, oriented = _cached_orientation(graph, config or EngineConfig())
    n = closed_wedges(oriented).count()
    oriented.unpersist()
    und.unpersist()
    return n


def local_clustering(
    graph: GraphTables, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, triangles, udeg, lcc): local clustering coefficient of the
    undirected simple graph — lcc(v) = triangles(v) / C(udeg(v), 2),
    0 where udeg < 2.

    The O(V) result is materialized before the two edge caches are
    released, so nothing this call cached outlives it.
    """
    und, oriented = _cached_orientation(graph, config or EngineConfig())
    tri = closed_wedges(oriented)
    corners = (
        tri.select(F.col("x").alias("vid"))
        .unionAll(tri.select(F.col("y").alias("vid")))
        .unionAll(tri.select(F.col("z").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = materialize(
        graph.vertices.select("vid")
        .join(corners, "vid", "left")
        .join(undirected_degree(und), "vid", "left")
        .select(
            "vid",
            F.coalesce("n_tri", F.lit(0)).alias("triangles"),
            F.coalesce("udeg", F.lit(0)).alias("udeg"),
        )
        .withColumn(
            "lcc",
            F.when(
                F.col("udeg") >= 2,
                F.col("triangles") * 2.0
                / (F.col("udeg") * (F.col("udeg") - F.lit(1))),
            ).otherwise(F.lit(0.0)),
        )
    )
    oriented.unpersist()
    und.unpersist()
    return out


def triangle_count_per_vertex(
    graph: GraphTables, config: EngineConfig | None = None
) -> DataFrame:
    """(vid, triangles) for every vertex (0 for triangle-free vertices)."""
    return local_clustering(graph, config).select("vid", "triangles")
