"""GNN forward pass: k layers of mean-aggregate + linear transform.

Reference kernel: nvme/apps/gnn_nvme_app.h:87-147 — per layer every
vertex averages its own feature vector with its out-neighbors' vectors,
then multiplies by a weight matrix (random in the reference; seeded
here so the result is reproducible and oracle-checkable).

    h^{l+1}[v] = relu( W_l · mean({h^l[v]} ∪ {h^l[u] : v -> u}) )

DataFrame formulation per layer:
- neighbor mean: explode-free — aggregate sum of neighbor vectors via
  the gather join + per-position array sum (``F.zip_with`` fold inside
  ``F.reduce``-style agg is not available, so we sum with
  ``F.aggregate`` over ``F.collect_list``? No — that materializes
  per-vertex neighbor lists). Instead we explode feature positions?
  Also no: that is a |V|·d row blow-up of the SMALL side only — the
  states, not the edges. We pick the cheapest correct route: posexplode
  of the (vid, vec) state into (vid, pos, val), a standard gather join
  + groupBy(dst, pos).sum, then re-assemble with ``collect_list`` over
  a sorted window. d is small (e.g. 16-64), so this multiplies only
  the vertex-state volume by d, never the edge volume.
- matmul + relu: one vectorized pandas UDF over Arrow batches
  (the only Python in the kernel, as the reference's matmul is the only
  "real" math, gnn_nvme_app.h:129-141).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import materialize
from planar_spark.graph.tables import GraphTables


def seeded_weights(dim: int, num_layers: int, seed: int = 42) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    return [rng.standard_normal((dim, dim)) * 0.1 for _ in range(num_layers)]


def seeded_features(num_vertices: int, dim: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_vertices, dim)).astype(np.float64)


def gnn_forward(
    graph: GraphTables,
    features: DataFrame,  # (vid, vec array<double>)
    num_layers: int = 2,
    dim: int = 16,
    seed: int = 42,
    config: EngineConfig | None = None,
) -> DataFrame:
    """Returns (vid, vec) after num_layers rounds of mean-agg + matmul."""
    config = config or EngineConfig()
    spark = graph.spark
    parts = config.partitions_for(spark)
    weights = seeded_weights(dim, num_layers, seed)
    edges = graph.edges

    h = materialize(features.repartition(parts, "vid"))
    for layer in range(num_layers):
        w = spark.sparkContext.broadcast(weights[layer])

        # positional decomposition of the state (small side only)
        pos = h.select(
            "vid", F.posexplode("vec").alias("pos", "val")
        )
        # gather out-neighbors' features to each vertex (the reference
        # averages self + out-neighbors, gnn_nvme_app.h:96-123); include
        # self via union; divide by out_deg + 1
        nbr = (
            edges.join(pos, edges["dst"] == pos["vid"])
            .select(F.col("src").alias("vid"), "pos", "val")
        )
        both = pos.unionAll(nbr)
        summed = both.groupBy("vid", "pos").agg(F.sum("val").alias("s"))
        mean = (
            summed.join(graph.degrees, "vid", "left")
            .select(
                "vid",
                "pos",
                (
                    F.col("s")
                    / (F.coalesce("out_deg", F.lit(0)) + F.lit(1)).cast("double")
                ).alias("m"),
            )
        )
        assembled = (
            mean.groupBy("vid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "vid",
                F.transform(F.col("pm"), lambda x: x["m"]).alias("vec"),
            )
        )

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def matmul_relu(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy())
            out = np.maximum(mat @ w.value.T, 0.0)
            return pd.Series(list(out))

        new_h = materialize(
            assembled.select(
                "vid", matmul_relu(F.col("vec")).alias("vec")
            )
        )
        h.unpersist()
        h = new_h
    return h
