#!/usr/bin/env python
"""Dump .explain("formatted") plans for the headline kernels into a
directory (default plans/r08/tmp). Superstep kernels dump one file per
superstep via the engine's SPARK_GRAFT_EXPLAIN_DIR hook; dataflow
queries (triangle_count, two_hop_stats) dump their final plan.

Usage: python scripts/dump_plans.py <out_dir> [kernel ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r08/tmp"
os.makedirs(out_dir, exist_ok=True)
os.environ["SPARK_GRAFT_EXPLAIN_DIR"] = out_dir

from pyspark.sql import DataFrame, functions as F

from planar_spark import EngineConfig, get_spark
from planar_spark.kernels import (
    connected_components,
    label_propagation,
    pagerank,
)
from planar_spark.kernels.neighborhood import two_hop_stats
from planar_spark.kernels.sssp import bfs_sssp
from planar_spark.kernels.triangles import closed_wedges, oriented_edges

from bench import bench_graph


def fmt(df: DataFrame) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = max(cpus, 8)
    spark = get_spark("planar_plans", cores=cpus, shuffle_partitions=parts)
    cfg = EngineConfig(num_partitions=parts, tolerance=0.0, checkpoint_dir=None)
    g = bench_graph(spark, sf_dir, parts)
    only = set(sys.argv[2:])

    def want(name):
        return not only or name in only

    if want("pagerank"):
        pagerank(g, cfg, num_iterations=5)
    if want("wcc"):
        connected_components(g, cfg, two_hop_init=True)
    if want("lpa"):
        label_propagation(g, cfg, num_iterations=3)
    if want("sssp"):
        bfs_sssp(g, int(g.vertices.agg(F.min("vid")).collect()[0][0]), cfg)
    if want("triangle_count"):
        with open(os.path.join(out_dir, "triangle_count.txt"), "w") as f:
            und = g.undirected_edges_by_a(parts)
            f.write(fmt(closed_wedges(oriented_edges(und))))
    if want("two_hop_stats"):
        with open(os.path.join(out_dir, "two_hop_stats.txt"), "w") as f:
            f.write(fmt(two_hop_stats(g)))
    spark.stop()


if __name__ == "__main__":
    main()
