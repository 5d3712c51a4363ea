"""Ingestion: pages -> edges_raw -> dictionary-encoded graph tables.

Mirrors the reference's offline ETL chain (readme.md:56-66:
edgelist CSV -> edgelist.bin -> CSR -> partitions), re-expressed as one
declarative Spark job:

    pages --extract_links(pandas UDF)--> edges_raw(src_url, dst_url)
          --dictionary_encode--> vertices(url, vid)
          --join x2----------> edges(src, dst)  [self-loops dropped,
                                                 graph_converter.cpp:113]
          --groupBy(src)------> degrees(vid, out_deg)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from planar_spark.graph.tables import GraphTables
from planar_spark.ingest.extract import extract_edges


def dictionary_encode(urls_df: DataFrame, num_partitions: int = 32) -> DataFrame:
    """urls(url) -> vertices(url, vid) with dense lexicographic int64 ids.

    Deterministic dense remap (the reference does a first-seen remap at
    graph_converter.cpp:126-144; we fix the order lexicographically so ids
    — and therefore CC/LPA labels — are reproducible across runs/cluster
    sizes, per FIXTURES.md §2).

    Scale-correct: NO single-partition window. Two passes:
      1. distinct -> range-partition by url -> sort within partitions;
         collect per-partition counts (tiny: one row per partition).
      2. mapInPandas assigns vid = partition_offset + running index.
    This is the distributed dense-rank pattern; it works unchanged at
    10^12 rows because only `num_partitions` counters reach the driver.
    """
    d = (
        urls_df.select("url")
        .where(F.col("url").isNotNull())
        .distinct()
        .repartitionByRange(num_partitions, F.col("url"))
        .sortWithinPartitions("url")
        .withColumn("pid", F.spark_partition_id())
        .persist()  # pin partition layout so both passes see the same pids
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = urls_df.sparkSession.sparkContext.broadcast(offsets)

    def assign(batches):
        seen = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"url": pd.Series([], dtype=object),
                                    "vid": pd.Series([], dtype="int64")})
                continue
            off = b_offsets.value.get(int(pdf["pid"].iloc[0]), 0)
            vid = off + seen + np.arange(n, dtype=np.int64)
            seen += n
            yield pd.DataFrame({"url": pdf["url"].to_numpy(), "vid": vid})

    out = d.mapInPandas(assign, schema="url string, vid long")
    return out


def encode_edges(
    edges_raw: DataFrame, vertices: DataFrame, num_partitions: int = 32
) -> DataFrame:
    """edges_raw(src_url, dst_url) x vertices -> edges(src, dst).

    The dictionary is usually tiny relative to the edge table (urls ≪
    edges at web scale is false — but the dictionary is ~#pages while
    edges is ~#links ≈ 20x pages), so Catalyst picks SMJ/shuffle-hash;
    we keep both joins on the same key order so AQE can reuse exchanges.
    """
    v_src = vertices.select(
        F.col("url").alias("src_url"), F.col("vid").alias("src")
    )
    v_dst = vertices.select(
        F.col("url").alias("dst_url"), F.col("vid").alias("dst")
    )
    return (
        edges_raw.join(v_src, "src_url")
        .join(v_dst, "dst_url")
        .select("src", "dst")
    )


def build_graph_tables(
    pages_df: DataFrame, num_partitions: int = 32
) -> GraphTables:
    """Full ingest: pages -> GraphTables (edges, vertices, degrees)."""
    edges_raw = extract_edges(pages_df)
    urls = pages_df.select("url").unionAll(
        edges_raw.select(F.col("dst_url").alias("url"))
    )
    vertices = dictionary_encode(urls, num_partitions).persist()
    edges = encode_edges(edges_raw, vertices, num_partitions)
    g = GraphTables.from_edges(
        edges, num_partitions=num_partitions, vertices=vertices
    )
    # cached above only so the edge encoding reads the dictionary once:
    # the graph owns it, and g.unpersist() releases it
    g.owns_vertices = True
    return g
