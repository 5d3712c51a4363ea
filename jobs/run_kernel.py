"""spark-submit entry point: run one kernel over a pages or edges table.

The reference ships one executable per kernel (planar/pagerank.cpp,
nvme/run/wcc_nvme.cpp, ...) configured by gflags; this is the single
spark-submit analogue:

    spark-submit --py-files planar_spark.zip jobs/run_kernel.py \
        --kernel pagerank --pages /data/pages --output /out/pr \
        --checkpoint-dir /ckpt --run-id prod42 [--resume]

Input is either --pages (parquet/Iceberg table of (url, warc_ts, html,
text, lang) — ingest runs first) or --graph (a directory previously
written by GraphTables.write / --save-graph).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import SuperstepEngine
from planar_spark.graph.tables import GraphTables
from planar_spark.ingest.build import build_graph_tables
from planar_spark.kernels import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count_per_vertex,
)
from planar_spark.kernels.sssp import bfs_sssp, sssp_with_unreached

KERNELS = (
    "pagerank", "wcc", "lpa", "triangles", "sssp",
    "msf", "coloring", "khop", "randomwalk", "kcore",
    "scc", "hits", "ppr", "lcc", "bowtie", "stats", "diameter", "ktruss",
    "wsssp", "wmsf", "centralities", "node2vec", "triads",
    "coredecomp", "trussdecomp", "densest", "betweenness", "louvain",
)
# kernels with no RoundStore checkpoints, so nothing for --resume to read
NO_RESUME = (
    "triangles", "khop", "randomwalk", "lcc", "bowtie", "stats",
    "diameter", "node2vec", "triads", "densest",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kernel", choices=KERNELS, required=True)
    ap.add_argument("--pages", help="pages table path (runs ingest)")
    ap.add_argument("--graph", help="GraphTables directory (skips ingest)")
    ap.add_argument("--save-graph", help="write ingested GraphTables here")
    ap.add_argument("--output", required=True, help="result parquet path")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--iterations", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=0)
    ap.add_argument("--source", type=int, default=0, help="sssp source vid")
    ap.add_argument(
        "--weights",
        help="parquet (src, dst, w) edge weights for wsssp (hop=1 "
        "default) and wmsf (required there)",
    )
    ap.add_argument(
        "--num-walks", type=int, default=4,
        help="node2vec: biased walks per start vertex",
    )
    ap.add_argument(
        "--k", type=int, default=8, help="k for the k-core / k-truss kernels"
    )
    ap.add_argument(
        "--wcc-algorithm", choices=["hashmin", "boruvka", "auto"],
        default="auto",
        help="wcc rounds: hashmin = cheap O(diameter) supersteps "
        "(low-diameter graphs), boruvka = O(log V)-guaranteed rounds "
        "(high-diameter graphs), auto (production default, r7) = "
        "hashmin budget then boruvka fallback on non-convergence — a "
        "high-diameter input can never silently under-merge",
    )
    args = ap.parse_args()
    if not (args.pages or args.graph):
        ap.error("one of --pages / --graph is required")
    if args.resume and args.run_id is None:
        # a generated run-id can never match a prior run's checkpoints,
        # so --resume without --run-id would silently restart round 0
        ap.error("--resume requires --run-id (the id of the run to resume)")
    if args.resume and args.kernel in NO_RESUME:
        # these kernels keep no round checkpoints: a resume would
        # silently recompute from scratch
        ap.error(f"--resume is not supported by --kernel {args.kernel}")

    spark = SparkSession.builder.appName(f"planar_spark_{args.kernel}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = EngineConfig(
        checkpoint_dir=args.checkpoint_dir,
        num_partitions=args.partitions
        or int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    if args.graph:
        g = GraphTables.read(spark, args.graph).cache()
    else:
        g = build_graph_tables(
            spark.read.parquet(args.pages), num_partitions=cfg.num_partitions
        ).cache()
        if args.save_graph:
            g.write(args.save_graph)

    def engine(name: str) -> SuperstepEngine:
        return SuperstepEngine(
            spark, cfg, name, run_id=args.run_id,
            lineage={
                "input": args.graph or args.pages,
                "num_vertices": g.num_vertices,
                "num_edges": g.num_edges,
            },
        )

    if args.kernel == "pagerank":
        r = pagerank(g, cfg, num_iterations=args.iterations,
                     engine=engine("pagerank"), resume=args.resume)
        out, meta = r.state.select("vid", "pr"), r
    elif args.kernel == "wcc":
        r = connected_components(g, cfg, engine=engine("connected_components"),
                                 resume=args.resume,
                                 algorithm=args.wcc_algorithm,
                                 run_id=args.run_id)
        out, meta = r.state, r
    elif args.kernel == "lpa":
        r = label_propagation(g, cfg, num_iterations=args.iterations or 10,
                              engine=engine("lpa"), resume=args.resume)
        out, meta = r.state, r
    elif args.kernel == "louvain":
        from planar_spark.kernels.louvain import louvain

        out, meta = louvain(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "triangles":
        out, meta = triangle_count_per_vertex(g, cfg), None
    # the kernels that build their own engine take --run-id/--resume
    # directly: the same round=NNNNN/<table> checkpoint layout
    elif args.kernel == "msf":
        from planar_spark.kernels.mst import boruvka_msf

        out, meta = boruvka_msf(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "coloring":
        from planar_spark.kernels.coloring import greedy_coloring

        out, meta = greedy_coloring(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "kcore":
        from planar_spark.kernels.kcore import k_core

        out, meta = k_core(
            g, k=args.k, config=cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "scc":
        from planar_spark.kernels.scc import strongly_connected_components

        out, meta = strongly_connected_components(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "ktruss":
        from planar_spark.kernels.truss import k_truss

        out, meta = k_truss(
            g, k=args.k, config=cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "hits":
        from planar_spark.kernels.hits import hits

        r = hits(g, cfg, num_iterations=args.iterations or 4,
                 engine=engine("hits"), resume=args.resume)
        out, meta = r.state, r
    elif args.kernel == "ppr":
        from planar_spark.kernels.ppr import personalized_pagerank

        seeds = g.vertices.select("vid").where(
            F.col("vid") % 97 == 0
        )
        r = personalized_pagerank(g, seeds, cfg,
                                  num_iterations=args.iterations,
                                  engine=engine("ppr"), resume=args.resume)
        out, meta = r.state.select("vid", "ppr"), r
    elif args.kernel == "lcc":
        from planar_spark.kernels.triangles import local_clustering

        out, meta = local_clustering(g, cfg), None
    elif args.kernel == "bowtie":
        from planar_spark.kernels.scc import bowtie_regions

        out, meta = bowtie_regions(g, cfg), None
    elif args.kernel == "stats":
        # one-pass graph profile: degree histogram + reciprocity +
        # power-law alpha + assortativity, unioned as (stat, key, value)
        from planar_spark.kernels.graphstats import (
            degree_assortativity,
            degree_histogram,
            powerlaw_alpha,
            reciprocity,
        )

        h = degree_histogram(g).select(
            F.lit("degree_histogram").alias("stat"),
            F.col("bucket").cast("string").alias("key"),
            F.col("n_vertices").cast("double").alias("value"),
        )
        r = reciprocity(g).select(
            F.lit("reciprocity").alias("stat"),
            F.lit("ratio").alias("key"),
            F.col("reciprocity").cast("double").alias("value"),
        )
        a = powerlaw_alpha(g).select(
            F.lit("powerlaw").alias("stat"),
            F.lit("alpha").alias("key"),
            F.col("alpha").cast("double").alias("value"),
        )
        s = degree_assortativity(g).select(
            F.lit("assortativity").alias("stat"),
            F.lit("pearson_r").alias("key"),
            F.col("assortativity").cast("double").alias("value"),
        )
        out, meta = h.unionByName(r).unionByName(a).unionByName(s), None
    elif args.kernel == "diameter":
        # interpolated 90% effective diameter; --iterations caps the
        # BFS radius of the underlying exact distance histogram
        from planar_spark.kernels.hyperball import effective_diameter

        out, meta = effective_diameter(
            g, args.iterations or 8, q=0.9, config=cfg
        ), None
    elif args.kernel == "khop":
        from planar_spark.kernels.neighborhood import khop_risk

        out, meta = khop_risk(g), None
    elif args.kernel == "randomwalk":
        from planar_spark.kernels.neighborhood import random_walk

        out, meta = random_walk(g, cfg, num_steps=args.iterations or 4), None
    elif args.kernel == "wmsf":
        from planar_spark.kernels.mst import boruvka_msf

        if not args.weights:
            ap.error("--weights (src, dst, w parquet) is required for wmsf")
        out, meta = boruvka_msf(
            g, cfg, run_id=args.run_id, resume=args.resume,
            weights=spark.read.parquet(args.weights),
        ), None
    elif args.kernel == "centralities":
        # sketch-mode harmonic + closeness from HyperBall HLL counters
        # (the 100 TB path); --iterations caps the radius
        from planar_spark.kernels.hyperball import hyperball_centralities

        out, meta = hyperball_centralities(
            g, args.iterations or 8, cfg,
            run_id=args.run_id, resume=args.resume,
        ), None
    elif args.kernel == "node2vec":
        from planar_spark.kernels.neighborhood import node2vec_walk

        out, meta = node2vec_walk(
            g, cfg, num_steps=args.iterations or 4,
            num_walks=args.num_walks,
        ), None
    elif args.kernel == "triads":
        from planar_spark.kernels.graphstats import triad_census

        out, meta = triad_census(g, cfg), None
    elif args.kernel == "coredecomp":
        from planar_spark.kernels.kcore import core_decomposition

        out, meta = core_decomposition(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "trussdecomp":
        from planar_spark.kernels.truss import truss_decomposition

        out, meta = truss_decomposition(
            g, cfg, run_id=args.run_id, resume=args.resume
        ), None
    elif args.kernel == "densest":
        from planar_spark.kernels.densest import densest_subgraph

        out, meta = densest_subgraph(g, cfg), None
    elif args.kernel == "betweenness":
        # k-source Brandes estimate; --iterations = number of sampled
        # sources (the memory/accuracy dial, default 16)
        from planar_spark.kernels.betweenness import betweenness

        out, meta = betweenness(
            g, num_sources=args.iterations or 16, config=cfg,
            run_id=args.run_id, resume=args.resume,
        ), None
    elif args.kernel == "wsssp":
        from planar_spark.kernels.sssp import weighted_sssp

        w = spark.read.parquet(args.weights) if args.weights else None
        out, meta = weighted_sssp(
            g, args.source, cfg, weights=w,
            engine=engine("weighted_sssp"), resume=args.resume,
        ), None
    else:  # sssp
        r = bfs_sssp(g, args.source, cfg, engine=engine("sssp"),
                     resume=args.resume)
        out, meta = sssp_with_unreached(g, r.state), r

    out.write.mode("overwrite").parquet(args.output)
    summary = {
        "kernel": args.kernel,
        "num_vertices": g.num_vertices,
        "num_edges": g.num_edges,
        "output": args.output,
    }
    if meta is not None:
        summary.update(
            steps_run=meta.steps_run,
            converged=meta.converged,
            superstep_seconds=[m.get("seconds") for m in meta.metrics],
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
