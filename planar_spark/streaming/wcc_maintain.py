"""Streaming WCC maintenance: continuously-arriving edges -> labels.

The batch kernel answers "what are the components of THIS graph"; a
crawl pipeline needs "keep the components current as edges arrive".
This module is the streaming back half for that query:

    edge parquet dir (new files = new crawl deltas)
      -> readStream
      -> foreachBatch:
           load newest label state        (RoundStore.latest)
           union unseen endpoints         (new pages = singletons)
           incremental_wcc(old, delta)    (label-graph contraction,
                                           Boruvka mode — exact + O(log)
                                           rounds even on chain deltas)
           save labels + lineage          (marker-sealed round)

Exactly-once effect: the streaming checkpoint deduplicates input
files, and the label update itself is IDEMPOTENT — re-applying an
already-merged delta contracts to an empty label graph and returns the
labels unchanged — so at-least-once foreachBatch replays converge to
the same state (same argument as the windowed-count upsert sink,
ingest_stream.py).

Scale shape: per batch the work is O(|delta| + |touched components|)
(incremental_wcc's contract), NEVER a full-graph recompute; the label
state is one bucketed table re-read per batch. At 100 TB this is the
difference between a nightly full WCC and a minutes-long delta merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from planar_spark.config import EngineConfig
from planar_spark.graph.superstep import RoundStore
from planar_spark.kernels.components import incremental_wcc

_RUN_ID = "maintain"  # fixed: state must be findable across restarts


def _checkpointer(
    spark: SparkSession,
    state_dir: str,
    config: EngineConfig | None,
    retain_rounds: int = 4,
) -> RoundStore:
    if not state_dir:
        raise ValueError("wcc maintenance requires a durable state_dir")
    cfg = config or EngineConfig()
    cfg = EngineConfig(**{**cfg.__dict__, "checkpoint_dir": state_dir,
                          "checkpoint_every": 1})
    # retention is NON-optional for this pipeline: every batch commits a
    # full O(V) label copy as a new round, so an unbounded state_dir
    # grows by |labels| per batch forever (r6 ADVICE). 4 rounds keeps
    # enough history to debug a bad delta while bounding state at
    # 4x|labels|.
    return RoundStore(
        spark, cfg, "wcc_stream", run_id=_RUN_ID, retain=retain_rounds
    )


def apply_edge_delta(
    spark: SparkSession,
    state_dir: str,
    delta: DataFrame,
    config: EngineConfig | None = None,
    batch_id: int | None = None,
    retain_rounds: int = 4,
) -> DataFrame:
    """Merge one (src, dst) edge delta into the durable label state and
    return the new labels. Usable directly (batch callers) and as the
    foreachBatch body (run_wcc_maintenance). Only the newest
    ``retain_rounds`` label snapshots are kept on disk."""
    ckpt = _checkpointer(spark, state_dir, config, retain_rounds)
    edges = (
        delta.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionAll(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    latest = ckpt.latest()
    if latest is None:
        rnd = 0
        old = verts.select("vid", F.col("vid").alias("label"))
    else:
        rnd, tables, _m = latest
        known = tables["labels"]
        # unseen endpoints enter as singleton components so the
        # incremental join never silently drops a delta edge
        fresh = verts.join(known.select("vid"), "vid", "left_anti")
        old = known.unionByName(
            fresh.select("vid", F.col("vid").alias("label"))
        )
    new_labels = incremental_wcc(old, edges, config)
    saved = ckpt.save(
        rnd + 1,
        {"labels": new_labels},
        {"batch_id": -1 if batch_id is None else int(batch_id)},
    )
    return saved["labels"]


def run_wcc_maintenance(
    spark: SparkSession,
    edges_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    config: EngineConfig | None = None,
) -> None:
    """Process all currently-available edge files into the label state,
    then stop (Trigger.AvailableNow — the same re-runnable contract as
    run_edge_ingestion). Re-running after new files arrive merges ONLY
    the new files' edges."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_edge_delta(spark, state_dir, batch_df, config, batch_id)

    q = (
        spark.readStream.schema("src long, dst long")
        .parquet(edges_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def wcc_labels_latest(
    spark: SparkSession, state_dir: str, config: EngineConfig | None = None
) -> DataFrame | None:
    """(vid, label) — the newest maintained labeling, or None before
    the first completed batch."""
    latest = _checkpointer(spark, state_dir, config).latest()
    if latest is None:
        return None
    _rnd, tables, _m = latest
    return tables["labels"]
