"""Structured Streaming ingestion: exactly-once incremental edge builds."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from planar_spark.ingest.extract import extract_edges
from planar_spark.ingest.pages import edges_ring, make_pages_pdf
from planar_spark.streaming import crawl_rate, run_edge_ingestion, stream_pages


def _write_batch(pages_dir, edges, num_vertices, name):
    pdf = make_pages_pdf(np.array(edges), num_vertices)
    os.makedirs(pages_dir, exist_ok=True)
    pdf.to_parquet(
        os.path.join(pages_dir, name),
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def test_streaming_edge_ingestion_incremental_exactly_once(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: first half of a ring
    ring = edges_ring(20)
    _write_batch(pages_dir, ring[:10], 20, "batch1.parquet")
    run_edge_ingestion(spark, pages_dir, out_dir, ckpt)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 10
    # batch 2 arrives: second half; re-run processes ONLY the new file
    _write_batch(pages_dir, ring[10:], 20, "batch2.parquet")
    run_edge_ingestion(spark, pages_dir, out_dir, ckpt)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 20  # no duplicates: exactly-once append
    # content equals the batch extraction over all pages
    want = {
        (r["src_url"], r["dst_url"])
        for r in extract_edges(
            spark.read.parquet(pages_dir)
        ).collect()
    }
    got = {(r["src_url"], r["dst_url"]) for r in got2.collect()}
    assert got == want
    # idempotent re-run with no new files
    run_edge_ingestion(spark, pages_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 20


def test_windowed_counts_late_data_correction(spark, tmp_path):
    """Out-of-order delivery across two availableNow runs: run 1 sees
    only LATER event times; run 2 delivers rows whose event times fall
    INSIDE run-1's already-emitted windows (late, within watermark).
    The upsert log must re-emit those windows with corrected counts —
    and the latest-view must equal the batch ground truth."""
    from planar_spark.streaming.ingest_stream import (
        run_windowed_counts,
        windowed_counts_latest,
    )

    pages_dir = str(tmp_path / "pages")
    wout, wckpt = str(tmp_path / "wins"), str(tmp_path / "wckpt")
    base = 1_700_000_000

    def page_rows(ids):
        return spark.createDataFrame(
            [(f"u{i}",) for i in ids], "url string"
        ).select(
            "url",
            F.timestamp_seconds(
                F.lit(base)
                + F.substring("url", 2, 10).cast("long") * 100
            ).alias("warc_ts"),
            F.lit(b"").alias("html"),
            F.lit("").alias("text"),
            F.lit("en").alias("lang"),
        )

    # run 1: event times base+1000..base+1900 (windows 600/1200/1800)
    page_rows(range(10, 20)).write.mode("append").parquet(pages_dir)
    run_windowed_counts(spark, pages_dir, wout, wckpt)
    first = {
        r["window_start"]: r["n_pages"]
        for r in windowed_counts_latest(spark, wout).collect()
    }
    # run 2: event times base+0..base+1100 — ALL LATE vs run-1's max
    # (base+1900); ids 10/11 land INSIDE run-1's already-emitted
    # [base+1000, base+1600) window
    page_rows(range(0, 12)).write.mode("append").parquet(pages_dir)
    run_windowed_counts(spark, pages_dir, wout, wckpt)
    latest = {
        r["window_start"]: r["n_pages"]
        for r in windowed_counts_latest(spark, wout).collect()
    }
    want = {}
    for i in list(range(10, 20)) + list(range(0, 12)):
        w = (base + i * 100) // 600 * 600
        want[w] = want.get(w, 0) + 1
    assert latest == want
    # and at least one window run 1 already emitted was CORRECTED up
    assert any(
        w in first and latest[w] > first[w] for w in latest
    ), (first, latest)


def test_crawl_rate_windowed_aggregation(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    _write_batch(pages_dir, edges_ring(40), 40, "b.parquet")
    q = (
        crawl_rate(stream_pages(spark, pages_dir), window="10 minutes")
        .writeStream.format("memory")
        .queryName("crawl_rate_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT * FROM crawl_rate_t ORDER BY start"
    ).collect()
    # 40 pages at 17s spacing span ~680s => 2 windows of 10 minutes
    assert sum(r["n_pages"] for r in rows) == 40
    assert len(rows) == 2
    assert all(r["n_urls"] > 0 for r in rows)


def test_streaming_wcc_maintenance_exactly_once_and_chain_delta(
    spark, tmp_path, config
):
    """Continuous component maintenance: three edge deltas streamed via
    foreachBatch + incremental_wcc over RoundStore state. Delta 3
    daisy-chains every surviving component end-to-end (the shape that
    stalls hash-min — must be exact through the Boruvka path). Final
    labels must equal the batch kernel over the full edge set, and
    re-running with no new files must not change state."""
    import numpy as np

    from planar_spark.oracle.numpy_oracle import oracle_components
    from planar_spark.streaming import run_wcc_maintenance, wcc_labels_latest

    edges_dir = str(tmp_path / "edge_stream")
    state_dir = str(tmp_path / "wcc_state")
    ckpt = str(tmp_path / "wcc_ckpt")
    os.makedirs(edges_dir, exist_ok=True)

    # delta 1: 30 disjoint 2-cliques; delta 2: pair them up (15 comps);
    # delta 3: scrambled chain linking all 15 into one
    d1 = [(2 * i, 2 * i + 1) for i in range(30)]
    d2 = [(4 * i, 4 * i + 2) for i in range(15)]
    mult = 7  # coprime to 15
    d3 = [(4 * ((i * mult) % 15), 4 * (((i + 1) * mult) % 15) + 1)
          for i in range(14)]

    def push(name, rows):
        import pandas as pd

        pd.DataFrame(rows, columns=["src", "dst"]).astype("int64").to_parquet(
            os.path.join(edges_dir, f"{name}.parquet")
        )

    for name, rows in [("d1", d1), ("d2", d2), ("d3", d3)]:
        push(name, rows)
        run_wcc_maintenance(spark, edges_dir, state_dir, ckpt, config)

    got = {
        r["vid"]: r["label"]
        for r in wcc_labels_latest(spark, state_dir, config).collect()
    }
    all_edges = np.array(d1 + d2 + d3, dtype=np.int64)
    want = oracle_components(all_edges, 60)
    assert got == {v: int(want[v]) for v in range(60)}
    assert set(got.values()) == {0}  # fully chained, sanity

    # idempotent re-run: no new files -> state unchanged
    run_wcc_maintenance(spark, edges_dir, state_dir, ckpt, config)
    again = {
        r["vid"]: r["label"]
        for r in wcc_labels_latest(spark, state_dir, config).collect()
    }
    assert again == got


def test_wcc_maintenance_round_retention(spark, tmp_path, config):
    """The maintenance state_dir must stay bounded: every batch writes a
    full O(V) label snapshot as a new round, so without retention a
    long-running pipeline grows without bound (r6 ADVICE). With
    retain_rounds=2, after 5 deltas only the newest 2 completed rounds
    survive on disk, and latest() still returns the round-5 labels."""
    from planar_spark.streaming.wcc_maintain import (
        _checkpointer,
        apply_edge_delta,
    )

    state_dir = str(tmp_path / "wcc_state_ret")
    for i in range(5):
        delta = spark.createDataFrame(
            [(2 * i, 2 * i + 1)], "src long, dst long"
        )
        labels = apply_edge_delta(
            spark, state_dir, delta, config, retain_rounds=2
        )
        assert labels.count() == 2 * (i + 1)

    ckpt = _checkpointer(spark, state_dir, config, retain_rounds=2)
    run_dir = os.path.join(state_dir, "wcc_stream", "maintain")
    completed = sorted(
        e for e in os.listdir(run_dir)
        if os.path.exists(os.path.join(run_dir, e, "_META.json"))
    )
    assert completed == ["round=00004", "round=00005"]
    # pruned rounds' table files are gone too, not just their markers
    assert sorted(os.listdir(run_dir)) == completed

    rnd, tables, _m = ckpt.latest()
    assert rnd == 5
    got = {r["vid"]: r["label"] for r in tables["labels"].collect()}
    assert got == {2 * i + j: 2 * i for i in range(5) for j in (0, 1)}
