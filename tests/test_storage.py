"""TableStore: catalog detection + parquet-fallback round trips."""

from __future__ import annotations

import numpy as np

from planar_spark.graph.tables import GraphTables
from planar_spark.ingest.pages import edges_powerlaw
from planar_spark.storage import TableStore, detect_iceberg_catalog

from tests.conftest import graph_from_numpy


def test_no_iceberg_catalog_in_sandbox(spark):
    # bare pyspark: the layer must fall back to the parquet warehouse
    assert detect_iceberg_catalog(spark) is None


def test_tablestore_roundtrip_and_meta(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(100).selectExpr("id AS vid", "id * 2 AS val")
    store.write(df, "t1")
    got = store.read("t1")
    assert got.count() == 100
    assert sorted(got.columns) == ["val", "vid"]
    assert store.read_meta("run/step=00001") is None
    store.write_meta("run/step=00001", {"superstep": 1, "metrics": {"x": 2}})
    store.write_meta("run/step=00002", {"superstep": 2})
    meta = store.read_meta("run/step=00001")
    assert meta["metrics"]["x"] == 2
    names = set(store.list_meta_names("run"))
    assert names == {"run/step=00001", "run/step=00002"}


def test_graph_tables_roundtrip_through_store(spark, tmp_path):
    g = graph_from_numpy(spark, edges_powerlaw(120, m=2, seed=3), 120)
    path = str(tmp_path / "g")
    g.write(path)
    g2 = GraphTables.read(spark, path)
    assert g2.num_vertices == g.num_vertices
    assert g2.num_edges == g.num_edges
    assert g2.edges.count() == g.num_edges
    assert g2.degrees.count() == g2.num_vertices


def test_bucketed_write_gives_zero_exchange_self_join(spark, tmp_path):
    from pyspark.sql import functions as F

    from planar_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wb"))
    df = spark.range(5000).select(
        (F.col("id") % 499).alias("src"), (F.col("id") % 101).alias("dst")
    )
    store.write(df, "edges_b", bucket_by="src", num_buckets=8)
    t = store.read("edges_b")
    assert t.count() == 5000  # roundtrip
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t.alias("a").join(t.alias("b"), "src")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the parquet files really live under the store root
        assert (tmp_path / "wb" / "edges_b").exists()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql(f"DROP TABLE IF EXISTS {store._fallback_table('edges_b')}")


def test_plain_rewrite_drops_stale_bucketed_entry(spark, tmp_path):
    """A bucketed write followed by a plain write of the SAME name must
    not leave the stale catalog entry (with now-wrong bucketing
    metadata) shadowing the new parquet layout."""
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df1 = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    store.write(df1, "tbl", bucket_by="k", num_buckets=4)
    assert sorted(r["v"] for r in store.read("tbl").collect()) == [1] * 10
    df2 = spark.range(3).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    store.write(df2, "tbl")  # plain parquet rewrite
    got = store.read("tbl")
    assert sorted(r["v"] for r in got.collect()) == [2, 2, 2]


def test_partition_lineage_matches_written_table(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(1000).selectExpr("id AS vid").repartition(4, "vid")
    store.write(df, "lin1")
    lin = store.partition_lineage("lin1")
    assert lin["available"] and lin["mode"] == "parquet"
    assert lin["total_rows"] == 1000
    assert lin["num_files"] >= 1
    assert sum(f["rows"] for f in lin["files"]) == 1000
    assert all(f["bytes"] > 0 for f in lin["files"])
    assert not lin["truncated"]
    # unknown table: explicit unavailable marker, no exception
    assert store.partition_lineage("nope")["available"] is False


def test_loop_checkpoint_meta_carries_partition_lineage(spark, tmp_path):
    from planar_spark.config import EngineConfig
    from planar_spark.graph.superstep import RoundStore

    cfg = EngineConfig(checkpoint_dir=str(tmp_path), checkpoint_every=1)
    ck = RoundStore(spark, cfg, "lintest", run_id="r1")
    state = spark.range(64).selectExpr("id AS vid", "id % 7 AS lbl")
    ck.save(2, {"labels": state}, metrics={"rounds": 2})
    meta = TableStore(spark, str(tmp_path)).read_meta(ck.round_name(2))
    lin = meta["partition_lineage"]["labels"]
    assert lin["available"] and lin["total_rows"] == 64
    assert meta["metrics"]["rounds"] == 2


def test_superstep_checkpoint_meta_carries_partition_lineage(spark, tmp_path):
    from planar_spark.config import EngineConfig
    from planar_spark.graph.superstep import SuperstepEngine
    from planar_spark.kernels.pagerank import pagerank

    cfg = EngineConfig(checkpoint_dir=str(tmp_path), checkpoint_every=1)
    g = graph_from_numpy(spark, edges_powerlaw(80, m=2, seed=5), 80)
    eng = SuperstepEngine(spark, cfg, "pagerank", run_id="linpr")
    pagerank(g, cfg, num_iterations=2, engine=eng)
    store = TableStore(spark, str(tmp_path))
    names = sorted(store.list_meta_names("pagerank/linpr"))
    assert names, "expected at least one checkpointed superstep"
    meta = store.read_meta(names[-1])
    lin = meta["partition_lineage"]["state"]
    assert lin["available"] and lin["total_rows"] == 80
