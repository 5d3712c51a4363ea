from __future__ import annotations

import contextlib

import numpy as np
import pytest

from planar_spark import EngineConfig, get_spark
from planar_spark.graph.tables import GraphTables


@pytest.fixture(scope="session")
def spark():
    s = get_spark("planar_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def config(tmp_path_factory):
    return EngineConfig(
        num_partitions=8,
        checkpoint_dir=None,  # tests use localCheckpoint unless overridden
        hub_degree_threshold=1000,
        # pin the block-pinned locality gather at fixture scale: the
        # production default falls back to the hash gather below
        # locality_min_edges (r8 cost-aware consumption), but the
        # locality tests exist to exercise the pinned code path
        locality_min_edges=0,
    )


def graph_from_numpy(spark, edges: np.ndarray, num_vertices: int) -> GraphTables:
    """Small-fixture helper: numpy edge list -> GraphTables with the full
    vertex range 0..num_vertices-1 (so isolated vertices are represented)."""
    from pyspark.sql import functions as F

    edf = spark.createDataFrame(
        [(int(s), int(d)) for s, d in edges], schema="src long, dst long"
    )
    vdf = spark.range(num_vertices).select(
        F.lit(None).cast("string").alias("url"), F.col("id").alias("vid")
    )
    return GraphTables.from_edges(edf, num_partitions=8, vertices=vdf)


class Killed(Exception):
    """The crash ``killed_at`` injects."""


@contextlib.contextmanager
def killed_at(rnd: int):
    """Crash the kernel run inside the block at round ``rnd``: the
    round's tables are written, but ``RoundStore.commit`` raises before
    it seals the round, as a driver killed at that point would. The
    block must end in that crash; the newest sealed round is the last
    due one before ``rnd``."""
    from planar_spark.graph.superstep import RoundStore

    commit = RoundStore.commit

    def dying(self, r, metrics=None):
        if r == rnd:
            raise Killed(f"killed at round {rnd}")
        commit(self, r, metrics)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(RoundStore, "commit", dying)
        with pytest.raises(Killed):
            yield
