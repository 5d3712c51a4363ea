"""Engine configuration.

The reference configures its runs through a gflags singleton
(core/common/config.h:60-120 — parallelism, memory_size, iter, ...).
Ours is a plain dataclass passed to kernels; Spark-level knobs
(shuffle partitions, AQE) live on the SparkSession (session.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # --- PageRank (reference defaults: core/common/config.h:96-99) ---
    damping: float = 0.85
    max_iterations: int = 20
    tolerance: float = 1.0e-9  # L1 early-stop; <=0 disables early stop

    # --- superstep engine ---
    # Reliable per-superstep checkpointing: every superstep's state is
    # written to (and re-read from) the state store, truncating lineage
    # (the Spark analogue of the reference writing mutated blocks back
    # as .bin.new each round, nvme/scheduler/scheduler.h:435-442).
    checkpoint_dir: str | None = None
    checkpoint_every: int = 1  # checkpoint every k supersteps (>=1)

    # --- partitioning / skew ---
    # Number of hash partitions for edges/state co-partitioning. Should
    # track cluster cores; on a real cluster this is O(2-4x total cores).
    num_partitions: int = field(
        default_factory=lambda: int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    # Degree threshold above which a vertex counts as a "hub": on the
    # hash layout the pagerank family and hits split its edges off once
    # per call into a table spread over every partition, and gather its
    # value from that table through a literal (graph/skew.py
    # gather_edges; reference analogue is the strided
    # ParallelVertexDoStep skew path, core/apis/planar_app_base.h:208-231).
    hub_degree_threshold: int = 100_000

    # --- locality layout consumption ---
    # Minimum edge count at which the gather kernels consume a
    # with_partitioning graph via the block-pinned compound-key gather
    # (graph/skew.py gather_edges, through effective_block_size).
    # The pinned gather only pays when the gather EXCHANGE is the
    # bottleneck: measured (BENCH/NOTES.md r7) it moves 2.2x more
    # edges/s at 100M edges but LOSES wall-clock at 1M edges
    # (ring_pagerank_locality 3.4s vs ring_pagerank_hash 3.1s — the
    # compound-key join costs more than the ~8MB exchange it saves).
    # Below the threshold kernels fall back to the plain hash gather —
    # results are identical either way (same join semantics, different
    # physical plan). 0 pins the block path unconditionally (plan tests
    # and the pagerank_locality gate use this to keep exercising it).
    locality_min_edges: int = 10_000_000

    def partitions_for(self, spark) -> int:
        """Effective partition count: config value or session default."""
        if self.num_partitions > 0:
            return self.num_partitions
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
