"""The superstep engine: BSP driver loop + checkpoint/resume.

This is the DataFrame re-expression of the reference's execution model:
the app's ``Compute()`` is a plain loop issuing Map* calls that each run
one bulk-synchronous superstep over all blocks and end with
``update_store_->Sync()`` (nvme/apis/block_api.h:150-169,
nvme/scheduler/scheduler.h:190-246, nvme/update_stores/
nvme_update_store.h:138-145). Here:

- one superstep  = ``step_fn(state, step) -> (new_state, metrics)`` —
  a pure DataFrame expression (join + keyed agg), executed when the
  engine materializes the new state;
- ``Sync()``     = replacing the state DataFrame reference — state is
  immutable, so BSP read/write double-buffering is free;
- block write-back (.bin.new, scheduler.h:435-442) = per-round
  parquet checkpoint of the state + a meta JSON carrying run lineage
  and convergence metrics (``RoundStore``) — which doubles as lineage
  truncation (without it, step k's plan is O(k) deep and the job dies
  by step ~30) and as the resume point demanded by the north rule.
  Every iterative loop runs here: the pagerank family, hits, lpa,
  both wcc forms, both sssp forms, coloring, the k-core peel, k_truss,
  the HyperBall sweep, Boruvka msf, SCC, truss_decomposition,
  betweenness and louvain. A loop that carries several tables returns
  them by name next to ``state``; they are written with it on a due
  round and restored with it on resume, so every iterative kernel
  shares one layout, ``<kernel>/<run_id>/round=NNNNN/<table>``. Only
  streaming WCC, a per-batch store rather than a loop, builds its own
  ``RoundStore``;
- rounds between checkpoints cut the state's lineage with
  ``materialize`` — the one state-materialization policy of the
  package; a carried table is cut by its own step when its plan needs
  it;
- ``IsActive()`` termination (bsp_update_store.h:174-176) =
  ``converged_fn(metrics)`` on driver-side aggregated counts, where the
  metrics are Observations resolved by the state's own materialization
  job, so convergence checks never re-execute the superstep plan. The
  stop test also keeps a loop's driver counters (peel level, survivor
  counts, the profile so far): it adds them to the round's metrics
  before the commit and reads them back from the restored round on
  resume. A step that returns its input state object unchanged is a
  fixpoint: the run ends without cutting, writing or committing that
  round.
"""

from __future__ import annotations

import os
import time
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from planar_spark.config import EngineConfig
from planar_spark.storage import TableStore

Tables = dict[str, DataFrame]
StepFn = Callable[[DataFrame | Tables, int], tuple[DataFrame | Tables, dict]]
InitFn = Callable[[], DataFrame | Tables | tuple[DataFrame | Tables, dict]]


def resolve_observations(metrics: dict) -> dict:
    """Replace any ``Observation`` values in a step's metrics dict with
    the observed aggregates (merged in as plain keys).

    This is the zero-extra-job metrics path: a step_fn attaches
    ``df.observe(obs, ...)`` to the state plan it returns and puts the
    Observation in its metrics; the engine resolves it right after the
    state-materialization job (``materialize`` or the checkpoint write)
    — which is the job that populated it — so convergence counts never
    cost a standalone action."""
    out = dict(metrics)
    for key in list(out):
        if isinstance(out[key], Observation):
            obs = out.pop(key)
            out.update(obs.get)
    return out


def empty_table(spark: SparkSession, schema: str) -> DataFrame:
    """No rows and no partitions: the round-0 value of a carried table
    that grows by unions. Unlike a local relation it adds no empty
    partition to them, so it writes no empty file per checkpoint."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def releaf(df: DataFrame) -> DataFrame:
    """Rebuild an already-materialized (checkpointed) DataFrame as a
    fresh LogicalRDD leaf with DEFAULT statistics.

    Why this exists: ``Dataset.localCheckpoint`` copies the child plan's
    estimated statistics into the new leaf. An iterative kernel whose
    superstep SELF-JOINS its state (pointer jumping, Boruvka hooks,
    coloring conflict checks) then SQUARES the ``sizeInBytes`` estimate
    every round — the estimate becomes a 2^rounds-bit BigInteger and by
    round ~18 the driver burns seconds per join-planning stats call in
    BigInteger division (observed in SizeInBytesOnlyStatsPlanVisitor).
    Re-wrapping the checkpointed RDD in a leaf without inherited stats
    resets the estimate to the constant default. No data is moved: the
    RDD is reused as-is.
    """
    try:
        jdf = df._jdf
        spark = df.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception as e:  # internal API moved/renamed
        # never silent: without the stats reset, self-join loop kernels
        # degrade to seconds-per-round driver-side BigInteger planning
        # by round ~18 — a production run must be able to SEE that it is
        # running in the degraded mode
        warnings.warn(
            f"releaf: statistics-reset fast path unavailable ({e!r}); "
            "falling back to the raw checkpoint. Iterative self-join "
            "kernels may hit the inherited-sizeInBytes blowup "
            "(see superstep.releaf docstring).",
            RuntimeWarning,
            stacklevel=2,
        )
        return df


def materialize(df: DataFrame) -> DataFrame:
    """Execute ``df`` once and return it as a lineage-free leaf.

    The single state-materialization step of every iterative kernel:
    an eager ``localCheckpoint`` (executor-local blocks, no durable IO)
    re-wrapped by ``releaf`` so self-joining loops never inherit the
    squared statistics estimate. Durable rounds go through
    ``RoundStore.write`` instead."""
    return releaf(df.localCheckpoint(eager=True))


class RoundStore:
    """Durable round checkpoints for one ``(kernel, run_id)``.

    Layout: ``<kernel>/<run_id>/round=NNNNN/<table>`` per saved table,
    sealed by a completion marker on ``<kernel>/<run_id>/round=NNNNN``
    whose meta holds ``run_id``, ``kernel``, ``round``, ``tables``,
    ``metrics``, ``lineage``, ``partition_lineage`` (per table, from
    file footers / Iceberg metadata — no Spark job), ``wall_ts`` and
    ``completed``. Tables are written first and the marker last, so a
    round killed mid-write is invisible to ``latest`` and resume
    restarts it from the previous completed round. IO goes through the
    catalog-aware TableStore (Iceberg ``writeTo`` when a catalog is
    configured, parquet + atomic JSON markers otherwise).

    Disabled (``due`` always False, ``latest`` always None) when
    ``config.checkpoint_dir`` is unset. ``retain`` keeps only the newest N completed rounds after
    each commit — needed by continuously-running maintenance pipelines
    whose state is an O(V) table per round; unset keeps everything.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None,
        kernel: str,
        run_id: str | None = None,
        retain: int | None = None,
        lineage: dict | None = None,
    ):
        config = config or EngineConfig()
        self.kernel = kernel
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.every = max(1, config.checkpoint_every)
        self.retain = retain
        self.lineage = dict(lineage or {})
        self._store = (
            TableStore(spark, config.checkpoint_dir)
            if config.checkpoint_dir
            else None
        )
        self._prefix = f"{kernel}/{self.run_id}"
        self._written: dict[int, list[str]] = {}

    def due(self, rnd: int) -> bool:
        """True when round ``rnd`` should be persisted."""
        return self._store is not None and rnd % self.every == 0

    def round_name(self, rnd: int) -> str:
        return f"{self._prefix}/round={rnd:05d}"

    def write(self, rnd: int, tables: dict[str, DataFrame]) -> None:
        """Write round ``rnd``'s tables. The round is not visible to
        ``latest`` until ``commit``."""
        base = self.round_name(rnd)
        for name, df in tables.items():
            self._store.write(df, f"{base}/{name}")
        self._written[rnd] = sorted(tables)

    def read(
        self, rnd: int, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """Round ``rnd``'s table ``name`` as a fresh scan leaf: a loop
        that continues from it continues from the durable copy (the
        lineage cut). Each read probes the catalog and lists the
        table's files, so callers read only the tables they use; a read
        right after the write passes the written ``schema``, which
        spares the parquet schema-inference job."""
        return self._store.read(f"{self.round_name(rnd)}/{name}", schema)

    def commit(self, rnd: int, metrics: dict | None = None) -> None:
        """Seal round ``rnd`` (no-op unless due) with its completion
        marker, then apply ``retain``."""
        if not self.due(rnd):
            return
        base = self.round_name(rnd)
        tables = self._written.pop(rnd, [])
        self._store.write_meta(
            base,
            {
                "run_id": self.run_id,
                "kernel": self.kernel,
                "round": rnd,
                "tables": tables,
                "metrics": metrics or {},
                "lineage": self.lineage,
                "partition_lineage": {
                    t: self._store.partition_lineage(f"{base}/{t}")
                    for t in tables
                },
                "wall_ts": time.time(),
                "completed": True,
            },
        )
        if self.retain:
            self.prune(self.retain)

    def save(
        self, rnd: int, tables: dict[str, DataFrame], metrics: dict | None = None
    ) -> dict[str, DataFrame]:
        """``write`` + ``commit`` for loops whose metrics are known
        before the write. Returns the re-read tables, or ``tables``
        itself when the round was not due, so a loop continues from the
        result either way."""
        if not self.due(rnd):
            return tables
        self.write(rnd, tables)
        self.commit(rnd, metrics)
        return {
            name: self.read(rnd, name, df.schema) for name, df in tables.items()
        }

    def _completed_rounds(self) -> list[int]:
        """Round numbers with a live completion marker, ascending."""
        out = []
        for name in self._store.list_meta_names(self._prefix):
            tail = name.rsplit("/", 1)[-1]
            if tail.startswith("round="):
                out.append(int(tail.split("=")[1]))
        return sorted(out)

    def prune(self, keep: int) -> list[int]:
        """Delete all completed rounds except the newest ``keep``.
        Marker is retracted FIRST, tables after — a crash mid-prune
        leaves orphan table files (harmless) but never a completed
        marker over missing tables. Returns the pruned round numbers."""
        if self._store is None or keep < 1:
            return []
        rounds = self._completed_rounds()
        doomed = rounds[:-keep] if len(rounds) > keep else []
        for rnd in doomed:
            base = self.round_name(rnd)
            meta = self._store.read_meta(base) or {}
            self._store.retract_meta(base)
            for t in meta.get("tables", []):
                self._store.drop(f"{base}/{t}")
            self._store.drop(base)  # fallback: removes the round dir
        return doomed

    def latest(
        self, max_round: int | None = None
    ) -> tuple[int, dict[str, DataFrame], dict] | None:
        """(round, {name: DataFrame}, metrics) of the newest COMPLETED
        round, or None when nothing durable exists for this run_id.

        ``max_round`` ignores checkpoints PAST the caller's target: a
        prior run under the same run_id that went further (more
        supersteps, a larger HyperBall radius) must not make a
        smaller-target resume return the longer run's state."""
        if self._store is None:
            return None
        rounds = self._completed_rounds()
        if max_round is not None:
            rounds = [r for r in rounds if r <= max_round]
        if not rounds:
            return None
        rnd = rounds[-1]
        meta = self._store.read_meta(self.round_name(rnd)) or {}
        tables = {t: self.read(rnd, t) for t in meta.get("tables", [])}
        return rnd, tables, meta.get("metrics", {})


@dataclass
class SuperstepResult:
    state: DataFrame
    steps_run: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # every table of the last round by name, ``state`` included
    tables: Tables = field(default_factory=dict)


def _view(tables: Tables) -> DataFrame | Tables:
    """What a step sees: the state alone for a single-table loop, the
    named tables for a loop that carries more."""
    return tables["state"] if list(tables) == ["state"] else tables


def _tables(out: DataFrame | Tables) -> Tables:
    return out if isinstance(out, dict) else {"state": out}


class SuperstepEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        kernel: str,
        run_id: str | None = None,
        lineage: dict | None = None,
    ):
        self.spark = spark
        self.config = config
        self.kernel = kernel
        # Run lineage recorded in every checkpoint meta: inputs, graph
        # stats, engine config — enough to reproduce the run from the
        # checkpoint alone (north-rule: per-partition state + lineage +
        # convergence metrics per superstep).
        lineage = dict(lineage or {})
        lineage.setdefault("damping", config.damping)
        lineage.setdefault("num_partitions", config.num_partitions)
        self.store = RoundStore(spark, config, kernel, run_id, lineage=lineage)
        self.run_id = self.store.run_id

    def _dump_plan(self, state: DataFrame, step: int) -> None:
        """Debug hook: write the superstep's physical plan (formatted
        explain) to $SPARK_GRAFT_EXPLAIN_DIR/<kernel>_step<k>.txt before
        materialization. Off unless the env var is set; used to commit
        the plans/r*/ before/after evidence without touching kernels."""
        out_dir = os.environ.get("SPARK_GRAFT_EXPLAIN_DIR")
        if not out_dir:
            return
        try:
            mode = state.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            txt = state._jdf.queryExecution().explainString(mode)
            os.makedirs(out_dir, exist_ok=True)
            with open(
                os.path.join(out_dir, f"{self.kernel}_step{step:03d}.txt"), "w"
            ) as f:
                f.write(txt)
        except Exception:  # noqa: BLE001 — debug-only, never break a run
            pass

    def _cut(self, tables: Tables, step: int) -> Tables:
        """Materialize round ``step``'s state and cut its lineage: the
        durable write of every table on a checkpoint round (committed
        by the caller once the step's metrics are known), ``materialize``
        of the state otherwise. Carried tables pass on as given."""
        self._dump_plan(tables["state"], step)
        if self.store.due(step):
            self.store.write(step, tables)
            state = self.store.read(step, "state", tables["state"].schema)
        else:
            state = materialize(tables["state"])
        return {**tables, "state": state}

    # ------------------------------------------------------------- runner
    def run(
        self,
        init_state: DataFrame | InitFn,
        step_fn: StepFn,
        max_steps: int,
        converged_fn: Callable[[dict], bool] | None = None,
        resume: bool = False,
    ) -> SuperstepResult:
        """Run supersteps 1..``max_steps`` from round 0 (``init_state``)
        or, with ``resume``, from the newest completed round <=
        ``max_steps``, whose checkpointed tables are read as they are.

        ``init_state`` gives round 0's state, or ``(state, metrics)``
        when round 0 reports metrics the way a step does (Observations
        on its plan included). A state is one DataFrame, or a dict of
        named tables holding ``state`` plus the tables the loop carries;
        a step then receives and returns that dict. The engine cuts
        ``state`` every round and writes every table on a due round;
        the carried ones pass on as the step returned them, so a step
        cuts them itself when its plan needs it, and puts Observations
        only on ``state`` or on tables it has already cut.

        ``converged_fn(metrics)`` is the stop test. It sees every
        round's metrics in order, each before it is committed: round
        0's when it reports any, the restored round's on resume, then
        each new step's. So a loop keeps its driver counters there,
        adding them to ``metrics`` to have them checkpointed and reading
        them back from a restored meta. A round 0 that reports nothing
        is never tested, and a round that passes the test ends the run
        before another step starts. A step that returns its input state
        object unchanged ends the run as converged; that round is not
        cut, written or committed, and the result holds the tables it
        returned.

        Raises ValueError when the round to resume from has no
        ``state`` table (a round written in another layout)."""
        latest = self.store.latest(max_round=max_steps) if resume else None
        if latest is not None:
            step, tables, metrics = latest
            if "state" not in tables:
                raise ValueError(
                    f"{self.kernel}: run {self.run_id!r} round {step} has "
                    f"no 'state' table (it holds {sorted(tables)}), so it "
                    "cannot be resumed"
                )
        else:
            step = 0
            init = init_state() if callable(init_state) else init_state
            out, metrics = init if isinstance(init, tuple) else (init, {})
            tables = self._cut(_tables(out), 0)
            metrics = {"init": True, **resolve_observations(metrics)}
        reported = any(key != "init" for key in metrics)
        converged = bool(converged_fn and reported and converged_fn(metrics))
        all_metrics = [metrics] if latest is not None else []
        if latest is None:
            self.store.commit(0, metrics)

        while not converged and step < max_steps:
            t0 = time.time()
            out, metrics = step_fn(_view(tables), step + 1)
            out = _tables(out)
            if out["state"] is tables["state"]:
                tables, converged = out, True
                break
            step += 1
            new = self._cut(out, step)
            # Observations attached to the state plan were populated by
            # the materialization job just above — fold them in now (so
            # converged_fn and the checkpoint meta see plain values).
            metrics = resolve_observations(metrics)
            metrics["superstep"] = step
            metrics["seconds"] = time.time() - t0
            converged = bool(converged_fn and converged_fn(metrics))
            self.store.commit(step, metrics)
            all_metrics.append(metrics)
            tables = new
        return SuperstepResult(
            tables["state"], step, converged, all_metrics, tables
        )

