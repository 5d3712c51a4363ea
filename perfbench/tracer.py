"""Stage accounting per call, measured from outside the library.

A traced call runs under its own Spark job group
``<workload>/<call>/<rep>``. After it returns, the group's jobs come
from ``statusTracker()`` and each stage from the status store
(``sc.statusStore().lastStageAttempt(id)`` plus its task-time
quantiles). Stages are counted, not jobs: AQE adds a job per shuffle
stage. Driver time is the call's wall time minus the union of its
stage spans.

Spans (rep -> call -> job -> stage, each with name, start, end and
parent) are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

# A stage enters the skew figure only if it carries this share of the
# call's executor time; tiny stages have noise-dominated max/median.
SKEW_MIN_SHARE = 0.05


def union_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of ``[start, end]`` spans clipped to [lo, hi]."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in spans if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_ms(call_start_ms: float, call_end_ms: float, stage_spans) -> float:
    """Call wall time not covered by any of its stages."""
    wall = call_end_ms - call_start_ms
    return wall - union_ms(stage_spans, call_start_ms, call_end_ms)


def cached_rdds(spark) -> dict[int, int]:
    """RDD id -> block-manager bytes (memory + disk) of each persisted RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): int(i.memSize() + i.diskSize()) for i in infos}


def cached_bytes(spark) -> int:
    return sum(cached_rdds(spark).values())


def added_bytes(before: dict[int, int], after: dict[int, int]) -> int:
    """Bytes of the RDDs cached between two ``cached_rdds`` reads. Blocks
    the ContextCleaner frees meanwhile do not make this negative."""
    return sum(b for rdd, b in after.items() if rdd not in before)


def cache_entries(spark) -> dict:
    """Identity -> entry of every cached query plan. The list is private
    to Spark's CacheManager, so it is read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    ident = spark._jvm.System.identityHashCode
    return {ident(seq.apply(i)): seq.apply(i) for i in range(seq.size())}


def uncache_new(spark, before: set) -> None:
    """Uncache the query plans cached since ``before`` (an identity set
    from ``cache_entries``), leaving older ones, such as the set-up
    graph, in place."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    for k, cd in cache_entries(spark).items():
        if k not in before:
            cm.uncacheQuery(spark._jsparkSession, cd.plan(), False, True)


def _opt_ms(opt):
    return float(opt.get().getTime()) if opt.isDefined() else None


class Tracer:
    """Job-group stage ledger. Disabled, it only times calls."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.own_s = 0.0  # time spent reading the ledger, inside reps
        self._store = None
        if enabled:
            self._store = self._status_store()

    def _status_store(self):
        try:
            store = self.sc._jsc.sc().statusStore()
            store.applicationInfo()  # probe: raises if the API moved
            return store
        except Exception as e:  # noqa: BLE001 — any py4j/API failure
            print(
                f"WARNING: Spark status store unavailable ({e!r}); per-stage "
                "times, bytes and task quantiles fall back to "
                "statusTracker().getStageInfo task counts only.",
                file=sys.stderr,
            )
            return None

    # ------------------------------------------------------------- spans
    def span(self, name: str, kind: str, start: float, end: float,
             parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "kind": kind,
                           "start": start, "end": end, "parent": parent,
                           **attrs})
        return len(self.spans) - 1

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))

    # ------------------------------------------------------------- calls
    def call(self, name: str, rep: str, fn, parent: int | None = None):
        """Run ``fn()``; return (result or exception, wall seconds, layer
        record or None). Exceptions are returned, never raised, so the
        caller counts them."""
        group = f"{self.workload}/{name}/{rep}"
        t_before = time.perf_counter()
        if self.enabled:
            cache_before = cached_rdds(self.spark)
            self.sc.setJobGroup(group, group)
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            out = e
        wall = time.perf_counter() - t0
        end = time.time()
        if not self.enabled:
            return out, wall, None
        t1 = time.perf_counter()
        self.sc._jsc.clearJobGroup()
        call_id = self.span(name, "call", start, end, parent)
        rec = self._ledger(group, start * 1e3, end * 1e3, call_id)
        rec["cache_added_bytes"] = added_bytes(cache_before,
                                               cached_rdds(self.spark))
        self.own_s += time.perf_counter() - t1 + (t0 - t_before)
        return out, wall, rec

    def _drain(self) -> None:
        # stage data reaches the status store through the listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — internal API; fall back to a wait
            time.sleep(0.2)

    def _ledger(self, group: str, lo: float, hi: float, call_id: int) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        rec = dict(jobs=0, stages=0, tasks=0, executor_ms=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                   gc_ms=0.0, peak_exec_mem_bytes=0, output_bytes=0,
                   task_skew=0.0)
        seen: set[int] = set()
        stage_spans = []
        skews = []
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            rec["jobs"] += 1
            job_span = self._job_span(job_id, call_id)
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._stage(sid, job_span)
                if st is None:
                    continue
                rec["stages"] += 1
                rec["tasks"] += st["tasks"]
                for k in ("executor_ms", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes", "gc_ms",
                          "output_bytes"):
                    rec[k] += st.get(k, 0)
                rec["peak_exec_mem_bytes"] = max(
                    rec["peak_exec_mem_bytes"], st.get("peak_task_mem", 0))
                if st.get("span"):
                    stage_spans.append(st["span"])
                if st.get("skew") is not None:
                    skews.append((st["executor_ms"], st["skew"]))
        total = rec["executor_ms"]
        rec["task_skew"] = max(
            (s for ms, s in skews if total and ms >= SKEW_MIN_SHARE * total),
            default=0.0,
        )
        rec["driver_ms"] = driver_ms(lo, hi, stage_spans)
        return rec

    def _job_span(self, job_id: int, call_id: int) -> int:
        start = end = None
        if self._store is not None:
            try:
                jd = self._store.job(job_id)
                start = _opt_ms(jd.submissionTime())
                end = _opt_ms(jd.completionTime())
            except Exception:  # noqa: BLE001 — job evicted from the store
                pass
        return self.span(f"job{job_id}", "job", start and start / 1e3,
                         end and end / 1e3, call_id)

    def _stage(self, sid: int, job_span: int) -> dict | None:
        if self._store is None:
            info = self.sc.statusTracker().getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                return None
            self.span(info.name, "stage", None, None, job_span)
            return {"tasks": info.numTasks}
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — never ran / evicted
            return None
        if sd.status().toString() != "COMPLETE":
            return None  # SKIPPED: its shuffle output was reused
        start = _opt_ms(sd.submissionTime())
        end = _opt_ms(sd.completionTime())
        st = {
            "tasks": int(sd.numTasks()),
            "executor_ms": float(sd.executorRunTime()),
            "shuffle_read_bytes": int(sd.shuffleReadBytes()),
            "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
            "spill_bytes": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
            "gc_ms": float(sd.jvmGcTime()),
            "output_bytes": int(sd.outputBytes()),
            "span": (start, end) if start is not None and end else None,
        }
        st.update(self._task_quantiles(sid, int(sd.attemptId())))
        self.span(sd.name(), "stage", start and start / 1e3, end and end / 1e3,
                  job_span, stage_id=sid, **{k: v for k, v in st.items()
                                             if k != "span"})
        return st

    def _task_quantiles(self, sid: int, attempt: int) -> dict:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = self._store.taskSummary(sid, attempt, qs)
        if not opt.isDefined():
            return {}
        dist = opt.get()
        run = dist.executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        out = {"peak_task_mem": int(dist.peakExecutionMemory().apply(1))}
        if med > 0:
            out["skew"] = top / med
        return out
