"""planar-spark benchmark: one seeded workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload web-kernels --seed 1 --seconds 20 --trace 0

``--trace 0`` times repetitions with tracing off and prints the
end-to-end metrics. ``--trace 1`` is a separate run that attributes
Spark jobs, stages, executor time, shuffle bytes and driver time to each
call and prints the per-layer metrics. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPEATS = 3
DRIVER_MEMORY = "4g"
CALLS = ("build", "ingest", "pagerank", "wcc", "lpa", "triangles", "resume")
STEP_CALLS = ("pagerank", "wcc", "lpa")
LAYER_FIELDS = ("jobs", "stages", "tasks", "executor_ms", "driver_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "gc_ms", "peak_exec_mem_bytes", "task_skew")


@dataclass
class Env:
    spark: object
    parts: int
    seed: int
    work: Path
    cache_root: Path
    tracer: object

    def config(self, **kw):
        from planar_spark.config import EngineConfig

        return EngineConfig(num_partitions=self.parts, tolerance=0.0, **kw)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def mem_probe() -> float:
    """Seconds for three streaming passes over 128 MB: tags the host's
    memory mode. Taken before the run, so it never measures the run's
    own memory debt."""
    import numpy as np

    a = np.ones(1 << 24, dtype=np.int64)
    t0 = time.perf_counter()
    s = 0
    for _ in range(3):
        s += int((a + 1).sum())
    return time.perf_counter() - t0


def pin_environment() -> None:
    """Keep every file the run writes inside WORK, and let Python
    workers import planar_spark from this checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None


def start_session(cores: int, parts: int, traced: bool):
    from planar_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    return get_spark("perfbench", cores=cores, shuffle_partitions=parts,
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def settle_cache(spark) -> int:
    """Drop dead Python handles and let the JVM's ContextCleaner free
    their blocks; returns block-manager bytes once two reads agree."""
    from tracer import cached_bytes

    last = None
    for _ in range(10):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.1)
        now = cached_bytes(spark)
        if now == last:
            break
        last = now
    return now


# ------------------------------------------------------------------ reps

def layer_probes(env: Env, wl, rep, built) -> dict:
    """Traced reps only, after the rep's timer: time one public call at a
    time, each forced on its own."""
    from tracer import added_bytes, cached_rdds

    out = {}
    g = rep.graph
    if g is not None:
        before = cached_rdds(env.spark)
        t0 = time.perf_counter()
        sym = g.symmetric_edges_by_src(env.parts).persist()
        sym.count()
        out["tables.sym_build_s"] = time.perf_counter() - t0
        out["tables.sym_cache_bytes"] = added_bytes(
            before, cached_rdds(env.spark))
        sym.unpersist(blocking=True)
    if wl.name == "ingest-resume":
        from pyspark.sql import functions as F

        from planar_spark.ingest.build import dictionary_encode, encode_edges
        from planar_spark.ingest.extract import extract_edges

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        pages = built
        t0 = time.perf_counter()
        raw = extract_edges(pages).persist()
        noop(raw)
        out["ingest.extract_s"] = time.perf_counter() - t0
        urls = pages.select("url").unionAll(
            raw.select(F.col("dst_url").alias("url")))
        t0 = time.perf_counter()
        verts = dictionary_encode(urls, env.parts).persist()
        noop(verts)
        out["ingest.dict_encode_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(encode_edges(raw, verts, env.parts))
        out["ingest.encode_s"] = time.perf_counter() - t0
        raw.unpersist(blocking=True)
        verts.unpersist(blocking=True)
    return out


def run_rep(env: Env, wl, built, index: int, traced: bool) -> dict:
    from tracer import cache_entries, uncache_new
    from workloads import Rep, release

    spark, tracer = env.spark, env.tracer
    entries_before = set(cache_entries(spark))
    bytes_before = settle_cache(spark)
    rep = Rep(env, index)
    start = time.time()
    if traced:
        rep.span_id = tracer.span(f"rep{index}", "rep", start, None, None)
    own_before = tracer.own_s
    t0 = time.perf_counter()
    wl.rep(env, rep, built)
    run_s = time.perf_counter() - t0
    tracer_s = tracer.own_s - own_before
    if traced:
        tracer.spans[rep.span_id]["end"] = start + run_s
    try:
        wl.check(env, rep)
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails
        rep.fail("check", f"raised {e!r}")
    probes = layer_probes(env, wl, rep, built) if traced else {}
    release(rep)
    leaked = settle_cache(spark) - bytes_before
    uncache_new(spark, entries_before)
    storage = wl.after_rep(env, rep)
    for f in rep.failures:
        print(f"FAILED rep{index}: {f}", file=sys.stderr)
    return {"index": index, "run_s": run_s,
            "tracer_s": tracer_s,
            "calls": rep.calls, "failures": rep.failures,
            "attempted": rep.attempted, "probes": probes,
            "leaked_bytes": leaked,
            "storage": storage}


def build_repeatedly(env: Env, wl) -> tuple[object, list[float], list[dict]]:
    """The timed one-time set-up, done SETUP_REPEATS times; the last
    build is kept for the reps."""
    times, layers, built = [], [], None
    for k in range(SETUP_REPEATS):
        if built is not None:
            wl.drop(built)
        built, wall, layer = env.tracer.call("build", f"setup{k}",
                                             lambda: wl.build(env))
        if isinstance(built, Exception):
            raise built
        times.append(wall)
        if layer is not None:
            layers.append(layer)
    return built, times, layers


# --------------------------------------------------------------- metrics

def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def end_to_end(reps, setup_s, attempted, failed) -> dict:
    """Only whole-rep times: on a shared host the speed drifts for tens
    of seconds at a time, which a 30 s rep averages and a 4 s call does
    not. Per-call and per-step times are per-layer metrics."""
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (med(r["run_s"] for r in reps), "s"),
        "ok_frac": (1.0 - failed / attempted, "frac"),
    }


UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
         "executor_ms": "ms", "driver_ms": "ms", "shuffle_read_bytes": "bytes",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "gc_ms": "ms", "peak_exec_mem_bytes": "bytes", "task_skew": "ratio",
         "wall_s": "s", "steps": "count", "step_s_median": "s",
         "stages_per_step": "count", "driver_ms_per_step": "ms",
         "shuffle_bytes_per_step": "bytes"}


def per_layer(traced, build_layers, build_times, session_s,
              peak_rss_mb) -> dict:
    """Medians over traced reps; calls a workload does not make read 0."""
    m: dict[str, tuple[float, str]] = {}

    def call_records(name):
        if name == "build":
            return [dict(layer, wall=w)
                    for layer, w in zip(build_layers, build_times)]
        return [dict(c["layer"], wall=c["wall"],
                     steps_run=c.get("steps_run", 0), step_s=c.get("step_s", []),
                     num_edges=c.get("num_edges", 0))
                for r in traced for c in r["calls"].get(name, [])]

    for name in CALLS:
        recs = call_records(name)
        for f in LAYER_FIELDS:
            m[f"{name}.{f}"] = (med(r[f] for r in recs), UNITS[f])
        m[f"{name}.wall_s"] = (med(r["wall"] for r in recs), "s")
        if name in STEP_CALLS:
            def per_step(r, v):
                return v / r["steps_run"] if r["steps_run"] else 0.0
            m[f"{name}.steps"] = (med(r["steps_run"] for r in recs), "count")
            m[f"{name}.step_s_median"] = (
                med(med(r["step_s"]) for r in recs), "s")
            m[f"{name}.stages_per_step"] = (
                med(per_step(r, r["stages"]) for r in recs), "count")
            m[f"{name}.driver_ms_per_step"] = (
                med(per_step(r, r["driver_ms"]) for r in recs), "ms")
            m[f"{name}.shuffle_bytes_per_step"] = (med(
                per_step(r, r["shuffle_read_bytes"] + r["shuffle_write_bytes"])
                for r in recs), "bytes")
    # the BASELINE.json throughput figure
    m["pagerank.edges_per_s"] = (med(
        r["num_edges"] * r["steps_run"] / r["wall"]
        for r in call_records("pagerank")), "1/s")
    # from_edges runs in set-up, or inside the ingest call
    edge_cache = call_records("ingest") or call_records("build")
    m["tables.edge_cache_bytes"] = (
        med(r["cache_added_bytes"] for r in edge_cache), "bytes")
    for key, unit in (("tables.sym_cache_bytes", "bytes"),
                      ("tables.sym_build_s", "s"), ("ingest.extract_s", "s"),
                      ("ingest.dict_encode_s", "s"), ("ingest.encode_s", "s")):
        m[key] = (med(r["probes"].get(key) for r in traced), unit)
    m["storage.ckpt_bytes"] = (
        med(r["storage"].get("ckpt_bytes", 0) for r in traced), "bytes")
    m["storage.ckpt_files"] = (
        med(r["storage"].get("ckpt_files", 0) for r in traced), "count")
    m["storage.output_bytes"] = (med(
        sum(c["layer"]["output_bytes"] for recs in r["calls"].values()
            for c in recs)
        for r in traced), "bytes")
    m["session.start_s"] = (session_s, "s")
    m["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
    m["cache.leaked_bytes"] = (med(r["leaked_bytes"] for r in traced), "bytes")
    # the traced rep's wall against the same rep without the ledger reads
    m["tracing.overhead_frac"] = (med(
        r["tracer_s"] / (r["run_s"] - r["tracer_s"]) for r in traced), "frac")
    return m


def print_layer_table(workload: str, traced) -> None:
    cols = ("wall_s", "jobs", "stages", "tasks", "executor_ms", "driver_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "gc_ms", "task_skew")
    print(f"per-layer medians, {workload}, {len(traced)} traced reps")
    print(f"{'call':<10}" + "".join(f"{c:>20}" for c in cols))
    names = sorted({n for r in traced for n in r["calls"]})
    for name in names:
        recs = [dict(c["layer"], wall_s=c["wall"])
                for r in traced for c in r["calls"].get(name, [])]
        print(f"{name:<10}" + "".join(
            f"{med(r[c] for r in recs):>20.4g}" for c in cols))


# ------------------------------------------------------------------ main

def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "planar_spark" / "__init__.py").is_file():
        print(f"error: no planar_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from tracer import Tracer
    from workloads import WORKLOADS

    pin_environment()
    probe_s = mem_probe()
    cores = len(os.sched_getaffinity(0))
    parts = cores
    traced_run = bool(args.trace)
    t_session = time.perf_counter()
    spark = start_session(cores, parts, traced_run)
    session_s = time.perf_counter() - t_session
    process_to_session_s = time.perf_counter() - T_START - probe_s
    try:
        wl = WORKLOADS[args.workload]()
        env = Env(spark, parts, args.seed, WORK, WORK / "inputs",
                  Tracer(spark, args.workload, traced_run))
        log("session started")
        wl.prepare(env)  # untimed: inputs and oracle answers
        log("inputs ready")
        built, build_times, build_layers = build_repeatedly(env, wl)
        setup_s = process_to_session_s + med(build_times)
        log("set-up done")
        # untimed; on ingest-resume it also starts the Python workers the
        # pandas UDFs run in, a once-per-session cost
        once_ops, once_failures = wl.once(env, built)
        for f in once_failures:
            print(f"FAILED: {f}", file=sys.stderr)

        reps = []
        t_meas = time.perf_counter()
        while True:
            reps.append(run_rep(env, wl, built, len(reps), traced_run))
            log(f"rep {len(reps) - 1} done: " + ", ".join(
                f"{k} {c['wall']:.2f}s" for k, recs in reps[-1]["calls"].items()
                for c in recs))
            if time.perf_counter() - t_meas >= args.seconds:
                break
        peak_rss_mb = jvm_peak_rss_mb(spark)
        annotations = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "partitions": parts, "driver_memory": DRIVER_MEMORY,
            "pyspark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "mem_probe_s": probe_s,
            "reps": len(reps), "sizes": wl.sizes,
        }
        if traced_run:
            env.tracer.write(
                WORK / "traces" / f"{args.workload}-s{args.seed}.json")
    finally:
        stop_session(spark)
        log("spark stopped")

    attempted = sum(r["attempted"] for r in reps) + once_ops
    failed = sum(len(r["failures"]) for r in reps) + len(once_failures)
    if traced_run:
        print_layer_table(args.workload, reps)
        metrics = per_layer(reps, build_layers, build_times, session_s,
                            peak_rss_mb)
    else:
        metrics = end_to_end(reps, setup_s, attempted, failed)
    print("annotations " + json.dumps(annotations))
    width = max(len(k) for k in metrics)
    for k, (v, unit) in metrics.items():
        print(f"{k:<{width}}  {v:>16.6g} {unit}")
    print(f"failed_frac {failed / attempted:.4g} ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
