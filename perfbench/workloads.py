"""The two benchmark workloads.

Each workload has untimed ``prepare`` (seeded inputs + cached oracle
answers), a ``build`` step that is the timed one-time set-up, and a
``rep`` that makes its calls one after another (a closed loop with at
most one call in flight). ``check`` compares a rep's outputs with the
oracle after the rep's timer has stopped.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np

import inputs

PR_RTOL = 1e-6       # per-vertex relative tolerance against the oracle
PR_SUM_TOL = 1e-9    # |sum(pr) - 1|
RESUME_RTOL = 1e-9   # resumed vs uninterrupted state


class Rep:
    """One repetition: call walls, layer records and failed operations.
    A call name can repeat within a rep; each call keeps its own record
    and output, in call order."""

    def __init__(self, env, index: int):
        self.env = env
        self.index = index
        self.calls: dict[str, list[dict]] = {}
        self.outputs: dict[str, list] = {}
        self.failures: list[str] = []
        self.span_id = None
        self.graph = None  # graph the layer probes run on

    def call(self, name: str, fn):
        # a repeated call gets its own job group: "rep0", "rep0#1", ...
        recs = self.calls.setdefault(name, [])
        tag = f"rep{self.index}" + (f"#{len(recs)}" if recs else "")
        out, wall, layer = self.env.tracer.call(name, tag, fn,
                                                parent=self.span_id)
        rec = {"wall": wall, "layer": layer}
        recs.append(rec)
        if isinstance(out, Exception):
            self.fail(name, f"raised {out!r}")
            return None
        self.outputs.setdefault(name, []).append(out)
        if hasattr(out, "steps_run"):
            # a resumed run's first metrics entry is the checkpoint's
            ms = out.metrics[1:] if name == "resume" else out.metrics
            rec["steps_run"] = out.steps_run
            rec["step_s"] = [m["seconds"] for m in ms if "seconds" in m]
            if self.graph is not None:
                rec["num_edges"] = self.graph.num_edges
        return out

    def output(self, name: str):
        """The last output of call ``name``, or None."""
        return self.outputs.get(name, [None])[-1]

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")

    @property
    def attempted(self) -> int:
        return sum(len(recs) for recs in self.calls.values())


def vertex_df(spark, n: int):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.lit(None).cast("string").alias("url"), F.col("id").alias("vid"))


def load_graph(env, edges_path: str, n: int):
    from planar_spark.graph.tables import GraphTables

    return GraphTables.from_edges(
        env.spark.read.parquet(edges_path), num_partitions=env.parts,
        vertices=vertex_df(env.spark, n))


def drop_graph(g) -> None:
    for df in (g.edges, g.degrees, g.vertices):
        df.unpersist(blocking=True)


def dense(df, key: str, val: str, n: int) -> np.ndarray | None:
    """Column ``val`` indexed by ``key`` over 0..n-1; None if the keys are
    not exactly 0..n-1."""
    pdf = df.select(key, val).toPandas()
    keys = pdf[key].to_numpy()
    if len(keys) != n or not np.array_equal(np.sort(keys), np.arange(n)):
        return None
    out = np.empty(n, dtype=pdf[val].dtype)
    out[keys] = pdf[val].to_numpy()
    return out


def check_pagerank(rep: Rep, name: str, expected: np.ndarray) -> np.ndarray | None:
    """Check every output of call ``name``; returns the last one's ranks."""
    pr = None
    for res in rep.outputs.get(name, []):
        pr = dense(res.state, "vid", "pr", len(expected))
        if pr is None:
            rep.fail(name, "vertex set differs from the oracle")
        elif not np.allclose(pr, expected, rtol=PR_RTOL, atol=0.0):
            rep.fail(name, f"max rel err {np.max(np.abs(pr / expected - 1)):.3g}")
        elif abs(pr.sum() - 1.0) > PR_SUM_TOL:
            rep.fail(name, f"sum(pr) = {pr.sum()!r}")
    return pr


def check_labels(rep: Rep, name: str, expected: np.ndarray) -> None:
    res = rep.output(name)
    if res is None:
        return
    if not res.converged:
        rep.fail(name, "converged=False")
        return
    got = dense(res.state, "vid", "label", len(expected))
    if got is None or not np.array_equal(got, expected):
        rep.fail(name, "labels differ from the oracle")


def release(rep: Rep) -> None:
    """Unpersist every result state and graph the rep built."""
    for out in (o for outs in rep.outputs.values() for o in outs):
        state = getattr(out, "state", None)
        if state is not None:
            state.unpersist(blocking=True)
        elif hasattr(out, "edges"):
            drop_graph(out)
    rep.outputs.clear()
    rep.graph = None


class Workload:
    name: str
    sizes: dict

    def prepare(self, env) -> None:
        raise NotImplementedError

    def build(self, env):
        raise NotImplementedError

    def drop(self, built) -> None:
        drop_graph(built)

    def rep(self, env, rep: Rep, built) -> None:
        raise NotImplementedError

    def check(self, env, rep: Rep) -> None:
        raise NotImplementedError

    def after_rep(self, env, rep: Rep) -> dict:
        """Untimed clean-up; returns storage figures for the trace."""
        return {}

    def once(self, env, built) -> tuple[int, list[str]]:
        """Once-per-run checks; returns (operations, failures)."""
        return 0, []


class WebKernels(Workload):
    name = "web-kernels"
    sizes = dict(vertices=30_000, edges=90_000, hub_links=110_000,
                 pr_iters=5, lpa_rounds=3)

    def prepare(self, env) -> None:
        from planar_spark.oracle import numpy_oracle as o

        s = self.sizes
        cache = inputs.InputCache(env.cache_root, self.name, env.seed, s)
        self.meta, self.oracle = inputs.prepare_graph(
            env.spark, cache,
            inputs.web_graph(env.spark, env.seed, s["vertices"], s["edges"],
                             s["hub_links"], env.parts),
            s["vertices"],
            {
                "pagerank": lambda e, n: o.oracle_pagerank(
                    e, n, num_iterations=s["pr_iters"]),
                "wcc": o.oracle_components,
                "lpa": lambda e, n: o.oracle_lpa(e, n, s["lpa_rounds"]),
                "triangles": lambda e, n: o.oracle_triangle_count(e),
            },
        )
        self.edges_path = cache.path("edges")

    def build(self, env):
        return load_graph(env, self.edges_path, self.meta["vertices"])

    def rep(self, env, rep: Rep, g) -> None:
        from planar_spark.kernels.components import connected_components
        from planar_spark.kernels.lpa import label_propagation
        from planar_spark.kernels.pagerank import pagerank
        from planar_spark.kernels.triangles import triangle_count

        cfg = env.config()
        s = self.sizes
        rep.graph = g

        def pr():
            rep.call("pagerank", lambda: pagerank(
                g, cfg, num_iterations=s["pr_iters"]))

        # pagerank runs three times, between the other kernels: a dip in
        # the host's speed lasts seconds, and one call can sit inside it
        rep.call("wcc", lambda: connected_components(g, cfg, two_hop_init=True))
        pr()
        rep.call("lpa", lambda: label_propagation(
            g, cfg, num_iterations=s["lpa_rounds"]))
        pr()
        rep.call("triangles", lambda: triangle_count(g, cfg))
        pr()

    def check(self, env, rep: Rep) -> None:
        check_pagerank(rep, "pagerank", self.oracle["pagerank"])
        check_labels(rep, "wcc", self.oracle["wcc"])
        res = rep.output("lpa")
        if res is not None:
            got = dense(res.state, "vid", "label", self.meta["vertices"])
            if got is None or not np.array_equal(got, self.oracle["lpa"]):
                rep.fail("lpa", "labels differ from the oracle")
        tri = rep.outputs.pop("triangles", [None])[-1]
        if tri is not None and int(tri) != int(self.oracle["triangles"]):
            rep.fail("triangles", f"{tri} != {int(self.oracle['triangles'])}")


class IngestResume(Workload):
    name = "ingest-resume"
    sizes = dict(pages=10_000, anchors=10, hosts=1000, pr_iters=5,
                 prefix_iters=2)

    def prepare(self, env) -> None:
        from planar_spark.oracle import numpy_oracle as o

        s = self.sizes
        cache = inputs.InputCache(env.cache_root, self.name, env.seed, s)
        self.meta, self.oracle = inputs.prepare_pages(
            env.spark, cache, env.seed, s["pages"], s["anchors"], s["hosts"],
            {
                "pagerank": lambda e, n: o.oracle_pagerank(
                    e, n, num_iterations=s["pr_iters"]),
                "wcc": o.oracle_components,
            },
        )
        self.pages_path = cache.path("pages")

    def build(self, env):
        return env.spark.read.parquet(self.pages_path)

    def drop(self, built) -> None:
        pass

    def ckpt_dir(self, env, rep: Rep) -> Path:
        return env.work / "checkpoints" / f"rep{rep.index}"

    def rep(self, env, rep: Rep, pages) -> None:
        from planar_spark.graph.superstep import SuperstepEngine
        from planar_spark.ingest.build import build_graph_tables
        from planar_spark.kernels.components import connected_components
        from planar_spark.kernels.pagerank import pagerank

        d = self.ckpt_dir(env, rep)
        shutil.rmtree(d, ignore_errors=True)
        cfg = env.config(checkpoint_dir=str(d), checkpoint_every=1)
        s = self.sizes
        g = rep.call("ingest", lambda: build_graph_tables(pages, env.parts))
        rep.graph = g
        if g is None:
            return

        def engine(run_id):
            return SuperstepEngine(env.spark, cfg, "pagerank", run_id=run_id)

        def pr(k):
            rep.call("pagerank", lambda: pagerank(
                g, cfg, num_iterations=s["pr_iters"], engine=engine(f"full{k}")))

        # the uninterrupted pagerank runs three times, between the other
        # calls, as on web-kernels
        rep.call("prefix", lambda: pagerank(
            g, cfg, num_iterations=s["prefix_iters"], engine=engine("resumed")))
        pr(0)
        rep.call("wcc", lambda: connected_components(
            g, cfg, algorithm="boruvka", run_id="wcc"))
        pr(1)
        rep.call("resume", lambda: pagerank(
            g, cfg, num_iterations=s["pr_iters"], engine=engine("resumed"),
            resume=True))
        pr(2)

    def check(self, env, rep: Rep) -> None:
        g = rep.output("ingest")
        if g is not None:
            got = g.edges.select("src", "dst").toPandas().to_numpy()
            if g.num_vertices != self.meta["vertices"]:
                rep.fail("ingest", f"{g.num_vertices} vertices")
            elif inputs.edge_hash(got) != self.meta["edge_hash"]:
                rep.fail("ingest", "edge-set hash differs from the oracle")
        full = check_pagerank(rep, "pagerank", self.oracle["pagerank"])
        check_labels(rep, "wcc", self.oracle["wcc"])
        resumed = check_pagerank(rep, "resume", self.oracle["pagerank"])
        if full is not None and resumed is not None and not np.allclose(
                resumed, full, rtol=RESUME_RTOL, atol=0.0):
            rep.fail("resume", "resumed state differs from the uninterrupted run")

    def after_rep(self, env, rep: Rep) -> dict:
        d = self.ckpt_dir(env, rep)
        files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]
        out = {"ckpt_bytes": sum(os.path.getsize(f) for f in files),
               "ckpt_files": len(files)}
        shutil.rmtree(d, ignore_errors=True)
        return out

    def once(self, env, pages) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        from planar_spark.ingest.extract import extract_text_udf

        bad = pages.where(extract_text_udf(F.col("html")) != F.col("text")).count()
        return 1, [f"extract_text: {bad} rows differ from text"] if bad else []


WORKLOADS = {w.name: w for w in (WebKernels, IngestResume)}
