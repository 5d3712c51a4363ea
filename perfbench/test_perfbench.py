"""Tests of the benchmark's own code, at tiny sizes.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import inputs  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from planar_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", str(Path(__file__).resolve().parents[1]))
    s = get_spark("perfbench_tests", cores=2, shuffle_partitions=2)
    yield s
    s.stop()


def _edges(df) -> bytes:
    e = df.toPandas()[["src", "dst"]].to_numpy()
    return inputs.sorted_edges(e).tobytes()


# ------------------------------------------------------------ generators

def test_web_graph_is_seeded(spark):
    def gen(seed):
        return _edges(inputs.web_graph(spark, seed, 1009, 3000, 400, 3))

    a = gen(1)
    assert a == gen(1)
    assert a != gen(2)
    e = np.frombuffer(a, dtype=np.int64).reshape(-1, 2)
    hub = inputs.hub_vertex(1, 1009)
    assert np.count_nonzero(e[:, 0] == hub) >= 399  # planted hub, minus a self-loop
    assert len(np.unique(e[e[:, 0] == hub][:, 1])) >= 399  # distinct targets
    assert np.all(e[:, 0] != e[:, 1])


def test_pages_are_seeded():
    from planar_spark.ingest.pages import make_pages_pdf

    def gen(seed):
        pdf = make_pages_pdf(inputs.page_links(seed, 60, 4), 60, n_sites=7)
        return pdf.to_json().encode()

    assert gen(3) == gen(3)
    assert gen(3) != gen(4)


# ---------------------------------------------------------------- oracle

def _rep_with(name, state_pdf, spark, converged=True):
    from planar_spark.graph.superstep import SuperstepResult

    rep = workloads.Rep(env=None, index=0)
    rep.outputs[name] = [SuperstepResult(
        spark.createDataFrame(state_pdf), 1, converged)]
    return rep


def test_pagerank_check_rejects_perturbed_output(spark):
    import pandas as pd

    expected = np.array([0.1, 0.2, 0.3, 0.4])
    pdf = pd.DataFrame({"vid": np.arange(4), "pr": expected})
    ok = _rep_with("pagerank", pdf, spark)
    workloads.check_pagerank(ok, "pagerank", expected)
    assert ok.failures == []

    bad_pdf = pdf.assign(pr=expected * np.array([1, 1, 1 + 1e-5, 1]))
    bad = _rep_with("pagerank", bad_pdf, spark)
    workloads.check_pagerank(bad, "pagerank", expected)
    assert len(bad.failures) == 1

    missing = _rep_with("pagerank", pdf.iloc[:3], spark)
    workloads.check_pagerank(missing, "pagerank", expected)
    assert "vertex set" in missing.failures[0]


def test_label_check_rejects_perturbed_or_unconverged_output(spark):
    import pandas as pd

    expected = np.array([0, 0, 2, 2])
    pdf = pd.DataFrame({"vid": np.arange(4), "label": expected})
    ok = _rep_with("wcc", pdf, spark)
    workloads.check_labels(ok, "wcc", expected)
    assert ok.failures == []

    bad = _rep_with("wcc", pdf.assign(label=[0, 0, 2, 3]), spark)
    workloads.check_labels(bad, "wcc", expected)
    assert len(bad.failures) == 1

    stuck = _rep_with("wcc", pdf, spark, converged=False)
    workloads.check_labels(stuck, "wcc", expected)
    assert stuck.failures == ["wcc: converged=False"]


def test_edge_hash_is_order_free_and_rejects_a_changed_edge():
    e = np.array([[3, 1], [0, 2], [3, 1], [1, 0]])
    assert inputs.edge_hash(e) == inputs.edge_hash(e[::-1])
    moved = e.copy()
    moved[1, 1] = 3
    assert inputs.edge_hash(moved) != inputs.edge_hash(e)
    assert inputs.edge_hash(e[:3]) != inputs.edge_hash(e)  # multiset, not set


def test_dictionary_ids_are_lexicographic():
    vid = inputs.dictionary_ids(["b", "c", "a"])
    assert vid.tolist() == [1, 2, 0]


# ----------------------------------------------------------- driver time

def test_union_of_overlapping_spans():
    spans = [(0, 10), (5, 15), (20, 30), (25, 26)]
    assert tracer.union_ms(spans, 0, 40) == 25
    assert tracer.union_ms(spans, 8, 22) == 9  # clipped to the window
    assert tracer.union_ms([], 0, 40) == 0
    assert tracer.union_ms([(50, 60)], 0, 40) == 0


def test_driver_time_is_wall_minus_stage_union():
    # a stage that started before the call and one nested in another
    spans = [(-5, 3), (10, 20), (12, 18), (19, 25)]
    assert tracer.driver_ms(0, 30, spans) == 30 - (3 + 15)
    assert tracer.driver_ms(0, 30, []) == 30
