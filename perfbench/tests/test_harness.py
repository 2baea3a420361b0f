"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.trace import Span, Tracer, covered_ms, parse_sql_metric, self_ms  # noqa: E402


# ---- statistics ------------------------------------------------------------
@pytest.mark.parametrize(
    "n, pct",
    [(20, 50.0), (50, 80.0), (100, 90.0), (200, 95.0), (1000, 99.0), (20000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = list(range(1, n + 1))
    t = harness.tail(values)
    assert t["percentile"] == pct
    assert t["n"] == n
    assert t["beyond"] == sum(1 for v in values if v > t["value"]) >= 10
    higher = [p for p in harness.TAIL_LADDER if p > pct]
    for p in higher:  # every higher rung has fewer than ten samples beyond it
        x = harness.nearest_rank(values, p)
        assert sum(1 for v in values if v > x) < 10


def test_tail_needs_ten_samples_beyond():
    assert harness.tail(list(range(19))) is None
    assert harness.tail([]) is None
    # ties at the top: a percentile whose value is the maximum has nothing beyond
    assert harness.tail([5.0] * 100) is None


def test_median_and_geomean():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 3, 2]) == 2.5
    assert harness.geomean([1, 100]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        harness.geomean([0.0, 1.0])


def test_oplog_isolates_failures():
    log = harness.OpLog()

    def boom():
        raise RuntimeError("boom")

    assert log.run("a", lambda: 7) == 7
    assert log.run("a", boom) is None
    assert log.check("gate", False, "bad") is False
    assert log.check("gate", True) is True
    assert (log.attempted, log.failed) == (4, 2)
    assert len(log.latencies["a"]) == 1
    assert "boom" in log.errors[0]["error"]


# ---- span self time ----------------------------------------------------------
def _span(start, end, sid=1):
    s = Span(sid, "x", None, None)
    s.start, s.end = start, end
    return s


def test_self_time_with_overlapping_children():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 4.0, 2), _span(3.0, 6.0, 3), _span(8.0, 12.0, 4)]
    # children cover [1, 6] and [8, 10] of the parent: 7 s
    assert covered_ms(0.0, 10.0, [(k.start, k.end) for k in kids]) == pytest.approx(7000.0)
    assert self_ms(parent, kids) == pytest.approx(3000.0)


def test_self_time_nested_and_disjoint_children():
    parent = _span(0.0, 10.0)
    kids = [_span(2.0, 3.0, 2), _span(2.2, 2.8, 3), _span(11.0, 12.0, 4)]
    assert self_ms(parent, kids) == pytest.approx(9000.0)
    assert self_ms(parent, []) == pytest.approx(10000.0)


def test_parse_sql_metric():
    assert parse_sql_metric("188 ms") == 188.0
    assert parse_sql_metric("1.5 s") == 1500.0
    assert parse_sql_metric("10,000") == 10000.0
    text = "total (min, med, max (stageId: taskId))\n51.7 KiB (25.0 KiB, 26.7 KiB)"
    assert parse_sql_metric(text) == pytest.approx(51.7 * 1024)
    assert parse_sql_metric("") == 0.0


# ---- Spark-backed checks ------------------------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = harness.start_spark(work, traced=True)
    yield s
    harness.stop_spark(s)


def test_jobs_attribute_to_innermost_span_with_unique_groups(spark):
    tracer = Tracer(spark)
    sc = spark.sparkContext

    def one_job():  # an RDD action runs exactly one job
        return sc.parallelize(range(10), 2).count()

    with tracer.op("probe"):
        one_job()  # the op's own job
        for _ in range(2):  # same name twice: separate groups, no carry-over
            with tracer.span("a"):
                one_job()
        with tracer.span("b"):
            one_job()
            with tracer.span("c"):
                one_job()
                one_job()
    by = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(s)
    assert [s.own["jobs"] for s in by["a"]] == [1, 1]
    assert len({s.group for s in tracer.spans}) == len(tracer.spans)
    assert by["b"][0].own["jobs"] == 1
    assert by["c"][0].own["jobs"] == 2
    assert by["op.probe"][0].own["jobs"] == 1
    incl = tracer.inclusive()
    assert incl[by["op.probe"][0].sid]["jobs"] == 6
    assert incl[by["b"][0].sid]["jobs"] == 3
    assert incl[by["b"][0].sid]["tasks"] == 6
    # outside any span no job group is left set
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_readout_time_is_taken_out_of_walls(spark):
    from perfbench import layers

    tracer = Tracer(spark)
    op = _span(0.0, 10.0, 1)
    frame = _span(1.0, 4.0, 2)
    probe = _span(1.5, 2.0, 3)
    action = _span(5.0, 9.0, 4)
    op.name, frame.name, probe.name, action.name = (
        "op.ivf_search", "ann.ivf_search", "ann.route_probes", "ann.ivf_search.action"
    )
    frame.parent = action.parent = 1
    probe.parent = 2
    probe.readout, frame.readout, action.readout = 0.25, 0.5, 1.0
    for s in (op, frame, probe, action):
        s.op_id = 1
    tracer.spans = [probe, frame, action, op]
    tracer.ops = {1: {"type": "ivf_search", "group": None}}
    assert tracer.readout_below() == {1: 1.75, 2: 0.25, 3: 0.0, 4: 0.0}
    got = layers.compute(tracer)
    assert got["ann.ivf_search.frame_ms"] == pytest.approx(2750.0)
    assert got["ann.ivf_search.action_ms"] == pytest.approx(4000.0)
    assert got["op.ivf_search.p50_ms"] == pytest.approx(8250.0)
    assert got["op.search_small.p50_ms"] == 0.0


def test_route_detection_on_both_sides_of_threshold(spark, monkeypatch):
    from hnsw_spark.operators import hnsw_graph
    from hnsw_spark.sources.synthetic import synthetic_vectors

    from perfbench.serve import route_of

    n = 300
    vecs = synthetic_vectors(spark, n + 16, 8, seed=3, distribution="clustered").cache()
    base = vecs.filter(f"vec_id < {n}")
    index = hnsw_graph.build_hnsw_index(base, n_lists=2, m=4, ef_construction=16)
    index.index_df = index.index_df.cache()
    index.params["n_vectors"] = index.index_df.count()
    # threshold of 4 queries' worth of cells: 2 queries stay exact, 8 go to the beam
    monkeypatch.setattr(hnsw_graph, "_EXACT_DISPATCH_CELLS", 4 * n)
    small = vecs.filter(f"vec_id >= {n} and vec_id < {n + 2}")
    large = vecs.filter(f"vec_id >= {n} and vec_id < {n + 8}")
    tracer = Tracer(spark)
    tracer.install()
    try:
        exact = index.search(small, k=3)
        with tracer.op("search_large"):
            beam = index.search(large, k=3)
    finally:
        tracer.uninstall()
    assert route_of(exact) == "exact"
    assert route_of(beam) == "beam"
    assert exact.count() == 2 * 3 and beam.count() == 8 * 3
    # the beam looked up route_probes through hnsw_graph's own binding, and
    # the patch caught it there as a child of the search span
    names = {s.sid: s.name for s in tracer.spans}
    probes = [s for s in tracer.spans if s.name == "ann.route_probes"]
    assert probes and names[probes[0].parent] == "hnsw_graph.search"
    assert hnsw_graph.route_probes.__name__ == "route_probes"
    assert not hasattr(hnsw_graph.route_probes, "__wrapped__")
    vecs.unpersist()
    index.index_df.unpersist()
