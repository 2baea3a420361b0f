"""Per-layer metrics derived from a traced run.

Each entry names the spans it reads, the ops it reads them in, the field and
how ops are combined, plus the end-to-end metric (or ``none``) and workload
it should move.  A layer the workload never calls reports 0.

Fields: ``dur_ms`` (span wall), ``self_ms`` (wall minus child spans), ``calls``
or any ``trace.COUNTERS`` name (inclusive of child spans; ``max_task_ms`` is
a maximum, the rest are sums).  Combining: ``op`` sums the field over the
matching spans of one op and takes the median over ops that contain such a
span; ``pass`` does the same per analytics pass.  Walls leave out the time
the tracer itself spent reading counters inside the span, so they read as
in an untraced run; the op-latency entries come from the op spans the same
way.
"""

from __future__ import annotations

from perfbench import harness
from perfbench.trace import self_ms

QUERY_MODULES = ("relational", "retrieval", "text", "dedup", "curation", "pipeline")

# (metric, unit, span names, op types | "query", field, combine, moves, workload)
SPANS = [
    ("sources.generate_ms", "ms", ("sources.generate",), ("setup",), "dur_ms", "op",
     "setup_s", "ann_serve"),
    ("sources.load_table_ms", "ms", ("sources.load_table",), "query", "dur_ms", "pass",
     "op_p50_ms", "analytics_mix"),
    ("ann.train_centroids_ms", "ms", ("ann.train_centroids",), ("setup",), "dur_ms", "op",
     "setup_s", "ann_serve"),
    ("ann.route_probes_ms", "ms", ("ann.route_probes",), ("search_large",), "dur_ms", "op",
     "op_p50_ms", "ann_serve"),
    ("ann.route_probes_jobs", "count", ("ann.route_probes",), ("search_large",), "jobs", "op",
     "op_p50_ms", "ann_serve"),
    ("ann.ivf_search.frame_ms", "ms", ("ann.ivf_search",), ("ivf_search",), "dur_ms", "op",
     "op_p50_ms", "ann_serve"),
    ("ann.ivf_search.action_ms", "ms", ("ann.ivf_search.action",), ("ivf_search",), "dur_ms",
     "op", "op_p50_ms", "ann_serve"),
    ("ann.ivf_search.executor_cpu_ms", "ms", ("ann.ivf_search", "ann.ivf_search.action"),
     ("ivf_search",), "executor_cpu_ms", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_small.frame_ms", "ms", ("hnsw_graph.search",), ("search_small",),
     "dur_ms", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_small.jobs", "count", ("hnsw_graph.search", "hnsw_graph.search.action"),
     ("search_small",), "jobs", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.frame_ms", "ms", ("hnsw_graph.search",), ("search_large",),
     "dur_ms", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.action_ms", "ms", ("hnsw_graph.search.action",),
     ("search_large",), "dur_ms", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.jobs", "count", ("hnsw_graph.search", "hnsw_graph.search.action"),
     ("search_large",), "jobs", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.tasks", "count", ("hnsw_graph.search", "hnsw_graph.search.action"),
     ("search_large",), "tasks", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.python_ms", "ms", ("hnsw_graph.search.action",),
     ("search_large",), "python_ms", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.search_large.shuffle_bytes", "bytes", ("hnsw_graph.search.action",),
     ("search_large",), "shuffle_bytes", "op", "op_p50_ms", "ann_serve"),
    ("hnsw_graph.build.ms", "ms", ("hnsw_graph.build", "hnsw_graph.build.action"), ("setup",),
     "dur_ms", "op", "setup_s", "ann_serve"),
    ("hnsw_graph.build.python_ms", "ms", ("hnsw_graph.build.action",), ("setup",),
     "python_ms", "op", "setup_s", "ann_serve"),
    ("hnsw_graph.build.max_task_ms", "ms", ("hnsw_graph.build.action",), ("setup",),
     "max_task_ms", "op", "setup_s", "ann_serve"),
    ("hnsw_graph.add_points.frame_ms", "ms", ("hnsw_graph.add_points",), ("setup",), "dur_ms",
     "op", "setup_s", "ann_serve"),
    ("hnsw_graph.add_points.jobs", "count", ("hnsw_graph.add_points",), ("setup",), "jobs", "op",
     "setup_s", "ann_serve"),
    ("knn.local_merge.action_ms", "ms", ("hnsw_graph.search.action",), ("search_small",),
     "dur_ms", "op", "op_p50_ms", "ann_serve"),
    ("knn.local_merge.executor_cpu_ms", "ms", ("hnsw_graph.search.action",), ("search_small",),
     "executor_cpu_ms", "op", "op_p50_ms", "ann_serve"),
    # the correctness gate's exact reference, run after the timed phase so its
    # worker memory stays out of python_peak_rss_mb: no end-to-end metric
    # includes it
    ("knn.exact_truth_ms", "ms", ("knn.exact", "knn.exact.action"), ("gate",), "dur_ms", "op",
     "none", "ann_serve"),
    ("persistence.save_index.ms", "ms", ("persistence.save_index",), ("setup",), "dur_ms", "op",
     "setup_s", "ann_serve"),
    ("persistence.save_index.jobs", "count", ("persistence.save_index",), ("setup",), "jobs",
     "op", "setup_s", "ann_serve"),
    ("persistence.save_index.bytes_written", "bytes", ("persistence.save_index",), ("setup",),
     "output_bytes", "op", "setup_s", "ann_serve"),
    ("persistence.load_index.ms", "ms", ("persistence.load_index",), ("setup",), "dur_ms", "op",
     "setup_s", "ann_serve"),
    ("streaming.graph_ingest.self_ms", "ms", ("streaming.graph_ingest",), ("setup",), "self_ms",
     "op", "setup_s", "ann_serve"),
    ("streaming.graph_ingest.jobs", "count", ("streaming.graph_ingest",), ("setup",), "jobs",
     "op", "setup_s", "ann_serve"),
    ("streaming.search.self_ms", "ms", ("streaming.search",), ("setup",), "self_ms", "op",
     "setup_s", "ann_serve"),
    ("streaming.search.jobs", "count", ("streaming.search",), ("setup",), "jobs", "op",
     "setup_s", "ann_serve"),
    ("cachereg.owned_persists", "count", ("cachereg.owned_persist",), "any", "calls", "op",
     "python_peak_rss_mb", "analytics_mix"),
]
for _mod in QUERY_MODULES:
    _spans = (f"queries.{_mod}", f"queries.{_mod}.action")
    SPANS += [
        (f"queries.{_mod}.frame_ms", "ms", _spans[:1], "query", "dur_ms", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.action_ms", "ms", _spans[1:], "query", "dur_ms", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.jobs", "count", _spans, "query", "jobs", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.planning_ms", "ms", _spans, "query", "planning_ms", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.executor_cpu_ms", "ms", _spans, "query", "executor_cpu_ms", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.shuffle_bytes", "bytes", _spans, "query", "shuffle_bytes", "pass",
         "op_p50_ms", "analytics_mix"),
        (f"queries.{_mod}.spill_bytes", "bytes", _spans, "query", "spill_bytes", "pass",
         "op_p50_ms", "analytics_mix"),
    ]

# Per-op-type median latency from the op spans: (metric, op type, workload).
ANN_OPS = ("search_small", "search_large", "ivf_search")
ANALYTICS_QUERIES = (
    "query_expansion_prf",
    "pagerank_gate",
    "bucketed_join_gate",
    "ngram_jaccard_pairs",
    "tfidf_doc_similarity",
    "cross_split_contamination_gate",
)
OPS = [(f"op.{t}.p50_ms", t, "ann_serve") for t in ANN_OPS] + [
    (f"analytics.{q}.ms", "q." + q, "analytics_mix") for q in ANALYTICS_QUERIES
]
STORAGE = ("cachereg.storage_mem_bytes", "bytes", "python_peak_rss_mb", "ann_serve")


def catalog() -> list[dict]:
    """Every per-layer metric with its unit, what it should move and where."""
    out = [
        {"name": n, "unit": u, "moves": mv, "workload": w}
        for n, u, _s, _o, _f, _c, mv, w in SPANS
    ]
    out += [{"name": n, "unit": "ms", "moves": "op_p50_ms", "workload": w} for n, _t, w in OPS]
    n, u, mv, w = STORAGE
    out.append({"name": n, "unit": u, "moves": mv, "workload": w})
    return out


def _op_matches(want, op_type: str) -> bool:
    if want == "any":
        return op_type != "gate" and not op_type.startswith("warmup")
    if want == "query":
        return op_type.startswith("q.")
    return op_type in want


def compute(tracer) -> dict:
    """{metric: value} for the whole catalog from one traced run."""
    incl = tracer.inclusive()
    kids = tracer.children()
    below = tracer.readout_below()

    def wall_ms(s):
        return (s.end - s.start - below[s.sid]) * 1000.0

    by_name: dict = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, _unit, span_names, ops, field, combine, _mv, _w in SPANS:
        per_key: dict = {}
        for sn in span_names:
            for s in by_name.get(sn, ()):
                op = tracer.ops.get(s.op_id)
                if op is None or not _op_matches(ops, op["type"]):
                    continue
                if field == "dur_ms":
                    v = wall_ms(s)
                elif field == "self_ms":
                    children = kids.get(s.sid, ())
                    v = self_ms(s, children) - 1000.0 * sum(c.readout for c in children)
                elif field == "calls":
                    v = 1.0
                else:
                    v = incl[s.sid][field]
                key = op["group"] if combine == "pass" else s.op_id
                prev = per_key.get(key, 0.0)
                per_key[key] = max(prev, v) if field == "max_task_ms" else prev + v
        out[name] = harness.median(per_key.values()) if per_key else 0.0
    for name, op_type, _w in OPS:
        lat = [wall_ms(s) for s in by_name.get("op." + op_type, ())]
        out[name] = harness.median(lat) if lat else 0.0
    out[STORAGE[0]] = float(tracer.storage_peak_bytes)
    return out
