"""ann_serve: the read path over a live, cached index.

Set-up publishes an index the way an owner would: generate a clustered
corpus, bulk-build the HNSW graph, save it, stream one more batch in through
``StreamingGraphIngest`` (load, add_points, republish), load the published
index and cache it, answer a first streaming query epoch, and build an IVF
index over the same corpus.  The timed phase is one closed-loop client that
cycles through three op types, each waiting for the previous op:

- ``search_small``: ``HNSWIndex.search`` with 8 queries; Q·N is far below the
  auto-dispatch threshold, so the exact ``local_merge`` route serves it;
- ``search_large``: ``HNSWIndex.search`` with 3,584 queries, above the
  threshold, so the graph beam serves it;
- ``ivf_search``: ``IVFIndex.search`` with 1,024 queries.

Every result is materialized with the ``noop`` sink.  Queries are held-out
vectors of the same seeded corpus, so they share its cluster centres.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from hnsw_spark.operators import ann, hnsw_graph, knn
from hnsw_spark.plans import cachereg, persistence
from hnsw_spark.sources import synthetic
from hnsw_spark.streaming.ingest import StreamingGraphIngest
from hnsw_spark.streaming.search import StreamingSearch

from perfbench import harness

N = 20_000  # corpus size after the ingest epoch
N_DELTA = 1_000  # vectors that arrive through the streaming ingest epoch
Q_POOL = 4_096  # held-out query vectors
DIM = 64
K = 10
HNSW = {"n_lists": 16, "m": 16, "ef_construction": 48}
IVF_LISTS = 64
OPS = {
    "search_small": {"q": 8, "index": "hnsw", "args": {}},
    "search_large": {"q": 3_584, "index": "hnsw", "args": {"n_probe": 2, "ef_search": 32}},
    "ivf_search": {"q": 1_024, "index": "ivf", "args": {"n_probe": 8}},
}
# auto-dispatch route each HNSW op type must take (IVF has no dispatch)
EXPECTED_ROUTE = {"search_small": "exact", "search_large": "beam"}
CYCLE = ("search_small", "search_large", "ivf_search")
STREAM_Q = 256
BATCHES_PER_OP = 4


def route_of(df) -> str:
    """Which path answered: the beam is a cogrouped pandas apply over the
    node table, the exact route a mapInPandas over it."""
    plan = df._jdf.queryExecution().analyzed().toString()
    if "FlatMapCoGroupsInPandas" in plan:
        return "beam"
    if "MapInPandas" in plan:
        return "exact"
    return "other"


class AnnServe:
    name = "ann_serve"

    def __init__(self, spark, tracer, oplog, work_dir, seed):
        self.spark, self.tracer, self.oplog = spark, tracer, oplog
        self.work_dir, self.seed = work_dir, seed
        self.routes: dict[str, list[str]] = {op: [] for op in EXPECTED_ROUTE}
        self.answered = 0
        self.record: dict = {}

    # ---- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """One set-up per run: it takes most of a run's time budget."""
        t0 = time.perf_counter()
        with self.tracer.op("setup"):
            self._publish_and_load()
        rng = np.random.default_rng(self.seed)
        self.batches = {}
        for op, spec in OPS.items():
            starts = rng.integers(0, Q_POOL - spec["q"] + 1, BATCHES_PER_OP)
            self.batches[op] = [
                self.queries.filter(
                    (F.col("vec_id") >= N + int(s)) & (F.col("vec_id") < N + int(s) + spec["q"])
                )
                for s in starts
            ]
        return time.perf_counter() - t0

    def _publish_and_load(self) -> None:
        t, spark, seed = self.tracer, self.spark, self.seed
        path = harness.fresh_dir(os.path.join(self.work_dir, "index"))
        results = os.path.join(self.work_dir, "results")
        with t.span("sources.generate"):
            vecs = synthetic.synthetic_vectors(
                spark, N + Q_POOL, DIM, seed=seed, distribution="clustered"
            ).cache()
            vecs.count()
        corpus = vecs.filter(F.col("vec_id") < N)
        bulk = vecs.filter(F.col("vec_id") < N - N_DELTA)
        delta = vecs.filter((F.col("vec_id") >= N - N_DELTA) & (F.col("vec_id") < N))
        queries = vecs.filter(F.col("vec_id") >= N).cache()
        queries.count()
        built = hnsw_graph.build_hnsw_index(bulk, seed=seed, **HNSW)
        with t.action("hnsw_graph.build"):
            built.index_df = built.index_df.cache()
            built.index_df.count()
        persistence.save_index(built, path)
        built.index_df.unpersist()
        StreamingGraphIngest(path).process_batch(delta, 0)
        hnsw = persistence.load_index(spark, path)
        with t.action("persistence.load_index"):
            hnsw.index_df = hnsw.index_df.cache()
            hnsw.index_df.count()
        StreamingSearch(hnsw, results, k=K).process_batch(
            queries.filter(F.col("vec_id") < N + STREAM_Q), 0
        )
        ivf = ann.build_ivf_index(corpus, n_lists=IVF_LISTS, seed=seed)
        with t.action("ann.build_ivf_index"):
            ivf.index_df = ivf.index_df.cache()
            ivf.index_df.count()
        cachereg.release_caches()
        self.vecs, self.corpus, self.queries = vecs, corpus, queries
        self.indexes = {"hnsw": hnsw, "ivf": ivf}

    # ---- ops ----------------------------------------------------------------
    def _search(self, op: str, batch):
        spec = OPS[op]
        idx = self.indexes[spec["index"]]
        return idx.search(batch, k=K, **spec["args"])

    def _op(self, op: str, i: int, timed: bool = True) -> None:
        batch = self.batches[op][i % BATCHES_PER_OP]
        call = "ann.ivf_search" if op == "ivf_search" else "hnsw_graph.search"
        out = {}

        def run():
            df = self._search(op, batch)
            with self.tracer.action(call):
                df.write.format("noop").mode("overwrite").save()
            out["df"] = df

        with self.tracer.op(op if timed else "warmup_" + op):
            self.oplog.run(op, run, timed=timed)
        if "df" in out and timed:
            self.answered += OPS[op]["q"]
            if op in self.routes:
                self.routes[op].append(route_of(out["df"]))

    def warmup(self) -> float:
        """One untimed op of each type, collected to the driver: these are the
        results the correctness gate checks."""
        t0 = time.perf_counter()
        self.checked = {}
        for op in CYCLE:
            batch = self.batches[op][0]
            with self.tracer.op("warmup_" + op):
                res = self.oplog.run(
                    op, lambda: self._search(op, batch).toPandas(), timed=False
                )
            if res is not None:
                qids = batch.select("vec_id").toPandas()["vec_id"].tolist()
                self.checked[op] = (res, qids)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline:
            self._op(CYCLE[i % len(CYCLE)], i // len(CYCLE))
            i += 1

    # ---- correctness gate ---------------------------------------------------
    def gate(self) -> float:
        """Untimed, once per run: exact top-10 truth for the query pool, the
        warm-up results checked against it, and the routes the timed ops
        took."""
        log, t = self.oplog, self.tracer
        with t.op("gate"):
            truth_df = knn.knn_exact(
                self.corpus, self.queries, k=K, strategy="local_merge"
            )
            with t.action("knn.exact"):
                truth = log.run("gate.truth", truth_df.toPandas, timed=False)
            vec_pd = log.run("gate.vectors", self.vecs.toPandas, timed=False)
        for op, want in EXPECTED_ROUTE.items():
            got = set(self.routes[op])
            log.check("route." + op, got == {want},
                      f"{op} expected route {want}, took {sorted(got)}")
        if truth is None or vec_pd is None:
            return 0.0
        truth_ids = {
            q: g.sort_values(["score", "id"], ascending=[False, True])["id"].tolist()
            for q, g in truth.groupby("query_id")
        }
        vectors = np.stack(vec_pd.sort_values("vec_id")["embedding"].to_numpy())
        recalls = {}
        for op in OPS:
            if log.check("gate." + op, op in self.checked, f"{op}: no result to check"):
                res, qids = self.checked[op]
                recalls[op] = self._check(op, res, qids, truth_ids, vectors)
        self.record["recall_at_10"] = recalls
        ann_ops = [recalls[op] for op in ("search_large", "ivf_search") if op in recalls]
        return float(np.mean(ann_ops)) if ann_ops else 0.0

    def _check(self, op, res, qids, truth_ids, vectors) -> float:
        log = self.oplog
        groups = dict(tuple(res.groupby("query_id")))
        log.check(f"gate.{op}.answered", set(groups) == set(qids),
                  f"{op}: {len(set(qids) - set(groups))} queries unanswered")
        sizes_ok = all(len(g) <= K for g in groups.values())
        unique_ok = all(g["id"].is_unique for g in groups.values())
        log.check(f"gate.{op}.shape", sizes_ok and unique_ok,
                  f"{op}: >{K} rows or duplicate ids for a query")
        # returned scores must be the cosine similarities of the returned pairs
        q = vectors[res["query_id"].to_numpy()].astype(np.float64)
        b = vectors[res["id"].to_numpy()].astype(np.float64)
        cos = (q * b).sum(1) / (np.linalg.norm(q, axis=1) * np.linalg.norm(b, axis=1))
        err = float(np.max(np.abs(cos - res["score"].to_numpy()))) if len(res) else 0.0
        log.check(f"gate.{op}.scores", err < 1e-6, f"{op}: score error {err:.3g}")
        hits = 0
        for qid in qids:
            found = groups.get(qid)
            got = [] if found is None else found["id"].tolist()
            hits += len(set(got) & set(truth_ids[qid][:K]))
        recall = hits / (K * len(qids))
        if op == "search_small":
            exact = all(
                qid in groups
                and groups[qid].sort_values(["score", "id"], ascending=[False, True])[
                    "id"
                ].tolist() == truth_ids[qid][:K]
                for qid in qids
            )
            log.check("gate.search_small.exact", exact,
                      "search_small differs from exact top-10")
        return recall

    # ---- metrics --------------------------------------------------------------
    def describe(self) -> dict:
        threshold = hnsw_graph._EXACT_DISPATCH_CELLS
        return {
            "sizes": {"n": N, "n_delta": N_DELTA, "q_pool": Q_POOL, "dim": DIM, "k": K,
                      "hnsw": HNSW, "ivf_lists": IVF_LISTS},
            "dispatch": {
                op: {
                    "q": OPS[op]["q"], "n": N, "cells": OPS[op]["q"] * N,
                    "exact_dispatch_cells": threshold,
                    "expected": want,
                    "taken": {r: self.routes[op].count(r) for r in set(self.routes[op])},
                    "args": OPS[op]["args"],
                }
                for op, want in EXPECTED_ROUTE.items()
            },
        }

    def work_per_s(self) -> float:
        busy = sum(sum(v) for v in self.oplog.latencies.values())
        return self.answered / busy if busy else 0.0
