"""analytics_mix: registered non-vector queries over the committed fixture.

The tables are a byte copy of the library's scale-factor-0.01 correctness
fixture (seed 42, the schemas in FIXTURES.md), kept under ``perfbench/data``
so that a run reads only its own checkout.  Each pass runs the
queries in ``layers.ANALYTICS_QUERIES`` through ``queries()`` in a
seed-permuted order, one at a time, with ``release_caches()`` and
``clearCache()`` between queries; each result is collected to the driver,
which is what the correctness gate then compares with the query's
``oracle_sql()`` in DuckDB.  There is one query per query module, and the
mix covers the cost shapes that dominate this part of the registry:
per-job fixed cost (``query_expansion_prf``, ``pagerank_gate``), driver-side
frame building (``bucketed_join_gate``) and executor CPU plus shuffle
(``cross_split_contamination_gate``, ``ngram_jaccard_pairs``).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from hnsw_spark.plans import cachereg
from tools.check_oracle import TABLES, compare

from perfbench.layers import ANALYTICS_QUERIES

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class AnalyticsMix:
    name = "analytics_mix"

    def __init__(self, spark, tracer, oplog, work_dir, seed):
        self.spark, self.tracer, self.oplog = spark, tracer, oplog
        self.work_dir, self.seed = work_dir, seed
        import __spark_entry__ as entry  # the registry contract, at the repo root

        registered = entry.queries()
        self.fns = {q: registered[q] for q in ANALYTICS_QUERIES}
        self.oracles = {q: entry.oracle_sql()[q] for q in ANALYTICS_QUERIES}
        self.results: dict = {}
        self.passes = 0
        self.record: dict = {}

    def setup(self) -> float:
        """Check that every fixture table is there; the warm-up pass that
        follows is nearly all of set-up."""
        t0 = time.perf_counter()
        self.sf_dir = SF_DIR
        self.record["rows"] = {
            t: pq.ParquetFile(os.path.join(SF_DIR, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
        return time.perf_counter() - t0

    def _query(self, name: str, group, timed: bool = True) -> None:
        fn = self.fns[name]
        layer = "queries." + fn.__module__.rsplit(".", 1)[-1]
        cachereg.release_caches()
        self.spark.catalog.clearCache()

        def run():
            with self.tracer.span(layer):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.action(layer, df if self.tracer.enabled else None):
                return df.toPandas()

        op = "q." + name
        with self.tracer.op(op if timed else "warmup_" + op, group=group):
            pdf = self.oplog.run(op, run, timed=timed)
        if pdf is not None:
            self.results[name] = pdf

    def warmup(self) -> float:
        t0 = time.perf_counter()
        for name in ANALYTICS_QUERIES:
            self._query(name, None, timed=False)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        """Whole passes while the next one is expected to end in the window;
        always at least one."""
        rng = np.random.default_rng(self.seed)
        start = time.perf_counter()
        last = 0.0
        while self.passes == 0 or time.perf_counter() - start + last <= seconds:
            t0 = time.perf_counter()
            for name in rng.permutation(ANALYTICS_QUERIES):
                self._query(str(name), self.passes)
            last = time.perf_counter() - t0
            self.passes += 1
        self.record["passes"] = self.passes

    def gate(self) -> float:
        """Compare each query's last result with its DuckDB oracle using the
        repository's comparator; returns the share that matched."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            ok_count = 0
            verdicts = {}
            for name in ANALYTICS_QUERIES:
                got = self.results.get(name)
                if got is None:
                    ok, msg = False, "no result"
                else:
                    ok, msg = compare(got, con.execute(self.oracles[name]).fetchdf())
                    ok = ok and msg == "exact"
                verdicts[name] = msg
                ok_count += self.oplog.check("oracle." + name, ok, f"{name}: {msg}")
        finally:
            con.close()
        self.record["oracle"] = verdicts
        return ok_count / len(ANALYTICS_QUERIES)

    def describe(self) -> dict:
        return {"sizes": {"fixture": "sf0.01", "queries": list(ANALYTICS_QUERIES)}}

    def work_per_s(self) -> float:
        busy = sum(sum(v) for v in self.oplog.latencies.values())
        done = sum(len(v) for v in self.oplog.latencies.values())
        return done / busy if busy else 0.0
