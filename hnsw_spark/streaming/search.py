"""Streaming vector search — the SERVING side of the index: a continuous
stream of query vectors answered against a built index.

The reference is a per-call library (``searchKNN`` per query,
src/main.ts:253-283); at cluster scale the equivalent serving shape is a
query STREAM (a topic/directory of arriving query batches) joined against
the cached index: each micro-batch routes through the same probe-pruned
``IVFIndex.search`` plan the batch tier uses — identical results, identical
recall knobs — and appends (query_id, id, score, epoch_id) to the results
sink.  Exactly-once under retries: each epoch's answers are an epoch
commit (``streaming/epochs.py``).

The index node table should be ``.cache()``-ed by the caller: every
micro-batch reuses it, so the scan amortizes to memory reads; a refreshed
index swaps in by replacing the object (the rebuild cadence lives with
StreamingVectorIngest.rebuild_due).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.epochs import EpochSink, write_epoch


class StreamingSearch(EpochSink):
    def __init__(
        self,
        index,
        results_path: str,
        k: int = 10,
        n_probe: int | None = None,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
    ):
        self.index = index
        self.results_path = results_path
        self.k = k
        self.n_probe = n_probe
        self.query_id = query_id
        self.query_vec = query_vec
        self.answered = 0

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        res = self.index.search(
            batch,
            k=self.k,
            n_probe=self.n_probe,
            query_id=self.query_id,
            query_vec=self.query_vec,
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        write_epoch(res, self.results_path, "epoch_id")
        self.answered += batch.count()
