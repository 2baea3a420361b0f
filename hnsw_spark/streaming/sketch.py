"""Streaming count-min sketch: the continuous form of
``operators/sketches.py::count_min_counters``.

Because a CM sketch merges by cell-wise addition, the streaming form needs
no state store at all: each micro-batch writes its OWN partial counter
table into an ``epoch_id`` partition, and the live sketch is one
``groupBy(row, col).sum`` over the partition tree — the same
merge-of-partials shape ``incremental_rollup`` uses for aggregates.  A
100 TB/day stream therefore costs depth·width skinny rows per epoch, and
reading the sketch never touches the raw stream again.

Exactly-once under retries: each delta is an epoch commit
(``streaming/epochs.py``), so a replayed epoch overwrites its own previous
partial delta and no cell is ever double-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.epochs import EpochSink, _read_or_empty, write_epoch


class StreamingCountMin(EpochSink):
    def __init__(
        self,
        counters_path: str,
        col: str = "token",
        width: int = 1024,
        depth: int = 4,
    ):
        self.counters_path = counters_path
        self.col = col
        self.width = width
        self.depth = depth

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import count_min_counters

        if batch.isEmpty():
            return
        delta = count_min_counters(
            batch, self.col, self.width, self.depth
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        write_epoch(delta, self.counters_path, "epoch_id")

    def counters(self, spark) -> DataFrame:
        """The merged live sketch — identical cell-for-cell to the batch
        sketch over everything ingested so far."""
        return (
            _read_or_empty(
                spark, self.counters_path, "row int, col int, cnt bigint"
            )
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )


class StreamingHLL(EpochSink):
    """Streaming HyperLogLog: per-epoch register deltas merged by MAX —
    the other mergeable-sketch reduction (CM adds, HLL maxes), committed
    per epoch like ``StreamingCountMin``; the live estimate replays
    ``operators/sketches.py::hll_estimate``'s estimator over the merged
    registers, so stream and batch agree register-for-register on the
    same ingested rows."""

    def __init__(self, registers_path: str, col: str = "v", b: int = 8):
        self.registers_path = registers_path
        self.col = col
        self.b = b

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import hll_registers

        if batch.isEmpty():
            return
        delta = hll_registers(batch, self.col, self.b).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        write_epoch(delta, self.registers_path, "epoch_id")

    def registers(self, spark) -> DataFrame:
        return (
            _read_or_empty(spark, self.registers_path, "bucket int, rho int")
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )


class StreamingKMV(EpochSink):
    """Streaming KMV distinct/overlap sketch: per-epoch bottom-k deltas
    merged by distinct-union-then-bottom-k — the third mergeable-sketch
    reduction in this module (CM adds, HLL maxes, KMV re-minimizes).
    A replayed epoch overwrites its OWN partial delta (the epoch commit),
    so a hash can appear in at most one copy per epoch and the distinct()
    merge makes cross-epoch repeats harmless anyway.

    The live sketch equals ``operators/sketches.py::kmv_sketch`` over
    everything ingested so far (parity-pinned), so a continuously-fed
    corpus can be overlap-compared against any other corpus's sketch at
    any time — the streaming form of ``kmv_corpus_overlap``'s inputs.
    Merge cost is ≤ epochs·k rows; the raw stream is never re-read."""

    def __init__(self, sketch_path: str, col: str = "item", k: int = 256):
        self.sketch_path = sketch_path
        self.col = col
        self.k = k

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.sketches import kmv_sketch

        # No isEmpty() pre-probe (unlike the versioned-state writers, where
        # "empty batch writes no version" is load-bearing): KMV state is an
        # unversioned epoch-partition tree merged by distinct-union, so an
        # empty batch's delta is zero rows and the dynamic-overwrite write
        # of zero rows touches no partition — the same end state the guard
        # produced, minus one full map-stage evaluation per micro-batch
        # (take(1) behind the shingle pipeline's fan-out exchange ran the
        # whole scan stage).
        delta = kmv_sketch(batch, self.col, self.k).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        )
        write_epoch(delta, self.sketch_path, "epoch_id")

    def sketch(self, spark) -> DataFrame:
        """The merged live sketch — the bottom-k distinct hashes of every
        row ingested so far, identical to the batch ``kmv_sketch``."""
        return (
            _read_or_empty(spark, self.sketch_path, "h long")
            .select("h")
            .distinct()
            .orderBy("h")
            .limit(self.k)
        )
