"""Streaming corpus deduplication: the continuous form of
``operators/dedup.py::incremental_dedup``.

A document stream (e.g. a crawler's output) is deduplicated against
everything already ingested: each micro-batch keeps only its canonical
copies (lowest id per normalized-text fingerprint) that are unseen in the
accumulated fingerprint set, appends the survivors to the corpus, and adds
their fingerprints to the seen set — so the corpus stays exact-duplicate-
free forever without ever re-scanning it (only the 16-bytes-a-row
fingerprint table participates in the check).

Exactly-once under retries: both sinks are epoch commits
(``streaming/epochs.py``), so a replay overwrites its own previous partial
output.  The subtle hazard is the seen set itself: a replayed epoch
would find its OWN fingerprints from the failed attempt and drop every
survivor as "already seen" — so the seen read always excludes the current
epoch's partition (partition pruning makes the exclusion free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.epochs import EpochSink, _read_or_empty, write_epoch


class StreamingCorpusDedup(EpochSink):
    def __init__(
        self,
        corpus_path: str,
        seen_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.corpus_path = corpus_path
        self.seen_path = seen_path
        self.text_col = text_col
        self.id_col = id_col
        self.kept = 0

    def _seen(self, spark, exclude_epoch: int) -> DataFrame:
        return (
            _read_or_empty(
                spark, self.seen_path, "fingerprint string, epoch_id int"
            )
            .filter(F.col("epoch_id") != exclude_epoch)
            .select("fingerprint")
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.dedup import incremental_dedup

        if batch.isEmpty():
            return
        spark = batch.sparkSession
        seen = self._seen(spark, int(epoch_id))
        survivors = incremental_dedup(
            batch, seen, text_col=self.text_col, id_col=self.id_col
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        # one deterministic computation feeds both sinks; localCheckpoint
        # keeps the two writes consistent (a lazy recompute racing the seen
        # append could otherwise change the survivor set mid-write)
        survivors = survivors.localCheckpoint(eager=True)
        for path, frame in (
            (self.corpus_path, survivors),
            (self.seen_path, survivors.select("fingerprint", "epoch_id")),
        ):
            write_epoch(frame, path, "epoch_id")
        self.kept += survivors.count()
