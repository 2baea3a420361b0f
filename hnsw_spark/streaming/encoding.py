"""Continuously-maintained target-encoding stats — the streaming twin of
``operators/encoding.py:target_encode_loo`` (VERDICT r9 #6, the last r8
library operator without an online path).

State design: the persisted state is the per-category label-evidence table
(category, Σy fixed-point decimal, n) — ONE ROW PER CATEGORY, the smallest
state any exact encoder can carry (category cardinality is
vocabulary-sized, never corpus-sized; the global mean derives from the
same table, so nothing else is stored).  Category stats are MERGEABLE —
decimal sums and counts add — so each epoch reads the prior stats
version, merges the batch's per-category (sum, n) into it by addition, and
commits the result as version ``epoch`` — the versioned-state epoch
protocol of ``streaming/epochs.py`` (deterministic replays, ~2 versions
live).

Per-epoch cost is one aggregate-sized shuffle over the batch plus a
stats-sized union — the fact rows are never shuffled and never retained.
Serving (``encode``) joins the live stats onto any fact frame with the
IDENTICAL ``encode_with_stats`` expression the batch operator uses, so
once the streamed stats equal the batch stats (exact decimal arithmetic —
no float drift to accumulate), the encodings are equal BY CONSTRUCTION;
the registered gate (``target_encode_stream_gate``) pins it against the
same DuckDB oracle as the batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_spark.streaming.epochs import (
    VERSION_COL,
    EpochSink,
    prune_versions,
    read_version_before,
    write_epoch,
)


class StreamingTargetEncoder(EpochSink):
    def __init__(
        self,
        stats_path: str,
        category_col: str,
        target_col: str,
        alpha: int = 20,
        scale: int = 4,
        out_col: str = "te_fp",
        category_type: str = "string",
    ):
        self.stats_path = stats_path
        self.category_col = category_col
        self.target_col = target_col
        self.alpha = int(alpha)
        self.scale = int(scale)
        self.out_col = out_col
        self.category_type = category_type

    def _stats_schema(self):
        from pyspark.sql.types import (
            DecimalType,
            LongType,
            StructField,
            StructType,
            _parse_datatype_string,
        )

        return StructType(
            [
                # category dtype is caller-declared: it only shapes the
                # empty frame before the first epoch lands
                StructField(
                    self.category_col,
                    _parse_datatype_string(self.category_type),
                ),
                StructField("_cat_sum", DecimalType(38, 0)),
                StructField("_cat_n", LongType()),
            ]
        )

    def stats(self, spark) -> DataFrame:
        """The live (latest-version) stats table."""
        return read_version_before(
            spark, self.stats_path, 1 << 31, self._stats_schema()
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from hnsw_spark.operators.encoding import category_stats

        if batch.isEmpty():
            return
        epoch_id = int(epoch_id)
        prior = read_version_before(
            batch.sparkSession, self.stats_path, epoch_id, self._stats_schema()
        )
        fresh = category_stats(
            batch, self.category_col, self.target_col, self.scale
        )
        merged = (
            prior.unionByName(fresh)
            .groupBy(self.category_col)
            .agg(
                F.sum("_cat_sum").alias("_cat_sum"),
                F.sum("_cat_n").alias("_cat_n"),
            )
            .withColumn(VERSION_COL, F.lit(epoch_id))
        )
        write_epoch(merged, self.stats_path, VERSION_COL)
        prune_versions(self.stats_path, epoch_id)

    def encode(self, rows: DataFrame, row_in_stats: bool = True) -> DataFrame:
        """Adds ``out_col`` to ``rows`` from the LIVE streamed stats —
        the identical expression the batch operator applies.  With the
        default ``row_in_stats=True`` the caller asserts every row's
        (category, label) has already been streamed into the stats (the
        parity-gate scenario): the output is exactly ``target_encode_loo``
        over everything streamed so far.  For serving rows that are NOT
        part of the evidence yet pass ``row_in_stats=False`` — the plain
        smoothed category mean, with unseen categories at the global mean
        (ADVICE r10)."""
        from hnsw_spark.operators.encoding import encode_with_stats

        return encode_with_stats(
            rows,
            self.stats(rows.sparkSession),
            self.category_col,
            self.target_col,
            self.alpha,
            self.scale,
            self.out_col,
            row_in_stats=row_in_stats,
        )
