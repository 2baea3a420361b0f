"""Fixture-table loaders (Parquet-first ingest).

The driver materializes TPC-H-ish tables plus ``documents`` and ``embeddings``
at ``/root/testdata/sf*/`` (one parquet per table).  Parquet scans give us
predicate pushdown, column pruning, and vectorized reads for free — the
Spark-native replacement for the reference's fvecs scanners
(src/bench/dataset.ts:65-101), which are still available in
``hnsw_spark.sources.fvecs`` for format parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet has shipped with two physical types for ``ts``:
        # TIMESTAMP(NANOS) (vectorized reader rejects it without the legacy
        # nanos-as-long conf) and TIMESTAMP(MICROS) (reads natively as
        # TIMESTAMP_NTZ, byte-equal to DuckDB).  Branch on the dtype Spark
        # actually reads so either fixture generation works.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(df.schema["ts"].dataType, LongType):
            # nanos-as-long → epoch-µs → TIMESTAMP_NTZ by pure arithmetic:
            # no session-timezone dependency, same wall-clock values DuckDB
            # reads after its TIMESTAMP_NS → µs truncation.
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, CAST(ts/1000 AS BIGINT),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
