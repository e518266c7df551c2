"""Sources: parquet table loaders + the whole-file text source.

The reference's only source is a whole-file UTF-8 text scan — record =
(path, contents) (sequential/src/main.rs:22-28; worker.rs:112-117).
Here that is ``whole_text_files``; the analytics tier reads typed parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows; supplier/part grow slowly with SF).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-UTC TIMESTAMP regardless of how
    the parquet stored it. Generated testdata has shipped it two ways:
    TIMESTAMP(NANOS) — read as long under nanosAsLong, truncated to µs —
    and plain ``timestamp[us]`` with no timezone, which Spark reads as
    TIMESTAMP_NTZ. Both become the same UTC instants (session tz is UTC),
    matching DuckDB's naive-UTC timestamps bit-for-bit."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table. Columnar scan → Catalyst gets predicate
    pushdown + column pruning for free."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with an EXPLICIT schema — inferSchema is a full extra
    pass over the data (2× read at 100 TB); never in production paths."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with explicit schema (same no-inference rule)."""
    return spark.read.schema(schema).json(path)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Hive-style partitioned parquet sink: later reads with a filter on
    the partition column prune directories (PartitionFilters in the scan),
    the cheapest pushdown there is."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def whole_text_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Whole-file text source: one row per file, (path, contents).

    Mirrors the reference's E1 scan (worker.rs:112-117 read_to_string).
    Backed by ``sc.wholeTextFiles`` — each file is one record, so files
    must fit in executor memory (same constraint as the reference).
    """
    rdd = spark.sparkContext.wholeTextFiles(path_glob)
    return spark.createDataFrame(rdd, schema="path string, contents string")
