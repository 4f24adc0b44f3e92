"""Stage-table checkpointing: write-once parquet tables with atomic markers.

Stand-in for Iceberg snapshots (no Iceberg runtime in the sandbox): a stage
table is "committed" iff Spark's ``_SUCCESS`` marker exists, which Spark
writes only after all tasks commit — so a killed job never half-resumes.
Resume-from-checkpoint (north_rule) = ``exists() ? read : write, then read``
(``plans.pipeline.run``'s ``stage``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_path(work_dir: str, name: str) -> str:
    return os.path.join(work_dir, f"{name}.parquet")


def exists(work_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(work_dir, name), "_SUCCESS"))


def write(df: DataFrame, work_dir: str, name: str,
          partitions: int | None = None) -> None:
    """``partitions`` controls the written file count (one read partition
    per file for small tables — keeps downstream parallelism up)."""
    out = df.repartition(partitions) if partitions else df
    out.write.mode("overwrite").parquet(table_path(work_dir, name))


def read(spark: SparkSession, work_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(work_dir, name))


def row_count(work_dir: str, name: str) -> int:
    """Row count from parquet footers — no Spark job."""
    import pyarrow.parquet as pq

    path = table_path(work_dir, name)
    total = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return total
