"""Partition-count guard shared by every explode-heavy operator.

AQE coalesces small upstream frames to 1-2 partitions; a following band
explode (8-56x fan-out) then runs on 1-2 tasks (measured: 1.67M band rows on
ONE task).  The guard re-expands ONLY when under-partitioned — at production
scale inputs already carry >> shuffle.partitions partitions and it is a no-op.

The partition probe must reflect ACTUAL partitions: ``inputFiles()`` lies
(the parquet scan packs small files via openCostInBytes, so a table with N
files can arrive as ONE scan partition — a file-count probe silently
serialized downstream UDF stages; see PLANS.md §10).  The only exact probe is
``df.rdd.getNumPartitions()``, which converts the plan to an RDD on the
driver per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, n: int | None = None,
                          below: int | None = None) -> DataFrame:
    """Repartition ``df`` to ``n`` partitions iff it currently has fewer
    than ``below`` (default ``n``).

    ``n`` defaults to ``spark.sql.shuffle.partitions``.  The current count
    comes from an exact ``.rdd`` probe (see module docstring).
    """
    if n is None:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    cur = df.rdd.getNumPartitions()
    return df.repartition(n) if cur < (n if below is None else below) else df
