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
driver per call.  To avoid that conversion on hot paths, a deployment that
knows its input layout can set the static hint

    spark.conf.set("spark.webdedup.inputPartitions", "<n>")

and the probe is skipped entirely (the hint states a LOWER BOUND on the
partition count of any scanned frame; set it >= shuffle.partitions to make
every guard a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, n: int | None = None,
                          below: int | None = None) -> DataFrame:
    """Repartition ``df`` to ``n`` partitions iff it currently has fewer
    than ``below`` (default ``n``).

    ``n`` defaults to ``spark.sql.shuffle.partitions``.  The current count
    comes from the ``spark.webdedup.inputPartitions`` static hint when set,
    else from an exact ``.rdd`` probe (see module docstring).
    """
    spark = df.sparkSession
    if n is None:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    hint = spark.conf.get("spark.webdedup.inputPartitions", None)
    cur = int(hint) if hint else df.rdd.getNumPartitions()
    return df.repartition(n) if cur < (n if below is None else below) else df
