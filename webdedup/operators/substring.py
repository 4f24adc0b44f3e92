"""Exact-substring duplicate pass (the suffix-array analog, SURVEY §7 step 8).

Goal: find pairs of documents sharing a long verbatim token run (the
north_rule's "suffix-array pass for exact substring duplicates").  A true
distributed suffix array over 10^12 docs is unnecessary for the pair-finding
semantics; the scalable equivalent is **content-defined anchor sampling**
(winnowing-style, Schleimer et al. SIGMOD'03 / MOSS):

1. every token position i yields the k-gram fingerprint
   ``h60(tokens[i..i+K))`` (K = ``anchor_tokens``);
2. keep fingerprints with ``h % anchor_mod == 0`` — selection depends only on
   the *content* of the k-gram, so a verbatim run shared by two docs is
   sampled at identical offsets within the run regardless of where it sits
   in each doc (position-independence is what makes this a substring
   detector rather than a whole-doc one);
3. pairs sharing >= ``min_anchors`` sampled fingerprints are emitted with the
   shared-anchor count (expected one anchor per ``anchor_mod`` positions, so
   ``n_shared >= 2`` evidences a run of ~>= 2*mod+K tokens).

The sampled fingerprints are the ``anchors`` kind of the one signature
pass (``functions.signatures.all_signatures``).  ``substring_pairs`` takes
the caller's (id, anchor) index, exploded from its signature frame
(``anchor_index`` derives one from text); the pair search is a native
Catalyst equi-join + count.  The DuckDB twin ``oracle_sql.substring_pairs``
recomputes the anchors in SQL, so this operator is oracle-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.signatures import all_signatures


def anchor_index(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id, anchor) — distinct sampled k-gram fingerprints per doc."""
    return (all_signatures(df, cfg, id_col, text_col, kinds=("anchors",))
            .select("id", F.explode("anchors").alias("anchor")))


def substring_pairs(idx: DataFrame, min_anchors: int = 2,
                    max_df: int | None = None) -> DataFrame:
    """(a, b, n_shared) — pairs sharing >= min_anchors sampled fingerprints.

    ``idx`` is an (id, anchor) index: the exploded ``anchors`` column of the
    caller's materialized signature frame (``anchor_index`` derives it from
    text).  ``max_df`` drops anchors appearing in more than that many docs
    (boilerplate runs) before the self-join — the scale path; the oracle
    query runs uncapped.
    """
    if max_df is not None:
        from pyspark.sql import Window
        n_part = int(idx.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        w = Window.partitionBy("anchor")
        # explicit repartition: the anchor index comes from an explode,
        # whose size the planner underestimates — without it AQE can
        # coalesce the window shuffle to 1 partition and sort the whole
        # index on one core
        idx = (idx.repartition(n_part, "anchor")
               .withColumn("_df", F.count(F.lit(1)).over(w))
               .filter(F.col("_df") <= max_df).drop("_df"))
    return (
        idx.select(F.col("id").alias("a"), "anchor")
        .join(idx.select(F.col("id").alias("b"), "anchor"), "anchor")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_anchors)
    )
