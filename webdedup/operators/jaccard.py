"""Exact n-gram Jaccard: verification joins and the exact all-pairs operator.

The reference's exact re-rank computes Jaccard between candidate docs
(``minhash_search.py:81-83``, signature-estimate).  Here "exact" means true
set Jaccard over 5-gram shingles (SURVEY §2.2 P11):

    J(A,B) = |A n B| / (|A u B|)

with one pair-generation plan and one verify kernel:

- ``jaccard_verify``    — for an existing candidate-pair frame: join shingle
  *sets* to both sides and count |A n B| with a vectorized numpy kernel.
- ``jaccard_all_pairs`` — exact all-pairs over the caller's (id, shingles)
  frame: explode (doc, shingle-hash), drop shingles above the
  document-frequency cap ``max_df`` (``None`` = no cap), self-join on
  shingle-hash for the distinct candidate pairs, then ``jaccard_verify``
  them.  Any pair with J > 0 shares >= 1 shingle, so
  uncapped recall is exactly 1.0 — the DuckDB-oracle-matched operator.
  The cap is the web-scale escape hatch for stopword shingles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import h60_col
from webdedup.functions.signatures import all_signatures
from webdedup.functions.tokenize import shingles_col, tokens_col


def shingle_sets(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 cfg: DedupConfig = DEFAULT,
                 use_udf: bool = True) -> DataFrame:
    """(id, shingles: array<long>) — distinct 60-bit shingle hashes.

    Two equivalent implementations (bit-identical output):
    - the ``shingles`` projection of the one signature pass
      (``all_signatures``, default) — ~10x faster than Catalyst here
      because ``conv(substr(md5(...)))`` per shingle is an interpreted
      arbitrary-base conversion;
    - pure Catalyst expression (``use_udf=False``) — kept as the reference
      implementation the tests compare against (default tokenizer only).
    """
    if use_udf:
        return all_signatures(df, cfg, id_col, text_col, kinds=("shingles",))
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                shingles_col(tokens_col(F.col(text_col)), cfg.shingle_k),
                h60_col,
            )
        ).alias("shingles"),
    )


def jaccard_all_pairs(sets: DataFrame, cfg: DedupConfig = DEFAULT,
                      threshold: float | None = None,
                      max_df: int | None = None) -> DataFrame:
    """(a, b, jaccard) for every pair with J >= threshold — exact values.

    Candidate pairs are the distinct pairs sharing a shingle whose document
    frequency is <= ``max_df``, verified with exact Jaccard over the FULL
    shingle sets (``jaccard_verify``).  ``max_df=None`` skips the df filter:
    every pair with J > 0 is a candidate, so the result is the brute-force
    pair set (the DuckDB-oracle shape, quadratic in the document frequency
    of common shingles, so NOT the web-scale setting).  ``max_df=k`` is the
    boilerplate-stopword cap that bounds the self-join's per-key fan-out at
    scale: J values are unchanged; only pairs sharing exclusively
    ultra-common shingles are missed.  On the sf0.01 oracle data max
    shingle df = 3, so capped and uncapped results coincide and the
    uncapped DuckDB twin still matches.

    ``sets`` is the caller's materialized (id, shingles) frame, a
    projection of its one ``all_signatures`` pass; the shingle index and
    the verify join both read it.
    """
    t = cfg.jaccard_threshold if threshold is None else threshold
    idx = sets.select("id", F.explode("shingles").alias("sh"))
    if max_df is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("sh")
        idx = (idx.withColumn("_df", F.count(F.lit(1)).over(w))
               .filter(F.col("_df") <= max_df).drop("_df"))
    cands = (
        idx.select(F.col("id").alias("a"), "sh")
        .join(idx.select(F.col("id").alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return jaccard_verify(cands, sets, t)


def jaccard_verify(cands: DataFrame, sets: DataFrame,
                   threshold: float) -> DataFrame:
    """Verify candidate (a, b) pairs with exact shingle-set Jaccard.

    The join back to the corpus is the reference's candidate-verification
    join J6 (``simhash.cpp:250-256`` / ``minhash_search.py:73-83``).
    ``sets`` is a materialized (id, shingles) frame (``shingle_sets`` or
    the ``shingles`` column of the signature stage table).

    Plan (r6 — the 1M-doc edges_minhash whale): join each side's shingle
    ARRAY to the pair once (two shuffle joins, sized by the candidate list,
    so only candidate ids' arrays ever move) and compute |A∩B| with a
    vectorized-batch numpy kernel — no per-shingle pair-row explosion, no
    giant groupBy.  J = inter / (|A| + |B| - inter), one float64 division
    of exact integers; empty-vs-empty pairs score 0.0 (0/0).  This is NOT
    the r3-rejected wide-array BROADCAST plan (per-task broadcast
    deserialization GC): both sides arrive by shuffle join.  The
    jaccard/minhash oracle rows and ``oracle.jaccard_pairs`` pin the
    values."""
    sa = sets.select(F.col("id").alias("a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("id").alias("b"), F.col("shingles").alias("sh_b"))

    @F.pandas_udf("double")
    def _jac(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:  # scalar pandas UDFs can get empty batches
            return pd.Series([], dtype="float64")
        out = np.empty(len(xa), dtype="float64")
        for i, (u, v) in enumerate(zip(xa.to_numpy(), xb.to_numpy())):
            nu, nv = len(u), len(v)
            if nu == 0 and nv == 0:
                out[i] = 0.0  # 0/0 -> 0.0
                continue
            inter = np.intersect1d(u, v, assume_unique=True).size
            out[i] = inter / (nu + nv - inter)
        return pd.Series(out)

    return (cands.select("a", "b").join(sa, "a").join(sb, "b")
            .withColumn("jaccard", _jac(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))
