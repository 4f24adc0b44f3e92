"""MinHash signatures + banded LSH + exact-Jaccard verification.

Reference semantics: ``datasketch.MinHash(num_perm=128)`` +
``MinHashLSH(threshold=0.3)`` (``minhash_search.py:12-40``), candidates from
``lsh.query`` (banding), re-ranked by signature Jaccard (``:81-83``).

Graft shape (SURVEY §2.3 J4): 128-perm signature column from an Arrow UDF,
``posexplode`` into b=32 bands x r=4 rows, band-hash equi-join for
candidates, then *exact* shingle-set Jaccard as the verify step (stronger
than the reference's signature-estimate re-rank).  The banded probability of
catching a pair with Jaccard J is 1-(1-J^r)^b: ~0.974 at J=0.3,
1 - 5e-8 at J=0.8 — so at the fixture similarity levels recall is ~1.0
while the oracle-exact path (``webdedup.operators.jaccard``) covers the
SQL-checkable semantics.

``minhash_edges`` takes the caller's signature and shingle-set frames (the
pipeline's signature stage table, the entry's signature memo) and derives
no signature itself; ``without_empty_docs`` is the one filter that drops
pairs touching an empty-token document.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import MERSENNE61
from webdedup.functions.signatures import all_signatures
from webdedup.operators.jaccard import jaccard_verify
from webdedup.operators.simhash_lsh import band_candidates


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id, minhash: array<long>[128]) — the ``minhash`` projection of the
    one signature pass (``all_signatures``)."""
    return all_signatures(df, cfg, id_col, text_col, kinds=("minhash",))


def minhash_bands(sigs: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id, table_id, band_key) — band j is a 64-bit hash of signature rows
    [j*r, (j+1)*r): ``table_id`` explodes the literal array [0, b) and the
    key is ``xxhash64(slice(minhash, table_id*r + 1, r))``, whatever b.
    ``xxhash64`` is fine here (Spark-internal only; the band hash never
    needs a DuckDB twin because banding is the approximate candidate step,
    not an oracle-checked value).

    (The DuckDB twin of the *banded candidates* does exist —
    ``oracle_sql._minhash_band_ctes`` expresses band membership as slice
    equality, which is what the xxhash64 key encodes.)"""
    # explode fan-out guard — see plans.partitions
    from webdedup.plans.partitions import ensure_min_partitions
    sigs = ensure_min_partitions(sigs)
    r = cfg.minhash_rows
    tables = F.array(*map(F.lit, range(cfg.minhash_bands)))
    return (
        sigs.select("id", "minhash", F.explode(tables).alias("table_id"))
        .select("id", "table_id", F.xxhash64(F.slice(
            "minhash", F.col("table_id") * r + 1, r)).alias("band_key"))
    )


def signature_jaccard(cands: DataFrame, sigs: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature positions —
    the reference's re-rank metric (``minhash_search.py:81-83``).

    Computed by an Arrow-batched numpy kernel, not a Catalyst
    ``zip_with``/``aggregate`` fold: array HOFs evaluate INTERPRETED per
    row (no codegen), and at the r6 1M-doc scale the banding's candidate
    volume grows quadratically on low-entropy text (measured 147k pairs
    at 100k docs -> 2.07M at 400k, through millions of small buckets —
    not a hot-key problem, a collision-rate one), so the per-candidate
    fold dominated ``edges_minhash``.  The kernel computes the identical
    value (#equal positions / perms, exact in float64), so the
    ``minhash_est_jaccard`` oracle rows are unaffected."""
    sa = sigs.select(F.col("id").alias("a"), F.col("minhash").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("minhash").alias("sig_b"))

    @F.pandas_udf("double")
    def _est(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(xa.to_numpy())
        B = np.stack(xb.to_numpy())
        return pd.Series((A == B).mean(axis=1))

    return (
        cands.join(sa, "a").join(sb, "b")
        .withColumn("est_jaccard", _est(F.col("sig_a"), F.col("sig_b")))
        .select("a", "b", "est_jaccard")
    )


def _empty_sig():
    return F.element_at("minhash", 1) == F.lit(MERSENNE61)


def without_empty_docs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``pairs`` (a, b, ...) minus every pair touching a doc whose
    ``minhash`` is the empty-token sentinel (MERSENNE61 at every position —
    ``signatures.all_signatures``).  Two such docs (e.g. "" and "  ") agree
    on every signature position, so an estimate scores them 1.0 although
    they share no token.  Two left-anti joins against the (tiny) sentinel-id
    frame; AQE turns them into broadcast anti-joins at runtime."""
    empty_ids = sigs.filter(_empty_sig()).select("id")
    return (pairs
            .join(empty_ids.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(empty_ids.withColumnRenamed("id", "b"), "b", "left_anti"))


def minhash_edges(sigs: DataFrame, sets: DataFrame,
                  cfg: DedupConfig = DEFAULT,
                  threshold: float | None = None,
                  est_prefilter: float | None = None,
                  fast_accept: float | None = None,
                  collapse_identical: bool = False,
                  cands: DataFrame | None = None,
                  ) -> DataFrame:
    """(a, b, jaccard): banded LSH candidates verified by EXACT shingle
    Jaccard >= threshold — the MinHash twin of ``simhash_edges``.

    Candidates come from the plain band self-join (``band_candidates``);
    AQE skew-join splits a residual hot band bucket at runtime.

    ``est_prefilter``: optional signature-estimate Jaccard cutoff applied
    BEFORE the exact shingle verify — the reference's re-rank
    metric (``minhash_search.py:81-83``, ``signature_jaccard``) over the
    already-loaded signatures.  The estimator is unbiased with
    std ≈ sqrt(J(1-J)/128) ≈ 0.04, so a cutoff 3σ under the verify
    threshold (e.g. 0.35 for threshold 0.5) discards the bulk of the
    false-candidate mass without touching real pairs; the pipeline's golden
    recall gate (>= 0.99) pytest-covers the safety margin.

    ``fast_accept``: optional signature-estimate cutoff ABOVE which a
    candidate pair is accepted without the exact shingle verify —
    the stratified-verify mode for the pipeline's edge sets.  The estimator
    is unbiased with std sqrt(J(1-J)/perms) (~0.044 at J=0.5 with 128
    perms), so a cutoff 3σ above the verify threshold accepts only pairs
    whose true Jaccard is below threshold with probability <~0.1% each;
    only the uncertainty band [est_prefilter, fast_accept) pays the exact
    verify, which is where the verify volume goes at scale.
    When set, the output gains an ``estimated`` boolean column: accepted
    rows carry the (unbiased, ±1/128-quantized) ESTIMATE in the ``jaccard``
    column and ``estimated=true``; verified rows carry the exact value and
    ``estimated=false`` — downstream consumers can always tell the two
    apart.  The decision is deterministic for a given corpus (seeded
    perms), so results are reproducible run-to-run.  Leave ``None``
    (default) for exact-verify semantics (no ``estimated`` column) — the
    oracle-checked ``minhash_lsh_pairs`` query never sets it.

    ``sigs``/``sets``: the caller's materialized (id, minhash) signature
    and (id, shingles) shingle-set frames — projections of its one
    ``all_signatures`` pass (the pipeline's signature stage table, the
    entry's signature memo), so no join arm re-runs the signature UDF.

    ``cands``: optional PRECOMPUTED banded candidate frame (a, b) built over
    the RAW signature table — ``band_candidates(minhash_bands(sigs))``,
    the exact frame the ``minhash_est_jaccard`` query ranks (r7: the entry
    memoizes it once per session and shares it across the minhash derived
    views instead of paying the band self-join per query).  Band collisions
    are PAIRWISE — dropping a document from the band table never changes
    whether two OTHER documents collide — so restricting the precomputed
    frame to non-sentinel docs (two anti-joins against the tiny empty-doc
    id set) yields EXACTLY the pair set of banding the sentinel-filtered
    table, by construction on any corpus.  Only supported with
    ``collapse_identical=False`` (the collapse bands representatives only).

    ``collapse_identical``: pre-collapse documents with IDENTICAL shingle
    sets into one representative before banding (VERDICT r4 #4: exact
    duplicates re-band and re-verify as full cliques today — a boilerplate
    page cloned m times costs C(m,2) verifies).  Lossless by construction:
    identical sets imply identical signatures (banding behavior preserved)
    and identical Jaccard against everything, so the rep-level pair set is
    expanded back member-by-member with the rep pair's value, and
    intra-class pairs are emitted directly with their exact Jaccard 1.0
    (in fast-accept mode: est 1.0, the same accept branch the uncollapsed
    path takes).  Class key = two independent 64-bit hashes of the sorted
    shingle array (collision odds ~2^-128·n² — far below the md5-derived
    shingle hashing the operator is already built on).  Output is
    BIT-IDENTICAL to ``collapse_identical=False`` (pytest-pinned both
    modes, including an empty-text doc pair); only the work changes.
    Empty shingle sets never pair in EITHER mode: they are filtered out
    before banding (sentinel-signature filter below), matching the
    exact-verify semantics where empty-vs-anything Jaccard is 0 or 0/0 ->
    NULL and is dropped.
    """
    t = cfg.minhash_threshold if threshold is None else threshold
    # Empty-shingle-set docs carry the sentinel signature (MERSENNE61 at
    # every position — signatures.all_signatures).  They can never survive the
    # exact verify (empty vs anything is J = 0 or 0/0 -> NULL, both dropped),
    # but in fast-accept mode two empty docs band together and would be
    # accepted at est 1.0 WITHOUT verification — while the collapsed path's
    # intra-class clique excludes them (its _nonempty filter).  Exclude them
    # from banding entirely: fixes that divergence (r5 ADVICE), makes both
    # modes match the exact-verify semantics ("two unrelated empty docs are
    # not Jaccard-1.0 dups"), and removes the empty-doc mega-bucket a real
    # crawl would otherwise produce.  Only degenerate threshold 0.0
    # could notice (empty-vs-nonempty J=0 pairs — which banding essentially
    # never surfaces as candidates anyway).
    if cands is not None:
        if collapse_identical:
            raise ValueError(
                "cands (a precomputed banded candidate frame) is only "
                "supported with collapse_identical=False")
        # the frame was banded over the RAW signature table; restrict to
        # non-sentinel docs (see docstring: pairwise collisions make this
        # exactly the filtered-table pair set)
        cands = without_empty_docs(cands, sigs)
    sigs = sigs.filter(~_empty_sig())
    if collapse_identical:
        return _collapsed_minhash_edges(
            cfg, t, sigs, sets, est_prefilter, fast_accept)
    if cands is None:
        cands = band_candidates(minhash_bands(sigs, cfg))
    if est_prefilter is not None or fast_accept is not None:
        est = signature_jaccard(cands, sigs)
        if est_prefilter is not None:
            est = est.filter(F.col("est_jaccard") >= est_prefilter)
        if fast_accept is not None:
            est = est.localCheckpoint(eager=False)  # accepted + uncertain arms
            accepted = (est.filter(F.col("est_jaccard") >= fast_accept)
                        .select("a", "b",
                                F.col("est_jaccard").alias("jaccard"),
                                F.lit(True).alias("estimated")))
            uncertain = (est.filter(F.col("est_jaccard") < fast_accept)
                         .select("a", "b"))
            verified = jaccard_verify(uncertain, sets, t
                                      ).withColumn("estimated", F.lit(False))
            return verified.unionByName(accepted)
        cands = est.select("a", "b")
    return jaccard_verify(cands, sets, t)


def _collapsed_minhash_edges(cfg: DedupConfig, t: float,
                             sigs: DataFrame, sets: DataFrame,
                             est_prefilter: float | None,
                             fast_accept: float | None,
                             ) -> DataFrame:
    """``minhash_edges(collapse_identical=True)`` body — see its docstring.

    Shape: class key per doc -> min-id representative -> the ORDINARY
    rep-level pipeline (bands/est/verify, recursion with the flag
    off) -> member expansion joins + the intra-class 1.0 clique.  All
    extra joins move narrow (id, rep) longs; the heavy columns (128-long
    signatures, shingle arrays) now flow for representatives only.
    """
    from pyspark.sql import Window

    srt = F.array_sort("shingles")
    w_cls = Window.partitionBy("_k1", "_k2")
    members = (
        sets.select("id", F.xxhash64(srt).alias("_k1"),
                    F.xxhash64(F.lit(97), srt).alias("_k2"),
                    (F.size("shingles") > 0).alias("_nonempty"))
        .withColumn("rep", F.min("id").over(w_cls))
        .select("id", "rep", "_nonempty")
        .localCheckpoint(eager=False)  # rep filter + two expansion arms
    )
    reps_ids = members.filter(F.col("id") == F.col("rep")).select("id")
    rep_pairs = minhash_edges(
        sigs.join(reps_ids, "id", "left_semi"),
        sets.join(reps_ids, "id", "left_semi"), cfg, t,
        est_prefilter=est_prefilter, fast_accept=fast_accept)

    value_cols = [c for c in rep_pairs.columns if c not in ("a", "b")]
    ma = members.select(F.col("rep").alias("a"), F.col("id").alias("na"))
    mb = members.select(F.col("rep").alias("b"), F.col("id").alias("nb"))
    cross = (rep_pairs.join(ma, "a").join(mb, "b")
             .select(F.least("na", "nb").alias("a"),
                     F.greatest("na", "nb").alias("b"), *value_cols))
    mm = members.filter("_nonempty")
    intra = (mm.select(F.col("rep").alias("_r"), F.col("id").alias("a"))
             .join(mm.select(F.col("rep").alias("_r"),
                             F.col("id").alias("b")), "_r")
             .filter(F.col("a") < F.col("b"))
             .select("a", "b", F.lit(1.0).alias("jaccard")))
    if fast_accept is not None:
        # the accept branch the uncollapsed path takes at est 1.0
        intra = intra.withColumn("estimated",
                                 F.lit(float(fast_accept) <= 1.0))
    if t > 1.0 or (est_prefilter or 0.0) > 1.0:
        intra = intra.limit(0)  # nothing passes those cutoffs uncollapsed
    return cross.unionByName(intra)

