"""SimHash fingerprints + bit-sampling LSH band join + Hamming verify.

Reference semantics: 64-bit text SimHash (``simhash.cpp:82-122``) indexed
into 8 hash tables, candidates gathered by scanning *every* bucket of every
table and keeping buckets within the Hamming ball (``simhash.cpp:229-247``)
— an O(#buckets) probe per query that cannot scale.  The graft replaces the
scan with key-expansion equi-joins that have **provably equal-or-better
recall** (SURVEY §2.3 J2):

- ``scheme='single'`` — split the 64-bit fingerprint into B=8 disjoint 8-bit
  blocks; each table keeps one block.  If two fingerprints differ in <= 5
  bits, the differing bits touch <= 5 blocks, so >= 3 blocks are identical
  and the pair collides in >= 1 table (pigeonhole; B > k).  Recall 1.0.
  Keyspace per table is 2^8, so candidate volume grows ~n^2/256 — fine to
  ~1M docs, wrong at web scale.  It serves only the query rows that name it
  (``__spark_entry__``'s ``simhash_band_stats`` / ``median_candidate_hamming``
  and ``simhash_pairs``' default); no matcher bands with it.

- ``scheme='combo'`` — Manku et al. (WWW'07 "Detecting Near-Duplicates for
  Web Crawling") style block combinations: one table per C(8,3)=56 choice of
  3 blocks, key = the fingerprint ANDed with the table's mask (the OR of the
  3 kept blocks' bits), so still 2^24 distinct keys per table.  A pair
  within Hamming 5 has its differing bits inside <= 5 blocks, so some
  3-block combination avoids all of them -> collides on that table.
  Recall 1.0 with a 2^24 keyspace: at 10^12 docs each table bucket holds
  ~n/2^24 docs, candidate volume is ~56 * n^2 / 2^24 ~ 3.3e-6 * n^2 —
  13,000x fewer candidates per table pair than 'single'.  This is the
  100 TB path, and the only banding the matchers use (``simhash_edges`` and
  the streaming matcher take no scheme).

Hot buckets (boilerplate pages collapsing to one fingerprint region) are
handled upstream by fingerprint-dedup (``simhash_edges``) and inside the
bucket by the chunked verify (``blocked_hamming_pairs``).  Unlike the
reference's ``max_candidates`` cap (``simhash.cpp:243-245``), no pair is
ever dropped.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import to_signed64
from webdedup.functions.signatures import all_signatures
from webdedup.operators.bucket_scan import bucket_scan


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id, simhash:long) — the ``simhash`` projection of the one signature
    pass (``all_signatures``), tokenized by ``cfg.tokenizer``."""
    return all_signatures(df, cfg, id_col, text_col, kinds=("simhash",))


def simhash_bands(sigs: DataFrame, cfg: DedupConfig = DEFAULT,
                  scheme: str = "single") -> DataFrame:
    """(id, simhash, table_id, band_key) — the exploded LSH 'index'.

    One table per ``combinations(range(B), keep)`` element (``keep`` = 1
    for ``single``, B - hamming_threshold for ``combo``); its mask, the OR
    of the kept blocks' bits, rides one literal array and ``band_key =
    simhash & mask``, whatever the table count.

    The reference's in-memory ``std::vector<std::map<uint64,vector<int>>>``
    (``simhash.cpp:362``) disappears: a bucket is just a group of this frame.
    """
    if scheme not in ("single", "combo"):
        raise ValueError(scheme)
    # The explode below multiplies rows 8-56x, which the planner cannot see:
    # if AQE coalesced the upstream (tiny) frame to 1-2 partitions, the whole
    # band table + candidate join would run on 1-2 tasks (measured: 1.67M
    # band rows on ONE task, bands+candidates scaling 1.6x at 4 cores).
    # Re-expand ONLY when under-partitioned — see plans.partitions.
    from webdedup.plans.partitions import ensure_min_partitions
    sigs = ensure_min_partitions(sigs)
    n_blocks = cfg.simhash_bands
    width = cfg.simhash_bits // n_blocks
    keep = 1 if scheme == "single" else n_blocks - cfg.hamming_threshold
    block = (1 << width) - 1
    masks = [to_signed64(sum(block << (i * width) for i in kept))
             for kept in combinations(range(n_blocks), keep)]
    return (
        sigs.select("id", "simhash",
                    F.posexplode(F.array(*map(F.lit, masks)))
                    .alias("table_id", "mask"))
        .select("id", "simhash", "table_id",
                F.col("simhash").bitwiseAND(F.col("mask")).alias("band_key"))
    )


def band_candidates(bands: DataFrame) -> DataFrame:
    """distinct (a, b) id pairs (a < b) colliding in >= 1 table.

    Shuffle equi-join on (table_id, band_key); AQE skew-join handles residual
    hot buckets.  The distinct collapses multi-table duplicates before the
    (cheap) verify — candidate dedup A7 in SURVEY §2.4.
    """
    left = bands.select(F.col("id").alias("a"), "table_id", "band_key")
    right = bands.select(F.col("id").alias("b"), "table_id", "band_key")
    return (
        left.join(right, ["table_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def hamming_verify(cands: DataFrame, sigs: DataFrame,
                   threshold: int) -> DataFrame:
    """Exact Hamming on candidates: (a, b, hamming) with hamming <= threshold.

    Pure Catalyst — ``bit_count(a XOR b)`` stays in WholeStageCodegen
    (reference: popcount intrinsic, ``simhash.cpp:17-28``).
    """
    sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("sig_b"))
    return (
        cands.join(sa, "a").join(sb, "b")
        .withColumn("hamming",
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= threshold)
        .select("a", "b", "hamming")
    )


def blocked_hamming_pairs(bands: DataFrame, threshold: int,
                          chunk_rows: int = 1024,
                          chunk_cols: int = 4096) -> DataFrame:
    """(a, b, hamming): every distinct within-bucket pair with Hamming <=
    threshold — verified INSIDE each bucket with vectorized popcount,
    never materializing the candidate pair set through a shuffle.

    WHY (r6 1M-doc scale cliff, BENCH.md §1m): the join-shaped verify
    (``band_candidates`` -> ``.distinct()`` -> two signature joins) pays
    the quadratic in-bucket candidate volume THROUGH FOUR SHUFFLES.  On
    the low-entropy synthetic vocabulary, bucket sizes grow linearly with
    the corpus, so candidates grow quadratically — measured 9.6M pairs at
    250k docs -> 147.9M at 1M (15.4x for 4x the data); at 1M the stage
    spent 1,400 s mostly sorting/spilling candidate rows.  Verifying
    in-bucket turns those 148M shuffled rows into 148M numpy popcounts
    (XOR + byte-LUT, ~1e9/s/core) inside one pass over the band table,
    emitting only the verified pairs (~0.3% of candidates).

    Plan shape: the shared sorted-bucket scan (``bucket_scan``) with a
    popcount scorer.  Per-bucket work is chunked (``chunk_rows`` x
    ``chunk_cols``), so a pathological mega-bucket is processed in
    bounded memory on one task; at 1M docs the largest rep bucket holds
    670 rows.

    Output is canonicalized (a < b) and ``.distinct()`` deduplicates
    across tables on VERIFIED rows only.  Bit-identical to the join
    verify (pytest-pinned; the sf0.01 oracle rows check it end-to-end).
    """
    id_t = bands.schema["id"].dataType
    out_schema = StructType([StructField("a", id_t), StructField("b", id_t),
                             StructField("hamming", IntegerType())])
    thr = int(threshold)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

    def score(cols):
        ids = cols["id"]
        sigs = np.asarray(cols["simhash"], dtype=np.int64).view(np.uint64)
        m = len(sigs)
        for i0 in range(0, m, chunk_rows):
            si = sigs[i0:i0 + chunk_rows]
            for j0 in range(i0, m, chunk_cols):
                sj = sigs[j0:j0 + chunk_cols]
                x = (si[:, None] ^ sj[None, :])
                h = lut[x.view(np.uint8).reshape(len(si), len(sj), 8)] \
                    .sum(axis=2, dtype=np.uint16)
                ii, jj = np.nonzero(h <= thr)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj  # strict upper triangle: self + mirror out
                if not keep.any():
                    continue
                gi, gj, hv = gi[keep], gj[keep], h[ii[keep], jj[keep]]
                ia, ib = ids[gi], ids[gj]
                sw = ib < ia
                yield (np.where(sw, ib, ia), np.where(sw, ia, ib),
                       hv.astype(np.int32))

    rows = bands.select("id", "simhash", "table_id", "band_key")
    return bucket_scan(rows, ["table_id", "band_key"], score,
                       out_schema).distinct()


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", cfg: DedupConfig = DEFAULT,
                  scheme: str = "single") -> DataFrame:
    """Full exact result: ALL pairs within Hamming <= threshold.

    Because both band schemes have recall 1.0 inside the Hamming ball, this
    equals the brute-force O(n^2) join — which is exactly what the DuckDB
    oracle computes (see ``__spark_entry__``).

    Verification is bucket-local (``blocked_hamming_pairs``, r6): the
    fingerprint rides the band row, so no candidate set and no signature
    join ever materializes.  The signature frame is lazily
    localCheckpoint-ed: the band explode would otherwise re-run the Arrow
    UDF under AQE re-planning."""
    sigs = simhash_fingerprints(df, id_col, text_col, cfg).localCheckpoint(
        eager=False)
    return blocked_hamming_pairs(simhash_bands(sigs, cfg, scheme),
                                 cfg.hamming_threshold)


def simhash_edges(sigs: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """Scale path for the pipeline: (a, b) edges, banded with ``combo``.

    Docs are first collapsed to *distinct fingerprints* (exact clones and
    identical-fingerprint docs form star edges directly — the boilerplate
    hot group contributes ONE representative to the LSH join instead of
    millions of rows), then LSH runs over fingerprint representatives,
    verified inside each bucket (``blocked_hamming_pairs``).  Edge set is
    equivalent for connected components.

    ``sigs``: the caller's materialized (id, simhash) frame (the pipeline's
    signature stage table), which keeps the signature UDF out of the
    self-join plan.
    """
    w = Window.partitionBy("simhash")
    tagged = sigs.withColumn("rep", F.min("id").over(w))
    clone_edges = (
        tagged.filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("id").alias("b"))
    )
    reps = tagged.filter(F.col("id") == F.col("rep")).select("id", "simhash")
    rep_pairs = blocked_hamming_pairs(
        simhash_bands(reps, cfg, "combo"), cfg.hamming_threshold)
    return clone_edges.unionByName(rep_pairs.select("a", "b"))
