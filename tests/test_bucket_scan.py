"""The sorted-bucket scan kernels must be EXACTLY equal to their join-shaped
twins, across Arrow-batch boundaries and inside oversized buckets."""

from __future__ import annotations

from contextlib import contextmanager

from webdedup.config import DEFAULT as CFG
from webdedup.operators import simhash_lsh

_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def _tiny_arrow_batches(spark):
    """16-row Arrow batches force a bucket to straddle batch boundaries, so
    the scan's carry-over buffer is exercised."""
    old = spark.conf.get(_BATCH)
    spark.conf.set(_BATCH, "16")
    try:
        yield
    finally:
        spark.conf.set(_BATCH, old)


def test_blocked_verify_equals_join_verify(spark):
    """blocked_hamming_pairs (the r6 1M-cliff fix, simhash_edges' verify)
    must be BIT-IDENTICAL to the join-shaped verify — including hot
    buckets larger than the numpy chunk sizes (forces the row/col chunk
    paths and the Arrow-batch carry-over), cross-table dedup, and both
    long and string id types."""
    import random

    rng = random.Random(5)
    # 90 sigs in one hot bucket (several within Hamming<=5 of each other),
    # plus cold buckets across a second table; duplicate (table,key)
    # membership across tables exercises the cross-table distinct
    rows = []
    base = rng.getrandbits(60)
    for i in range(90):
        sig = base
        for _ in range(rng.randrange(0, 8)):
            sig ^= 1 << rng.randrange(62)
        rows.append((i, sig, 0, 7))
        if i < 40:
            rows.append((i, sig, 1, 3))  # same pair may collide twice
    for i in range(30):
        rows.append((200 + i, rng.getrandbits(60), 2, i % 6))
    bands = spark.createDataFrame(
        rows, "id long, simhash long, table_id int, band_key long")

    def canon(df):
        return {(r["a"], r["b"], r["hamming"]) for r in df.collect()}

    exp = canon(simhash_lsh.hamming_verify(
        simhash_lsh.band_candidates(bands),
        bands.select("id", "simhash").distinct(), CFG.hamming_threshold))
    # tiny chunks force multi-chunk row/col iteration inside one bucket
    with _tiny_arrow_batches(spark):
        got = canon(simhash_lsh.blocked_hamming_pairs(
            bands, CFG.hamming_threshold, chunk_rows=7, chunk_cols=13))
    assert got == exp and len(exp) > 0
    # string ids: canonicalization must match Spark's least/greatest
    srows = [(f"d{i:03d}", s, t, k) for (i, s, t, k) in rows]
    sbands = spark.createDataFrame(
        srows, "id string, simhash long, table_id int, band_key long")
    exp_s = canon(simhash_lsh.hamming_verify(
        simhash_lsh.band_candidates(sbands),
        sbands.select("id", "simhash").distinct(), CFG.hamming_threshold))
    got_s = canon(simhash_lsh.blocked_hamming_pairs(
        sbands, CFG.hamming_threshold))
    assert got_s == exp_s and len(exp_s) > 0


def test_lsh_cosine_blocked_equals_fold_across_batches(spark):
    """The GEMM scorer behind the same scan: with 16-row Arrow batches the
    multi-row buckets of clustered embeddings straddle batch boundaries,
    and the carried-over buckets must still yield exactly the
    candidate-join fold's pairs and rounded cosines."""
    import numpy as np

    from webdedup.operators import similarity

    # 20 tight clusters of 20 vectors: members share most band keys, so
    # buckets hold many rows
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((20, CFG.embedding_dim))
    vecs = (np.repeat(centers, 20, axis=0)
            + 0.3 * rng.standard_normal((400, CFG.embedding_dim)))
    emb = spark.createDataFrame(
        [(i, v.astype(np.float32).tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    fold = {(r["a"], r["b"]): r["cosine"] for r in
            similarity.lsh_cosine_pairs(
                emb, threshold=0.3, cfg=CFG, verify="fold").collect()}
    with _tiny_arrow_batches(spark):
        blocked = {(r["a"], r["b"]): r["cosine"] for r in
                   similarity.lsh_cosine_pairs(
                       emb, threshold=0.3, cfg=CFG,
                       verify="blocked").collect()}
    assert blocked == fold and len(fold) > 0


def test_simhash_edges_blocked_default_components(doc_sigs, corpus_texts):
    """simhash_edges yields the same components as brute force."""
    from webdedup import oracle
    e = simhash_lsh.simhash_edges(doc_sigs.select("id", "simhash"), CFG)
    got = {(r["a"], r["b"]) for r in e.collect()}
    ids = sorted(corpus_texts)
    exp = oracle.simhash_pairs(corpus_texts, CFG)
    assert oracle.union_find_clusters(ids, got) == \
        oracle.union_find_clusters(ids, exp)
