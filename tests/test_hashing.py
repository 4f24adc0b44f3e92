"""Cross-engine hash/tokenize parity + signature invariants.

Ports the reference's unit invariants (``test_lsh_module.py:24-60``):
identical text -> identical fingerprint; similar text closer in Hamming
than dissimilar; determinism across calls.
"""

from __future__ import annotations

import duckdb
import pytest

from webdedup.functions import hashing
from webdedup.functions.signatures import _simhash_of_text
from webdedup.functions.tokenize import (
    shingles_py, shingles_sql, tokenize_py, tokens_sql,
)

SAMPLES = ["hello", "The quick brown fox", "", "a b  c", "ünïcödé tøkens"]


@pytest.mark.parametrize("s", [s for s in SAMPLES if s])
def test_h60_parity_python_duckdb(s):
    con = duckdb.connect()
    got = con.sql(
        f"select {hashing.h60_sql('?')}", params=[s]
    ).fetchone()[0]
    assert got == hashing.h60_py(s)


@pytest.mark.parametrize("s", [s for s in SAMPLES if s])
def test_h32_and_h64_parity(s):
    con = duckdb.connect()
    h32 = con.sql(f"select {hashing.h32_sql('?')}", params=[s]).fetchone()[0]
    hi = con.sql(f"select {hashing.h64_hi_sql('?')}", params=[s]).fetchone()[0]
    lo = con.sql(f"select {hashing.h64_lo_sql('?')}", params=[s]).fetchone()[0]
    assert h32 == hashing.h32_py(s)
    assert (hi, lo) == hashing.h64_split_py(s)


@pytest.mark.parametrize("t", ["  a  b c ", "x", "", "The QUICK brown Fox  "])
def test_tokenize_parity(t):
    con = duckdb.connect()
    got = con.sql(
        f"select {tokens_sql('?')}", params=[t]
    ).fetchone()[0]
    assert got == tokenize_py(t)


@pytest.mark.parametrize("k", [2, 5])
@pytest.mark.parametrize("t", ["a b c d e f g", "a b", "", "one two three"])
def test_shingle_parity(t, k):
    con = duckdb.connect()
    # the shingle SQL repeats the token expr, so inline via CTE (not params)
    got = con.sql(
        f"with s(x) as (select '{t}') "
        f"select {shingles_sql(tokens_sql('x'), k)} from s"
    ).fetchone()[0]
    assert got == shingles_py(tokenize_py(t), k)


def test_simhash_determinism_and_ordering():
    a = "The quick brown fox jumps over the lazy dog"
    b = "The quick brown foxes jumps over the lazy dog"
    c = "Completely unrelated content about other things entirely"
    assert _simhash_of_text(a) == _simhash_of_text(a)

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    sa, sb, sc = map(_simhash_of_text, (a, b, c))
    assert ham(sa, sb) < ham(sa, sc)
    assert ham(sa, sa) == 0


def test_simhash_empty_is_zero():
    assert _simhash_of_text("") == 0
    assert _simhash_of_text("   ") == 0


def test_minhash_perm_bounds():
    a, b = hashing.minhash_perms(128, 42)
    assert len(a) == len(b) == 128
    # full-field coefficients (r5): a in [1, p), b in [0, p) — a 31-bit a
    # let tiny h32 values win every permutation (no modular wrap)
    assert (a >= 1).all() and int(a.max()) < hashing.MERSENNE61
    assert int(b.max()) < hashing.MERSENNE61
    assert int(a.min()) >= (1 << 31), \
        "full-field draw should not produce narrow coefficients"
    a2, b2 = hashing.minhash_perms(128, 42)
    assert (a == a2).all() and (b == b2).all(), "seeded -> reproducible"


def test_perm_mod_p_exact_vs_python_ints():
    """The rotate-based uint64 modmul must equal big-int (a*h+b) % p for
    adversarial h values (0, 1, tiny, max) and every coefficient — the
    bit-for-bit contract the DuckDB HUGEINT twin relies on."""
    import numpy as np
    a, b = hashing.minhash_perms(128, 42)
    hs = np.array([0, 1, 2, 35341, 12345678, (1 << 31) - 1,
                   (1 << 32) - 1, 0xDEADBEEF], dtype=np.uint64)
    got = hashing.perm_mod_p(a, b, hs)
    p = hashing.MERSENNE61
    for i in range(len(a)):
        for j in range(len(hs)):
            exp = (int(a[i]) * int(hs[j]) + int(b[i])) % p
            assert int(got[i, j]) == exp, (i, j)


# --- non-ASCII whitespace: all three engines must split identically --------
#
# Java \s+ (Spark F.split), the explicit ASCII class in tokenize_py, and the
# DuckDB [\s\x0b]+ pattern are all exactly [ \t\n\x0b\f\r].  Unicode
# whitespace (NBSP \xa0, NEL \x85, LS  , ideographic space 　) is
# NOT a separator in any engine.  str.split() would treat it as one — that
# divergence between the Arrow-UDF path and the Catalyst/oracle paths is
# what this pins down (it only stays latent as long as ingestion normalizes
# whitespace, and pipeline.run accepts pre-extracted `text` directly).

UNICODE_WS_SAMPLES = [
    "a\xa0b c",          # NBSP inside a token
    "x\x85y z",     # NEL + LINE SEPARATOR
    "p\x0bq r",          # \x0b IS a separator (Java \s has it, RE2 \s not)
    "m　n",          # ideographic space
    "ja\xa0va \t mixed\x0b\ncase",
]


@pytest.mark.parametrize("t", UNICODE_WS_SAMPLES)
def test_tokenize_parity_unicode_whitespace(t):
    con = duckdb.connect()
    got = con.sql(f"select {tokens_sql('?')}", params=[t]).fetchone()[0]
    assert got == tokenize_py(t)


def test_unicode_whitespace_udf_vs_catalyst(spark):
    """shingle_sets(use_udf=True) == use_udf=False on unicode-ws text."""
    from pyspark.sql import functions as F

    from webdedup.config import DEFAULT as CFG
    from webdedup.functions.tokenize import tokens_col
    from webdedup.operators.jaccard import shingle_sets

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(UNICODE_WS_SAMPLES)],
        "doc_id long, text string")
    udf_side = {r["id"]: list(r["shingles"])
                for r in shingle_sets(df, cfg=CFG, use_udf=True).collect()}
    cat_side = {r["id"]: list(r["shingles"])
                for r in shingle_sets(df, cfg=CFG, use_udf=False).collect()}
    assert udf_side == cat_side
    # token streams themselves: Catalyst \s+ vs tokenize_py
    jvm = df.select("doc_id", tokens_col(F.col("text")).alias("toks")).collect()
    for r in jvm:
        assert list(r["toks"]) == tokenize_py(UNICODE_WS_SAMPLES[r["doc_id"]])


# Degenerate and ordinary docs for the signature producer: empty,
# whitespace-only, one token, fewer than 5 tokens, between 5 and 16, and
# longer than 16 tokens (repeated runs, so shingles and anchors repeat).
SIG_TEXTS = [
    "", "  \t\n ", "hello", "One two  three",
    "the quick brown fox jumps over the lazy dog",
    " ".join(f"w{i % 23}" for i in range(70)),
    " ".join(["lorem ipsum dolor sit amet consectetur adipiscing elit sed "
              "do eiusmod tempor incididunt ut labore et dolore magna"] * 3),
]
# every kinds subset a caller of all_signatures asks for
CALLER_KINDS = [("simhash",), ("minhash",), ("shingles",), ("anchors",),
                ("minhash", "shingles"),
                ("simhash", "minhash", "shingles", "anchors")]


@pytest.mark.parametrize("scheme", ["md5", "tokmix"])
@pytest.mark.parametrize("kinds", CALLER_KINDS, ids="+".join)
def test_all_signatures_kinds_are_projections(spark, kinds, scheme):
    """Each kinds subset of the one signature producer equals the same
    columns of its all-kinds output; under md5 the values equal the local
    references and the Catalyst shingle sets."""
    from dataclasses import replace

    from webdedup.config import DEFAULT as CFG
    from webdedup.functions.signatures import (
        KINDS, _minhash_of_text, all_signatures,
    )
    from webdedup.operators.jaccard import shingle_sets

    cfg = replace(CFG, hash_scheme=scheme)
    docs = spark.createDataFrame(list(enumerate(SIG_TEXTS)),
                                 "doc_id long, text string")

    def rows(frame):
        return {r["id"]: r.asDict() for r in frame.collect()}

    full = rows(all_signatures(docs, cfg))
    sub = all_signatures(docs, cfg, kinds=kinds)
    assert sub.columns == ["id", *(k for k in KINDS if k in kinds)]
    assert rows(sub) == {i: {c: r[c] for c in sub.columns}
                         for i, r in full.items()}
    assert any(r["anchors"] for r in full.values()), "vacuous anchors"
    if scheme != "md5":
        return
    catalyst = {r["id"]: r["shingles"]
                for r in shingle_sets(docs, cfg=CFG, use_udf=False).collect()}
    K, mod = CFG.anchor_tokens, CFG.anchor_mod
    for i, t in enumerate(SIG_TEXTS):
        anchors = [h for h in map(hashing.h60_py,
                                  shingles_py(tokenize_py(t), K))
                   if h % mod == 0]
        assert full[i] == {
            "id": i,
            "simhash": _simhash_of_text(t),
            "minhash": _minhash_of_text(t, CFG),
            "shingles": catalyst[i],
            "anchors": list(dict.fromkeys(anchors)),
        }, t
