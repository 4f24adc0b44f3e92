"""Per-document signatures: text SimHash, MinHash, shingle sets, anchors,
and vector SimHash.

``all_signatures(df, cfg, kinds=...)`` is the ONE producer of text
signatures: a single ``mapInPandas`` pass that tokenizes each document once
and computes only the requested kinds.  Callers run it once and hand its
frames on: the pipeline's ``signatures`` stage and the entry's signature
memo each make one all-kinds pass, and the matchers (``simhash_edges``,
``minhash_edges``, ``jaccard_all_pairs``, ``substring_pairs``) take
projections of that pass and never call it.  The per-kind helpers
``simhash_fingerprints``, ``minhash_signatures``, ``jaccard.shingle_sets``
and ``substring.anchor_index`` are projections of it for callers that start
from text.
The other members of this module are the streaming column form
``simhash64_udf`` (a projection that keeps a stream's other columns), the
local references ``_simhash_of_text`` / ``_minhash_of_text`` that the
brute-force oracle and tests compare against, and the vector SimHash UDF.

Within an Arrow batch the only Python-level loop is over documents; per
token work is cached md5 and numpy bit arithmetic.

Reference semantics being reproduced:

- text SimHash  : ``simhash.cpp:82-122``  — lowercase whitespace tokens,
  term-frequency weights, per-bit sign vote, 64-bit fingerprint.  Token hash
  is portable md5 (not ``std::hash``) — see ``webdedup.functions.hashing``.
- vector SimHash: ``simhash.cpp:373-391`` — seeded random hyperplanes, sign of
  dot product per bit.
- MinHash       : ``minhash_search.py:12-40`` — 128 permutations; our input is
  5-gram token shingles of webtext rather than top-|dim| indices of a CNN
  embedding (the webtext graft, SURVEY §2.2 P8).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions import hashing
from webdedup.functions.tokenize import shingles_py, tokenize_py

_BITPOS = np.arange(64, dtype=np.uint64)


def _simhash_of_text(text: str, cache: dict | None = None,
                     tokenizer=tokenize_py) -> int:
    """64-bit SimHash of one document (term-frequency weighted bit vote).

    ``cache`` is an optional token->uint64 dict shared across one Arrow
    batch — word vocabularies repeat heavily within a batch, and a
    batch-scoped dict cannot poison reused workers the way a global
    lru_cache does (see hashing.py note).  ``tokenizer`` dispatches the
    registry scheme (functions.registry); default = the oracle-checked
    whitespace split."""
    return _simhash_of_tokens(tokenizer(text), cache)


def _simhash_of_tokens(toks: list[str], cache: dict | None = None) -> int:
    """SimHash from an already-tokenized document — the fused signature
    pass tokenizes once and feeds every signature kind (tokens contain no
    whitespace, so this is bit-identical to re-joining and re-splitting)."""
    counts = Counter(toks)
    if not counts:
        return 0
    if cache is None:
        cache = {}
    _fill_token_hashes(counts, cache)
    n = len(counts)
    h = np.fromiter((cache[t] for t in counts), dtype=np.uint64, count=n)
    w = np.fromiter(counts.values(), dtype=np.int64, count=n)
    bits = ((h[:, None] >> _BITPOS) & np.uint64(1)).astype(np.int64)
    votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)    # per-bit signed vote
    fp = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:                                  # strict >, ties -> 0
            fp |= np.uint64(1) << np.uint64(i)            # simhash.cpp:114-121
    return hashing.to_signed64(int(fp))


def _fill_token_hashes(toks, cache: dict) -> None:
    """Add the 64-bit md5 hash of every token missing from ``cache``."""
    for t in toks:
        if t not in cache:
            a, b = hashing.h64_split_py(t)
            cache[t] = (a << 32) | b


def simhash64_udf(tokenizer_name: str = "whitespace") -> Column:
    """pandas UDF factory: text:string -> simhash:long.

    The column form of ``all_signatures(kinds=("simhash",))`` (same values),
    for the streaming ``enrich_stream`` projection, which must keep the
    stream's other columns."""
    from webdedup.functions.registry import get_tokenizer

    tok = get_tokenizer(tokenizer_name)

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(lambda t: _simhash_of_text(t or "", cache, tok))

    return _udf


def _minhash_of_text(text: str, cfg: DedupConfig = DEFAULT,
                     perms: tuple | None = None,
                     tokenizer=tokenize_py) -> list[int]:
    """Local (driver-side) twin of ``all_signatures``' ``minhash`` column —
    IDENTICAL values, used by the brute-force oracle and tests.  ``perms``
    lets a caller hoist the coefficient generation out of a loop.

    ``sig_i = min over shingles s of (a_i * h32(s) + b_i) mod (2^61-1)``;
    empty docs get the modulus (an impossible hash) at every position so
    they never collide with real content.
    """
    a, b = (perms if perms is not None
            else hashing.minhash_perms(cfg.minhash_perms, cfg.seed))
    sh = shingles_py(tokenizer(text or ""), cfg.shingle_k)
    if not sh:
        return [int(hashing.MERSENNE61)] * cfg.minhash_perms
    hs = np.fromiter((hashing.h32_py(s) for s in set(sh)), dtype=np.uint64)
    # exact (a*h + b) mod p over the full 61-bit field — the rotate-based
    # modmul (see hashing.perm_mod_p; the narrow-a formula let tiny h32
    # values win every permutation, r5 fix)
    vals = hashing.perm_mod_p(a, b, hs)
    return [int(v) for v in vals.min(axis=1)]


def vector_simhash_udf(cfg: DedupConfig = DEFAULT) -> Column:
    """pandas UDF factory: embedding:array<float> -> hyperplane simhash:long.

    Seeded projection matrix generated once on the driver and shipped in the
    UDF closure (the distributed analog of ``simhash.cpp:152-174``'s
    ``srand(42)`` hyperplanes); per batch it is a single matmul.
    """
    planes = hashing.hyperplanes(cfg.hyperplane_bits, cfg.embedding_dim, cfg.seed)
    nbits = cfg.hyperplane_bits

    @F.pandas_udf(LongType())
    def _udf(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)   # (batch, dim)
        bits = (X @ planes.T) > 0                          # (batch, nbits)
        # pack in uint64 (bit 63 would overflow int64 weights), then view
        # as two's-complement signed — Spark LongType semantics
        weights = np.uint64(1) << np.arange(nbits, dtype=np.uint64)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1).view(np.int64)
        return pd.Series(packed)

    return _udf


# ---------------------------------------------------------------------------
# The signature pass
# ---------------------------------------------------------------------------

_MIX = np.uint64(0x9E3779B97F4A7C15)   # golden-ratio odd multiplier


def _window_mix(th: np.ndarray, k: int) -> np.ndarray:
    """Vectorized k-gram window hashes over per-token 64-bit hashes:
    S_j = ((h_j·M ⊕ h_{j+1})·M ⊕ ...) over window j..j+k-1 (mod 2^64, numpy
    wrapping).  Position-sensitive (multiply-xor chain), one slice op per
    window position instead of one md5 per shingle string.  Docs shorter
    than k tokens yield ONE window over all tokens — same convention as
    ``shingles_py``."""
    n = th.size
    if n == 0:
        return th[:0]
    kk = min(k, n)
    m = n - kk + 1
    S = th[0:m].copy()
    for i in range(1, kk):
        S = S * _MIX ^ th[i:m + i]
    return S


KINDS = ("simhash", "minhash", "shingles", "anchors")


def all_signatures(df, cfg: DedupConfig = DEFAULT,
                   id_col: str = "doc_id", text_col: str = "text",
                   kinds: tuple[str, ...] = KINDS):
    """The one producer of text signatures: ``id`` plus the requested
    ``kinds`` (output in ``KINDS`` order) from ONE ``mapInPandas`` pass:

        simhash:long, minhash:array<long>, shingles:array<long>,
        anchors:array<long>

    Each document is tokenized once and only the requested kinds' work
    runs: the SimHash vote for ``simhash``; the 5-gram digest loop for
    ``minhash``/``shingles``, where one md5 per 5-gram serves both the
    60-bit shingle hash and the 32-bit MinHash input (h32 = h60 >> 28);
    the 16-gram anchor loop for ``anchors``.  Values equal the local
    references (``_simhash_of_text``, ``_minhash_of_text``, the Catalyst
    ``jaccard.shingle_sets(use_udf=False)``) under the default
    ``cfg.hash_scheme='md5'``; a kinds subset equals the same columns of
    the all-kinds output (pytest-pinned).  Shingle and anchor lists keep
    first-occurrence order without duplicates; empty docs get simhash 0,
    the sentinel MinHash signature (MERSENNE61 at every position) and
    empty shingle/anchor lists.

    The input is re-expanded when it has fewer partitions than cores: a
    small parquet scan arrives as 1-2 partitions, which would run this
    pass — the measured floor of every signature consumer — on 1-2 cores.
    It then gets ``shuffle.partitions`` partitions, so the band-explode
    guards downstream stay no-ops; an input already spread over the cores
    (the pipeline's guarded stage tables, any input at scale) is left as
    it is (``plans.partitions``).

    ``cfg.hash_scheme='tokmix'`` (production opt-in, VERDICT r3 #3): the
    per-shingle md5 is replaced by a vectorized ``_window_mix`` over the
    per-token 64-bit hashes (the SimHash token hashes, cached per batch).
    md5 calls drop from O(#shingles · shingle_chars) to O(#distinct
    tokens · token_chars); shingle identity is preserved (equal token
    windows ⟹ equal hashes, 60-bit collision mass negligible), so dedup
    SEMANTICS are unchanged while hash VALUES differ — no DuckDB twin,
    recall gate pytest-covered (``test_pipeline_recall_tokmix``), measured
    in BENCH.md §tokmix.
    """
    import hashlib
    from collections.abc import Iterator

    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    from webdedup.functions.registry import get_tokenizer
    from webdedup.plans.partitions import ensure_min_partitions

    if not kinds or set(kinds) - set(KINDS):
        raise ValueError(f"kinds must be a non-empty subset of {KINDS}: "
                         f"{kinds!r}")
    kinds = tuple(k for k in KINDS if k in kinds)
    want_sim, want_mh, want_sh, want_an = (k in kinds for k in KINDS)
    out_schema = StructType(
        [StructField("id", df.schema[id_col].dataType)]
        + [StructField(k, LongType() if k == "simhash"
                       else ArrayType(LongType())) for k in kinds])

    a, b = hashing.minhash_perms(cfg.minhash_perms, cfg.seed)
    empty_sig = [int(hashing.MERSENNE61)] * cfg.minhash_perms
    K, mod, k = cfg.anchor_tokens, cfg.anchor_mod, cfg.shingle_k
    tokmix = cfg.hash_scheme == "tokmix"
    md5 = hashlib.md5
    from_bytes = int.from_bytes
    tokenizer = get_tokenizer(cfg.tokenizer)

    def minsig(h32: np.ndarray) -> list[int]:
        if not h32.size:
            return empty_sig
        return hashing.perm_mod_p(a, b, h32).min(axis=1).tolist()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            tok_cache: dict = {}
            out: dict[str, list] = {c: [] for c in ("id", *kinds)}
            for rid, text in zip(batch[id_col], batch[text_col]):
                toks = tokenizer(text or "")  # registry scheme; default =
                # the Java-\s-equivalent whitespace split (oracle-checked)
                out["id"].append(rid)
                if want_sim:
                    out["simhash"].append(_simhash_of_tokens(toks, tok_cache))
                if tokmix:
                    # window mixes over the cached per-token hashes replace
                    # every per-shingle / per-anchor md5
                    if not want_sim:
                        _fill_token_hashes(toks, tok_cache)
                    th = np.fromiter((tok_cache[t] for t in toks),
                                     dtype=np.uint64, count=len(toks))
                    if want_mh or want_sh:
                        s5 = _window_mix(th, k)
                        sh60 = np.unique(s5 >> np.uint64(4)).tolist()
                        h32 = np.unique(s5 >> np.uint64(32))
                    if want_an:
                        a60 = _window_mix(th, K) >> np.uint64(4)
                        anch = np.unique(
                            a60[a60 % np.uint64(mod) == 0]).tolist()
                else:
                    if want_mh or want_sh:
                        sh60d: dict[int, None] = {}
                        h32d: dict[int, None] = {}
                        for g in shingles_py(toks, k):
                            # first 60 digest bits == first 15 hex chars
                            # (r7 byte parse, same value as hashing.h60_py)
                            v = from_bytes(md5(g.encode()).digest()[:8],
                                           "big") >> 4
                            if want_sh:
                                sh60d[v] = None
                            if want_mh:
                                h32d[v >> 28] = None
                        sh60 = list(sh60d)
                        h32 = np.fromiter(h32d, dtype=np.uint64,
                                          count=len(h32d))
                    if want_an:  # 16-gram winnowing sample
                        anchd: dict[int, None] = {}
                        for g in shingles_py(toks, K):
                            h = from_bytes(md5(g.encode()).digest()[:8],
                                           "big") >> 4
                            if h % mod == 0:
                                anchd[h] = None
                        anch = list(anchd)
                if want_mh:
                    out["minhash"].append(minsig(h32))
                if want_sh:
                    out["shingles"].append(sh60)
                if want_an:
                    out["anchors"].append(anch)
            yield pd.DataFrame(out)

    df = ensure_min_partitions(
        df.select(id_col, text_col),
        below=df.sparkSession.sparkContext.defaultParallelism)
    return df.mapInPandas(run, schema=out_schema)
