"""Local single-node oracle: brute-force matchers + union-find.

This is the trusted reimplementation of the reference pipeline's *semantics*
(hash -> threshold -> union-find cluster) in plain Python, used only in
tests/evaluation as ground truth for the distributed engine:

- exact        : identical text                       (io_utils.py:24-30)
- simhash      : Hamming(simhash64) <= threshold      (simhash.cpp:69-73 +
                 run_pipeline.py:210-211) — brute-force over all pairs, i.e.
                 what the reference's LSH *approximates* and our band join
                 must equal exactly
- jaccard      : 5-gram shingle Jaccard >= threshold  (minhash_search.py:81-83)
- substring    : >= min_anchors shared sampled k-gram fingerprints
- union-find   : path-halving, faithful to run_pipeline.py:190-217

O(n^2) — only ever run on fixture-sized corpora.
"""

from __future__ import annotations

import numpy as np

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import h60_py
from webdedup.functions.signatures import _simhash_of_text
from webdedup.functions.tokenize import shingles_py, tokenize_py

Pair = tuple[str, str]


def _canon(a: str, b: str) -> Pair:
    return (a, b) if a < b else (b, a)


def exact_pairs(docs: dict[str, str]) -> set[Pair]:
    by_text: dict[str, list[str]] = {}
    for k, t in docs.items():
        by_text.setdefault(t, []).append(k)
    out: set[Pair] = set()
    for members in by_text.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                out.add((members[i], members[j]))
    return out


def simhash_pairs(docs: dict[str, str], cfg: DedupConfig = DEFAULT) -> set[Pair]:
    ids = sorted(docs)
    sigs = np.array(
        [np.uint64(_simhash_of_text(docs[i]) & ((1 << 64) - 1)) for i in ids],
        dtype=np.uint64,
    )
    out: set[Pair] = set()
    for i in range(len(ids)):
        x = sigs[i] ^ sigs[i + 1 :]
        ham = np.array([bin(int(v)).count("1") for v in x])
        for off in np.nonzero(ham <= cfg.hamming_threshold)[0]:
            out.add(_canon(ids[i], ids[i + 1 + off]))
    return out


def jaccard_pairs(docs: dict[str, str], threshold: float,
                  cfg: DedupConfig = DEFAULT) -> set[Pair]:
    ids = sorted(docs)
    sets = [set(shingles_py(tokenize_py(docs[i]), cfg.shingle_k)) for i in ids]
    out: set[Pair] = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            u = len(sets[i] | sets[j])
            if u and len(sets[i] & sets[j]) / u >= threshold:
                out.add(_canon(ids[i], ids[j]))
    return out


def substring_pairs(docs: dict[str, str], cfg: DedupConfig = DEFAULT,
                    min_anchors: int = 2) -> set[Pair]:
    ids = sorted(docs)
    anchors = []
    for i in ids:
        grams = shingles_py(tokenize_py(docs[i]), cfg.anchor_tokens)
        anchors.append(
            {h for g in grams if (h := h60_py(g)) % cfg.anchor_mod == 0}
        )
    out: set[Pair] = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if len(anchors[i] & anchors[j]) >= min_anchors:
                out.add(_canon(ids[i], ids[j]))
    return out


def minhash_signatures_local(docs: dict[str, str],
                             cfg: DedupConfig = DEFAULT) -> dict[str, list[int]]:
    """id -> 128-perm MinHash signature, value-identical to the engine's
    (shared implementation: ``signatures._minhash_of_text``)."""
    from webdedup.functions.hashing import minhash_perms
    from webdedup.functions.signatures import _minhash_of_text

    perms = minhash_perms(cfg.minhash_perms, cfg.seed)
    return {i: _minhash_of_text(t, cfg, perms) for i, t in docs.items()}


def est_jaccard_local(sig_a: list[int], sig_b: list[int]) -> float:
    """The signature-estimate Jaccard (fraction of agreeing positions) —
    the reference's re-rank metric (minhash_search.py:81-83)."""
    return sum(x == y for x, y in zip(sig_a, sig_b)) / len(sig_a)


def confirmed_simhash_pairs(docs: dict[str, str], cfg: DedupConfig = DEFAULT,
                            confirm_jaccard: float | None = 0.3) -> set[Pair]:
    """SimHash pairs whose signature-estimate Jaccard ALSO clears the
    confirmation — the local twin of the pipeline's default simhash
    matcher (precision dial, r5)."""
    pairs = simhash_pairs(docs, cfg)
    if confirm_jaccard is None:
        return pairs
    sigs = minhash_signatures_local(docs, cfg)
    return {(a, b) for a, b in pairs
            if est_jaccard_local(sigs[a], sigs[b]) >= confirm_jaccard}


def all_matcher_pairs(docs: dict[str, str],
                      cfg: DedupConfig = DEFAULT,
                      simhash_confirm_jaccard: float | None = None
                      ) -> set[Pair]:
    """Union of the four matchers.  Pass ``simhash_confirm_jaccard=0.3`` to
    mirror the pipeline's production default (the SimHash precision dial);
    ``None`` mirrors the pure hash+threshold semantics."""
    return (
        exact_pairs(docs)
        | confirmed_simhash_pairs(docs, cfg, simhash_confirm_jaccard)
        | jaccard_pairs(docs, cfg.jaccard_threshold, cfg)
        | substring_pairs(docs, cfg)
    )


def union_find_clusters(ids: list[str], pairs: set[Pair]) -> dict[str, str]:
    """id -> component-min id (path-halving union-find,
    run_pipeline.py:196-204)."""
    parent = {i: i for i in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {i: find(i) for i in ids}
