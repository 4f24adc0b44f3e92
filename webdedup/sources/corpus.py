"""Deterministic synthetic ``web_pages`` corpus + golden duplicate fixtures.

Shape from BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Duplicate structure (FIXTURES.md §1), the webtext analog of the reference's
COIL-100 ``obj#__angle`` labeled groups (``ground_truth_utils.py:15``):
groups of pages where slot 0 is the base document and subsequent slots are

- ``exact``     : byte-identical copy under a new url  (sha2-detectable)
- ``simhash``   : <=3% token edits                      (Hamming<=5 at 64 bit)
- ``minhash``   : sentence-order shuffle                (5-gram Jaccard >= 0.8)
- ``substring`` : fresh page embedding a >=200-token verbatim chunk of base
- ``singleton`` : unrelated page (must NOT be clustered)

Group 0 is a "boilerplate" hot group — many near-empty pages sharing one tiny
template — to exercise the hot-key paths: fingerprint collapse before LSH and
the bucket-local verify (north_rule).

Everything is a pure function of ``(seed, group_id, slot)``, so the corpus is
identical whether generated on the driver (test scale) or distributed via
``mapInPandas`` over ``spark.range`` (bench scale), under any partitioning.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from webdedup.functions.extract import extract_text_py
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType, TimestampType,
)

SLOTS = 6
SLOT_KINDS = ("base", "exact", "simhash", "minhash", "substring", "singleton")
LANGS = ("en", "en", "en", "en", "en", "en", "de", "vi")  # ~75% en
EPOCH = _dt.datetime(2024, 1, 1)

_STOPWORDS = (
    "the of and to a in is it you that he was for on are as with his they at"
).split()
_VOCAB = _STOPWORDS + [f"w{i:03d}" for i in range(600)]

WEB_PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

PAGE_KIND_SCHEMA = StructType(
    WEB_PAGES_SCHEMA.fields + [StructField("group_id", LongType()),
                               StructField("kind", StringType())]
)


def _rng(seed: int, gid: int, tag: int) -> np.random.RandomState:
    return np.random.RandomState((seed * 1000003 + gid * 97 + tag * 131) % (2**31 - 1))


def _sentences_to_text(sents: list[list[str]]) -> str:
    return " ".join(" ".join(s) + "." for s in sents)


def _base_sentences(seed: int, gid: int) -> list[list[str]]:
    rng = _rng(seed, gid, 0)
    n_tokens = int(rng.randint(80, 400))
    # zipf-ish: stopwords are frequent
    probs = np.concatenate([
        np.full(len(_STOPWORDS), 8.0), np.ones(len(_VOCAB) - len(_STOPWORDS)),
    ])
    probs /= probs.sum()
    toks = [_VOCAB[i] for i in rng.choice(len(_VOCAB), size=n_tokens, p=probs)]
    sents, i = [], 0
    while i < len(toks):
        ln = int(rng.randint(12, 24))
        sents.append(toks[i : i + ln])
        i += ln
    return sents


def _slot_present(seed: int, gid: int, slot: int) -> bool:
    if slot == 0:
        return True
    return _rng(seed, gid, 10 + slot).rand() < 0.7


def page_text(seed: int, gid: int, slot: int) -> str | None:
    """Deterministic text of page (gid, slot); None if the slot is absent."""
    if gid == 0:  # boilerplate hot group: 1 base + near-empty clones
        if slot == 0:
            return "home page copyright contact about"
        return "home page copyright contact about"  # exact clones -> hot bucket
    if not _slot_present(seed, gid, slot):
        return None
    sents = _base_sentences(seed, gid)
    kind = SLOT_KINDS[slot]
    if kind in ("base", "exact"):
        return _sentences_to_text(sents)
    if kind == "simhash":
        # 1-2 token substitutions: keeps the 64-bit fingerprint within the
        # reference's Hamming threshold (5) for most documents
        rng = _rng(seed, gid, 2)
        toks = _sentences_to_text(sents).split()  # keep sentence punctuation
        n_edit = 1 if len(toks) < 200 else 2
        idx = rng.choice(len(toks), size=n_edit, replace=False)
        for i in idx:
            toks[i] = _VOCAB[int(rng.randint(len(_VOCAB)))]
        return " ".join(toks)
    if kind == "minhash":
        # rotate 4 blocks of consecutive sentences: destroys only ~3 block
        # boundaries' worth of 5-grams -> 5-gram Jaccard stays high (>=~0.8)
        rng = _rng(seed, gid, 3)
        nb = min(4, len(sents))
        cuts = sorted(rng.choice(range(1, len(sents)), size=nb - 1,
                                 replace=False)) if len(sents) > nb else []
        blocks, prev = [], 0
        for c in list(cuts) + [len(sents)]:
            blocks.append(sents[prev:c]); prev = c
        order = rng.permutation(len(blocks))
        shuffled = [s for bi in order for s in blocks[bi]]
        return _sentences_to_text(shuffled)
    if kind == "substring":
        rng = _rng(seed, gid, 4)
        # verbatim token run copied from the *rendered* base text so anchor
        # fingerprints collide exactly
        chunk = _sentences_to_text(sents).split()[:260]
        fresh = [_VOCAB[i] for i in rng.choice(len(_VOCAB), size=120)]
        return " ".join(fresh[:60]) + " " + " ".join(chunk) + " " + " ".join(fresh[60:])
    if kind == "singleton":
        rng = _rng(seed, gid, 5)
        toks = [_VOCAB[i] for i in rng.choice(len(_VOCAB), size=int(rng.randint(60, 200)))]
        return " ".join(toks)
    raise AssertionError(kind)


def page_row(seed: int, gid: int, slot: int) -> dict | None:
    text = page_text(seed, gid, slot)
    if text is None:
        return None
    url = f"https://example.org/g{gid:06d}/p{slot}"
    # per-GROUP title: exact-copy slots must stay byte-identical after
    # extraction (title text becomes part of the extracted document)
    title = f"site g{gid}"
    html = (
        b"<html><head><title>" + title.encode()
        + b"</title><style>body{color:#000}</style></head><body><p>"
        + text.encode("utf-8") + b"</p><script>var x=1;</script></body></html>"
    )
    # The text column IS the extractor's output on the html (the per-url
    # byte-identical invariant from BASELINE.json input_hint holds by
    # construction; tests re-extract and compare).  The title tokens become
    # part of the document text, as a real extractor would produce.
    text = extract_text_py(html)
    lang = LANGS[gid % len(LANGS)]
    ts = EPOCH + _dt.timedelta(seconds=int(gid) * 60 + slot)
    return {
        "url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang,
        "group_id": gid, "kind": SLOT_KINDS[slot] if gid else "boilerplate",
    }


def corpus_rows(seed: int, n_groups: int) -> list[dict]:
    """Driver-side generation (test scale)."""
    out = []
    for gid in range(n_groups):
        n_slots = 40 if gid == 0 else SLOTS  # hot boilerplate group is big
        for slot in range(n_slots):
            r = page_row(seed, gid, slot)
            if r is not None:
                out.append(r)
    return out


def corpus_df(
    spark: SparkSession, seed: int, n_groups: int, with_labels: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed generation: one input row per group id, fanned out to its
    pages inside ``mapInPandas`` — scales to arbitrarily many groups with no
    driver materialization and no shuffle."""
    schema = PAGE_KIND_SCHEMA if with_labels else WEB_PAGES_SCHEMA
    cols = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for gid in b["id"].tolist():
                n_slots = 40 if gid == 0 else SLOTS
                for slot in range(n_slots):
                    r = page_row(seed, int(gid), slot)
                    if r is not None:
                        rows.append({k: r[k] for k in cols})
            yield pd.DataFrame(rows, columns=cols)

    rng_df = spark.range(0, n_groups, numPartitions=partitions or max(8, n_groups // 2000))
    return rng_df.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Golden fixtures (analog of ground_truth_utils.generate_ground_truth)
# ---------------------------------------------------------------------------

def golden_pairs(seed: int, n_groups: int) -> list[tuple[str, str, str]]:
    """All intra-group duplicate pairs, canonicalized (a<b), labeled by the
    variant kind that ties the *pair's* non-base member to the group.
    Singleton slots are excluded (they are not duplicates of anything)."""
    pairs: list[tuple[str, str, str]] = []
    for gid in range(n_groups):
        n_slots = 40 if gid == 0 else SLOTS
        members: list[tuple[str, str]] = []
        for slot in range(n_slots):
            if gid == 0:
                if page_text(seed, gid, slot) is not None:
                    members.append((f"https://example.org/g{gid:06d}/p{slot}", "exact"))
                continue
            if SLOT_KINDS[slot] == "singleton":
                continue
            if page_text(seed, gid, slot) is not None:
                members.append(
                    (f"https://example.org/g{gid:06d}/p{slot}", SLOT_KINDS[slot])
                )
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i][0], members[j][0]
                kind = members[j][1] if members[j][1] != "base" else members[i][1]
                pairs.append((min(a, b), max(a, b), kind))
    return pairs


def golden_clusters(seed: int, n_groups: int) -> dict[str, int]:
    """url -> cluster_id (= min member index) via a local union-find oracle —
    a faithful re-implementation of the reference's ``cluster_from_knn``
    union-find (``run_pipeline.py:190-217``), used as the pytest gold."""
    pairs = golden_pairs(seed, n_groups)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]          # path halving, :196-200
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)      # :201-204

    for a, b, _ in pairs:
        union(a, b)
    roots = sorted({find(u) for u in parent})
    root_id = {r: i for i, r in enumerate(roots)}
    return {u: root_id[find(u)] for u in parent}
