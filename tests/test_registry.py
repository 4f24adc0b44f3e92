"""Config-keyed extractor/tokenizer registry (SURVEY §2.9; VERDICT r5 #3).

The reference selects extractors dynamically by name
(run_pipeline.py:133-159); the graft's analog is functions.registry keyed
by DedupConfig.extractor / .tokenizer.  Contracts: dispatch by string,
fail-fast on unknown names, and a DETERMINISM contract per registered
extractor (byte-identical text per url regardless of partitioning — the
input_hint invariant the 'regex' default is already pinned to).
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from webdedup.config import DEFAULT as CFG, DedupConfig
from webdedup.functions import registry
from webdedup.functions.extract import extract_text_py, with_extracted_text
from webdedup.sources import corpus


def test_registry_dispatch_and_unknown_names():
    assert registry.get_extractor("regex") is extract_text_py
    assert "regex" in registry.available_extractors()
    assert "stdlib_html" in registry.available_extractors()
    assert set(registry.available_tokenizers()) >= {"whitespace", "alnum"}
    with pytest.raises(KeyError, match="registered"):
        registry.get_extractor("nope")
    with pytest.raises(KeyError, match="registered"):
        registry.get_tokenizer("nope")


def test_config_fails_fast_on_unknown_registry_keys():
    with pytest.raises(KeyError):
        DedupConfig(extractor="nope")
    with pytest.raises(KeyError):
        DedupConfig(tokenizer="nope")
    # registered names construct fine
    replace(CFG, extractor="stdlib_html", tokenizer="alnum")


def test_stdlib_extractor_values_differ_where_they_should():
    """The stdlib parser decodes entities and handles comments; the regex
    default deliberately does neither — a registered non-default extractor
    changes VALUES, not plumbing."""
    html = b"<p>a &amp; b</p><!-- hidden --><script>x=1</script><p>c</p>"
    assert registry.get_extractor("regex")(html) == "a &amp; b c"
    assert registry.get_extractor("stdlib_html")(html) == "a & b c"
    # both drop empty input the same way
    for name in registry.available_extractors():
        fn = registry.get_extractor(name)
        assert fn(None) == "" and fn(b"") == ""


@pytest.mark.parametrize("name", registry.available_extractors())
def test_extractor_determinism_contract(spark, name):
    """input_hint invariant, per REGISTERED extractor: byte-identical text
    per url, independent of partitioning and batch boundaries."""
    rows = corpus.corpus_rows(42, 8)
    pages = spark.createDataFrame(rows, schema=corpus.PAGE_KIND_SCHEMA) \
        .select("url", "html")

    def run(par: int) -> dict:
        out = with_extracted_text(pages.repartition(par), extractor=name)
        return {r["url"]: r["text"] for r in out.collect()}

    a, b, c = run(1), run(7), run(1)
    assert a == b == c
    fn = registry.get_extractor(name)
    local = {r["url"]: fn(r["html"]) for r in rows}
    assert a == local, "UDF path diverged from the local extractor"


CLEAN = "the quick brown fox jumps over the lazy dog near the river bank"
DIRTY = "the quick, brown fox; jumps over the lazy dog... near the river!"


def test_alnum_tokenizer_changes_signatures_only_with_punctuation(spark):
    """tokenizer='alnum' strips punctuation before shingling: signatures
    are identical to the default for punctuation-free text and differ
    when punctuation glues tokens together."""
    from webdedup.functions.signatures import all_signatures

    docs = spark.createDataFrame(
        [("c", CLEAN), ("d", DIRTY)], ["doc_id", "text"])
    base = {r["id"]: r for r in all_signatures(docs, cfg=CFG).collect()}
    alnum = {r["id"]: r for r in all_signatures(
        docs, cfg=replace(CFG, tokenizer="alnum")).collect()}
    assert base["c"]["simhash"] == alnum["c"]["simhash"]
    assert base["c"]["minhash"] == alnum["c"]["minhash"]
    assert base["d"]["simhash"] != alnum["d"]["simhash"]
    # and alnum sees the two docs as near-identical where whitespace
    # tokenization keeps them apart ("quick," != "quick")
    assert alnum["c"]["minhash"] != alnum["d"]["minhash"]
    est = lambda x, y: sum(a == b for a, b in zip(x, y)) / len(x)  # noqa: E731
    assert est(alnum["c"]["minhash"], alnum["d"]["minhash"]) > 0.5
    assert est(base["c"]["minhash"], base["d"]["minhash"]) < 0.5


def test_simhash_matcher_follows_cfg_tokenizer(spark):
    """The SimHash matcher tokenizes with ``cfg.tokenizer``, like the
    pipeline's signature stage: under 'alnum' its fingerprints equal
    ``all_signatures``' and the pair that only punctuation kept apart
    (Hamming 8 with whitespace tokens, 3 with alnum) is found."""
    from webdedup.functions.signatures import all_signatures
    from webdedup.operators import simhash_lsh

    docs = spark.createDataFrame(
        [("c", CLEAN), ("d", DIRTY)], ["doc_id", "text"])
    alnum = replace(CFG, tokenizer="alnum")

    def fps(frame):
        return {r["id"]: r["simhash"] for r in frame.collect()}

    def pairs(frame):
        return {(r["a"], r["b"]) for r in frame.collect()}

    got = fps(simhash_lsh.simhash_fingerprints(docs, cfg=alnum))
    assert got == fps(all_signatures(docs, cfg=alnum))
    assert got != fps(simhash_lsh.simhash_fingerprints(docs, cfg=CFG))
    assert pairs(simhash_lsh.simhash_pairs(docs, cfg=alnum)) == {("c", "d")}
    assert pairs(simhash_lsh.simhash_pairs(docs, cfg=CFG)) == set()
    assert pairs(simhash_lsh.simhash_edges(
        simhash_lsh.simhash_fingerprints(docs, cfg=alnum), alnum)) == {
            ("c", "d")}


def test_pipeline_runs_with_registered_nondefault_schemes(spark):
    """End-to-end dispatch: the pipeline accepts cfg-named non-default
    extractor + tokenizer and still clusters the planted duplicates."""
    import shutil
    import tempfile

    from webdedup.plans import pipeline

    rows = corpus.corpus_rows(7, 6)
    pages = spark.createDataFrame(rows, schema=corpus.PAGE_KIND_SCHEMA) \
        .select("url", "warc_ts", "html", "lang")  # no text: extraction runs
    cfg = replace(CFG, extractor="stdlib_html", tokenizer="alnum")
    d = tempfile.mkdtemp(prefix="webdedup_registry_")
    try:
        res = pipeline.run(pages, d, cfg=cfg, resume=False,
                           record_metrics=False)
        assign = {r["id"]: r["cluster_id"]
                  for r in res.assignments.collect()}
        # exact-duplicate slots share a cluster (entity decoding and
        # punctuation stripping cannot separate identical pages)
        from collections import defaultdict
        groups = defaultdict(set)
        for r in rows:
            groups[r["group_id"]].add(r["url"])
        texts = {r["url"]: r["text"] for r in rows}
        for g, urls in groups.items():
            for u in urls:
                for v in urls:
                    if texts[u] == texts[v]:
                        assert assign[u] == assign[v], (g, u, v)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_banding_warnings_guardrail():
    """r7 (VERDICT r6 #7): cfg.banding_warnings flags both S-curve failure
    modes — banding recall below the verify threshold, and quadratic
    background-candidate volume at scale — and stays silent for matched
    dials."""
    from dataclasses import replace

    from webdedup.config import DEFAULT

    # default 32x4 at threshold 0.5: recall fine (p=0.873 >= 0.75 bound we
    # pass), but at 1M low-entropy docs the background term is quadratic
    warns = DEFAULT.banding_warnings(background_jaccard=0.2,
                                     n_docs=1_000_000, min_recall=0.75)
    assert any("quadratic" in w for w in warns), warns
    assert not any("banding recall" in w for w in warns), warns

    # 16x8 kills the quadratic term at the same scale...
    b16 = replace(DEFAULT, minhash_bands=16, minhash_rows=8)
    warns16 = b16.banding_warnings(background_jaccard=0.2,
                                   n_docs=1_000_000, min_recall=0.75)
    assert not any("quadratic" in w for w in warns16), warns16
    # ...but under-recalls at the 0.5 verify threshold (p=0.061) — flagged
    assert any("banding recall" in w for w in warns16), warns16

    # matched dials: 16x8 with a 0.8 threshold at moderate scale is silent
    ok = replace(DEFAULT, minhash_bands=16, minhash_rows=8,
                 jaccard_threshold=0.8)
    assert ok.banding_warnings(background_jaccard=0.2, n_docs=100_000,
                               min_recall=0.9) == []
