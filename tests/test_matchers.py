"""Each distributed matcher must equal its local brute-force oracle exactly
(band-LSH recall-1.0 guarantees) or within its designed probability
(MinHash banding), on the fixture corpus."""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from webdedup import oracle
from webdedup.config import DEFAULT as CFG
from webdedup.functions.hashing import to_signed64
from webdedup.functions.signatures import all_signatures
from webdedup.operators import exact, jaccard, minhash_lsh, simhash_lsh, substring


def _pairset(df, a="a", b="b"):
    return {(r[a], r[b]) for r in df.select(a, b).collect()}


def _mh(sigs):
    """The (signatures, shingle sets) frames ``minhash_edges`` takes."""
    return sigs.select("id", "minhash"), sigs.select("id", "shingles")


def _anchors(sigs):
    """The (id, anchor) index ``substring_pairs`` takes."""
    return sigs.select("id", F.explode("anchors").alias("anchor"))


def test_exact_edges_match_oracle(docs, corpus_texts):
    got = _pairset(exact.exact_dup_edges(docs), "src", "dst")
    exp = oracle.exact_pairs(corpus_texts)
    # star edges connect min->member; as sets of connected pairs they are a
    # subset of the clique, but cover the same components
    comp = oracle.union_find_clusters(sorted(corpus_texts), exp)
    got_comp = oracle.union_find_clusters(sorted(corpus_texts), got)
    assert got_comp == comp


def test_simhash_single_scheme_equals_bruteforce(docs, corpus_texts):
    got = _pairset(simhash_lsh.simhash_pairs(docs, cfg=CFG, scheme="single"))
    exp = oracle.simhash_pairs(corpus_texts, CFG)
    assert got == exp, (len(got), len(exp))


def test_simhash_combo_scheme_equals_bruteforce(docs, corpus_texts):
    got = _pairset(simhash_lsh.simhash_pairs(docs, cfg=CFG, scheme="combo"))
    exp = oracle.simhash_pairs(corpus_texts, CFG)
    assert got == exp


@pytest.mark.parametrize("bands", ["single", "combo", "minhash"])
def test_band_tables_pinned(docs, bands):
    """Pin every band table, not just the pair set: a key that split one
    table's buckets would stay invisible to the pair-level tests while
    another table still caught the pair."""
    if bands == "minhash":
        sigs = minhash_lsh.minhash_signatures(docs, cfg=CFG)
        r, b = CFG.minhash_rows, CFG.minhash_bands
        got = {(row["id"], row["table_id"]): row["band_key"]
               for row in minhash_lsh.minhash_bands(sigs, CFG).collect()}
        exp = {}
        for row in sigs.select("id", *[
                F.xxhash64(F.slice("minhash", j * r + 1, r)).alias(f"k{j}")
                for j in range(b)]).collect():
            for j in range(b):
                exp[(row["id"], j)] = row[f"k{j}"]
        assert got == exp
        return
    n_blocks = CFG.simhash_bands
    width = CFG.simhash_bits // n_blocks
    keep = 1 if bands == "single" else n_blocks - CFG.hamming_threshold
    tables = list(combinations(range(n_blocks), keep))
    block, full = (1 << width) - 1, (1 << 64) - 1
    sigs = simhash_lsh.simhash_fingerprints(docs, cfg=CFG)
    # synthetic fingerprints around a real one, so that a stray or missing
    # key bit shows whatever the fixture's buckets: per table, one agreeing
    # only on that table's kept bits (must share its bucket); per block,
    # one flipping that block's low bit (must leave every table keeping it)
    f = sigs.first()["simhash"] & full
    extra = [f ^ (full & ~sum(block << (i * width) for i in kept))
             for kept in tables] + [f ^ (1 << (i * width))
                                    for i in range(n_blocks)]
    sigs = sigs.unionByName(docs.sparkSession.createDataFrame(
        [(f"synthetic-{k}", to_signed64(v)) for k, v in enumerate(extra)],
        sigs.schema))
    rows = simhash_lsh.simhash_bands(sigs, CFG, bands).collect()
    per_doc = {}
    for row in rows:
        per_doc.setdefault(row["id"], []).append(row["table_id"])
    assert per_doc and all(sorted(t) == list(range(len(tables)))
                           for t in per_doc.values())
    largest = 0
    for t, kept in enumerate(tables):
        by_key, by_blocks = {}, {}
        for row in rows:
            if row["table_id"] != t:
                continue
            u = row["simhash"] & full
            blocks = tuple((u >> (i * width)) & block for i in kept)
            by_key.setdefault(row["band_key"], set()).add(row["id"])
            by_blocks.setdefault(blocks, set()).add(row["id"])
        got = {frozenset(v) for v in by_key.values()}
        assert got == {frozenset(v) for v in by_blocks.values()}, t
        largest = max(largest, *map(len, got))
    assert largest >= 2, "no bucket with two members: the check is vacuous"


def test_jaccard_all_pairs_equals_bruteforce(doc_sigs, corpus_texts):
    got = _pairset(jaccard.jaccard_all_pairs(
        doc_sigs.select("id", "shingles"), CFG,
        threshold=CFG.jaccard_threshold))
    exp = oracle.jaccard_pairs(corpus_texts, CFG.jaccard_threshold, CFG)
    assert got == exp


def test_minhash_banding_recall(doc_sigs, corpus_texts):
    got = _pairset(minhash_lsh.minhash_edges(
        *_mh(doc_sigs), CFG, threshold=CFG.jaccard_threshold))
    exp = oracle.jaccard_pairs(corpus_texts, CFG.jaccard_threshold, CFG)
    assert got <= exp, "verify step must keep only true >=threshold pairs"
    # overall recall: 32x4 banding at J~0.5 misses ~13% by design (the
    # reference's own datasketch config); the pipeline's union of matchers
    # covers those.  Gate hard where banding is designed to be reliable:
    recall_all = len(got & exp) / len(exp) if exp else 1.0
    assert recall_all >= 0.90, f"minhash overall recall {recall_all:.3f}"
    high = oracle.jaccard_pairs(corpus_texts, 0.7, CFG)
    recall_high = len(got & high) / len(high) if high else 1.0
    assert recall_high >= 0.99, f"minhash recall@J>=0.7 {recall_high:.3f}"


def test_substring_pairs_equal_bruteforce(doc_sigs, corpus_texts):
    got = _pairset(substring.substring_pairs(_anchors(doc_sigs)))
    exp = oracle.substring_pairs(corpus_texts, CFG)
    assert got == exp


def test_substring_variant_detected(doc_sigs, pages):
    """Every present substring-kind page must pair with its base."""
    subs = {r["url"]: r["group_id"] for r in
            pages.filter(F.col("kind") == "substring").collect()}
    got = _pairset(substring.substring_pairs(_anchors(doc_sigs)))
    linked = {a for a, _ in got} | {b for _, b in got}
    missing = [u for u in subs if u not in linked]
    assert not missing, f"substring variants not linked: {missing[:5]}"


def test_minhash_signature_properties(spark):
    from webdedup.operators.minhash_lsh import minhash_signatures, signature_jaccard
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"),
         (3, "totally different words here now")],
        ["doc_id", "text"])
    sigs = minhash_signatures(df, cfg=CFG)
    rows = {r["id"]: r["minhash"] for r in sigs.collect()}
    assert rows[1] == rows[2], "identical text -> identical signature"
    assert rows[1] != rows[3]
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    est = {(r["a"], r["b"]): r["est_jaccard"]
           for r in signature_jaccard(cands, sigs).collect()}
    assert est[(1, 2)] == 1.0
    assert est[(1, 3)] < 0.2


def test_lsh_cosine_recall_sweep(spark):
    """The ANN recall/cost dial (faiss nprobe analog): multi-probe raises
    recall vs the exact cosine oracle; verify keeps only true pairs."""
    from webdedup.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact_pairs = _pairset(similarity.cosine_pairs(emb, threshold=0.3))
    assert exact_pairs, "fixture must have >=1 pair above threshold"
    recalls = {}
    for probe in (0, 1, 2):
        got = _pairset(similarity.lsh_cosine_pairs(
            emb, threshold=0.3, cfg=CFG, probe_bits=probe))
        assert got <= exact_pairs, "cosine verify admits only true pairs"
        recalls[probe] = len(got) / len(exact_pairs)
    assert recalls[0] < recalls[1] < recalls[2], \
        f"multi-probe must raise recall {recalls}"
    assert recalls[2] >= 0.90, f"probe_bits=2 recall {recalls[2]:.3f}"
    # at the production threshold (0.9) even probe 0 is designed for ~0.87
    # recall at 3% random-pair mass; the 0.3-threshold regime here is the
    # ρ-bound stress case (PLANS.md §11)


def test_lsh_cosine_blocked_equals_fold(spark):
    """The per-bucket-matmul verify and the candidate-join Catalyst-fold
    verify are two physical plans for the SAME operator — identical output
    (pairs AND rounded cosines) at every probe level."""
    from webdedup.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for probe in (0, 2):
        blocked = {(r["a"], r["b"]): r["cosine"] for r in
                   similarity.lsh_cosine_pairs(
                       emb, threshold=0.3, cfg=CFG, probe_bits=probe,
                       verify="blocked").collect()}
        fold = {(r["a"], r["b"]): r["cosine"] for r in
                similarity.lsh_cosine_pairs(
                    emb, threshold=0.3, cfg=CFG, probe_bits=probe,
                    verify="fold").collect()}
        assert blocked == fold, (probe, len(blocked), len(fold))


def test_lsh_cosine_hot_bucket_grid_split(spark):
    """Lossless grid split (ADVICE r3 skew hazard): forcing EVERY bucket
    through the ns x ns sub-task grid (max_bucket_rows far below real
    bucket sizes) must not change a single pair or cosine — only the task
    granularity changes."""
    from webdedup.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = {(r["a"], r["b"]): r["cosine"] for r in
            similarity.lsh_cosine_pairs(emb, threshold=0.3, cfg=CFG).collect()}
    split = {(r["a"], r["b"]): r["cosine"] for r in
             similarity.lsh_cosine_pairs(
                 emb, threshold=0.3, cfg=CFG, max_bucket_rows=8).collect()}
    assert base and split == base, (len(base), len(split))


def test_lsh_cosine_zero_norm_and_threshold_contract(spark):
    """Zero-norm vectors are excluded up front (cosine undefined; numpy and
    Catalyst disagree on NaN comparisons otherwise) and thresholds <= 0 are
    rejected — the documented input contract (ADVICE r3)."""
    import pytest
    from pyspark.sql import functions as F
    from webdedup.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    zero = spark.createDataFrame(
        [(999_999_999, [0.0] * dim, 0)], "vec_id long, embedding array<float>, label int"
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    aug = emb.unionByName(zero)
    blocked = {(r["a"], r["b"]): r["cosine"] for r in
               similarity.lsh_cosine_pairs(aug, threshold=0.3, cfg=CFG).collect()}
    fold = {(r["a"], r["b"]): r["cosine"] for r in
            similarity.lsh_cosine_pairs(
                aug, threshold=0.3, cfg=CFG, verify="fold").collect()}
    assert blocked == fold
    ids = {i for p in blocked for i in p}
    assert 999_999_999 not in ids, "zero-norm vector leaked into pair output"
    assert not any(c != c for c in blocked.values()), "NaN cosine emitted"
    with pytest.raises(ValueError, match="threshold > 0"):
        similarity.lsh_cosine_pairs(emb, threshold=0.0, cfg=CFG)


def test_minhash_est_prefilter_keeps_recall(doc_sigs, corpus_texts):
    """Signature-estimate prefilter (minhash_search.py:81-83) 3σ under the
    verify threshold must not change what survives the exact verify where
    banding is reliable (J>=0.7)."""
    got = _pairset(minhash_lsh.minhash_edges(
        *_mh(doc_sigs), CFG, threshold=CFG.jaccard_threshold,
        est_prefilter=0.35))
    exp = oracle.jaccard_pairs(corpus_texts, CFG.jaccard_threshold, CFG)
    assert got <= exp
    high = oracle.jaccard_pairs(corpus_texts, 0.7, CFG)
    recall_high = len(got & high) / len(high) if high else 1.0
    assert recall_high >= 0.99, f"est-prefilter recall@J>=0.7 {recall_high:.3f}"


def test_minhash_fast_accept_stratification(doc_sigs, corpus_texts):
    """fast_accept must only ADD pairs (est >= cutoff, skipping the exact
    verify) relative to the exact-verify edge set — never lose one."""
    kw = dict(cfg=CFG, threshold=CFG.jaccard_threshold, est_prefilter=0.37)
    base = minhash_lsh.minhash_edges(*_mh(doc_sigs), **kw)
    fast = minhash_lsh.minhash_edges(*_mh(doc_sigs), fast_accept=0.633, **kw)
    # exact mode has no flag column; fast-accept mode marks every row so
    # consumers can tell estimate-valued scores from exact ones (ADVICE r3)
    assert "estimated" not in base.columns
    assert "estimated" in fast.columns
    bs, fs = _pairset(base), _pairset(fast)
    assert bs <= fs, "stratified verify lost exact-verified pairs"
    flagged = {(r["a"], r["b"]) for r in
               fast.filter("estimated").select("a", "b").collect()}
    assert flagged >= (fs - bs), "un-flagged estimate row escaped"
    if fs - bs:
        extra = doc_sigs.sparkSession.createDataFrame(
            sorted(fs - bs), "a string, b string")
        est = minhash_lsh.signature_jaccard(extra, _mh(doc_sigs)[0])
        low = est.filter(F.col("est_jaccard") < 0.633).count()
        assert low == 0, "fast-accepted pair below the acceptance cutoff"


def test_jaccard_max_df_cap_equivalent_here(doc_sigs, corpus_texts):
    """df-capped candidate generation + full-set verify: identical results
    on data whose max shingle df is far below the cap (values are exact by
    construction; only recall could differ, and here it does not)."""
    capped = _pairset(jaccard.jaccard_all_pairs(
        doc_sigs.select("id", "shingles"), CFG,
        threshold=CFG.jaccard_threshold,
        max_df=CFG.max_bucket_size))
    exp = oracle.jaccard_pairs(corpus_texts, CFG.jaccard_threshold, CFG)
    assert capped == exp


def test_jaccard_max_df_cap_drops_only_boilerplate_pairs(spark):
    """Non-vacuous cap: three docs share only one 5-gram (df 3) and two
    others share a rare one (df 2).  Uncapped == the brute-force oracle;
    ``max_df=2`` drops exactly the three boilerplate-only pairs and keeps
    the rare pair with the same exact value."""
    boiler = "alpha beta gamma delta epsilon"
    texts = {"b1": boiler + " one", "b2": boiler + " two",
             "b3": boiler + " three",
             "r1": "zeta eta theta iota kappa lambda",
             "r2": "zeta eta theta iota kappa mu"}
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id string, text string")
    sets = jaccard.shingle_sets(docs, cfg=CFG).cache()

    def triples(max_df):
        got = jaccard.jaccard_all_pairs(sets, CFG, threshold=0.3,
                                        max_df=max_df)
        return {(r["a"], r["b"], r["jaccard"]) for r in got.collect()}

    uncapped, capped = triples(None), triples(2)
    assert {(a, b) for a, b, _ in uncapped} == oracle.jaccard_pairs(
        texts, 0.3, CFG)
    boiler_pairs = {("b1", "b2"), ("b1", "b3"), ("b2", "b3")}
    assert {(a, b) for a, b, _ in uncapped - capped} == boiler_pairs
    assert capped <= uncapped
    assert capped == {("r1", "r2", 1 / 3)}


def test_ivf_cosine_recall(spark):
    """IVF (second ANN index type): verify admits only true pairs; nprobe
    raises recall; nprobe=k_centroids degenerates to (clustered) full
    coverage of every pair sharing any probe list."""
    from webdedup.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact_pairs = _pairset(similarity.cosine_pairs(emb, threshold=0.3))
    recalls = {}
    for nprobe in (1, 2, 4):
        got = _pairset(similarity.ivf_cosine_pairs(
            emb, threshold=0.3, k_centroids=16, nprobe=nprobe))
        assert got <= exact_pairs
        recalls[nprobe] = len(got) / len(exact_pairs)
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    assert recalls[4] >= recalls[1]
    # with nprobe == k_centroids every vector probes every list -> the
    # candidate set is ALL pairs and recall must be exactly 1.0
    full = _pairset(similarity.ivf_cosine_pairs(
        emb, threshold=0.3, k_centroids=8, nprobe=8))
    assert full == exact_pairs


def test_minhash_collapse_identical_bit_identical(doc_sigs):
    """VERDICT r4 #4: collapse_identical pre-collapses identical-shingle-set
    docs before banding.  The fixture corpus plants exact duplicates (base/
    exact slots + the 40-clone boilerplate group), so the collapse engages;
    full row sets (ids AND values) must be bit-identical in BOTH the exact
    mode and the production fast-accept mode."""
    def rowset(frame):
        return {tuple(r) for r in frame.collect()}

    kw = dict(cfg=CFG, threshold=CFG.jaccard_threshold)
    base = minhash_lsh.minhash_edges(*_mh(doc_sigs), **kw)
    coll = minhash_lsh.minhash_edges(*_mh(doc_sigs), collapse_identical=True,
                                     **kw)
    assert base.columns == coll.columns
    b, c = rowset(base), rowset(coll)
    assert b == c, (len(b), len(c), list(b - c)[:3], list(c - b)[:3])
    assert b, "fixture must produce pairs (vacuous otherwise)"

    fkw = dict(est_prefilter=0.37, fast_accept=0.633, **kw)
    fbase = minhash_lsh.minhash_edges(*_mh(doc_sigs), **fkw)
    fcoll = minhash_lsh.minhash_edges(*_mh(doc_sigs), collapse_identical=True,
                                      **fkw)
    assert fbase.columns == fcoll.columns  # incl. the estimated flag
    fb, fc = rowset(fbase), rowset(fcoll)
    assert fb == fc, (len(fb), len(fc), list(fb - fc)[:3], list(fc - fb)[:3])
    # the collapse actually engaged: fewer docs survive to the rep level
    n_classes = (doc_sigs.select(F.xxhash64(F.array_sort("shingles")))
                 .distinct().count())
    assert n_classes < doc_sigs.count()


def test_simhash_confirm_jaccard_dial(docs, doc_sigs, corpus_texts):
    """SimHash precision dial (r5, motivated by the measured 250k chained
    component): confirmed edge set must equal {SimHash pairs} ∩ {exact
    Jaccard >= conf} per the local brute-force oracles, at a low conf that
    keeps everything here and a high conf that demonstrably drops the
    heavier-edited variants."""
    from webdedup.operators.jaccard import jaccard_verify

    sigs = doc_sigs
    pairs = simhash_lsh.simhash_pairs(docs, cfg=CFG)
    exp_sim = oracle.simhash_pairs(corpus_texts, CFG)
    assert _pairset(pairs) == exp_sim

    for conf in (0.3, 0.95):
        got = _pairset(jaccard_verify(
            pairs.select("a", "b"), sigs.select("id", "shingles"), conf))
        exp = exp_sim & oracle.jaccard_pairs(corpus_texts, conf, CFG)
        assert got == exp, (conf, len(got), len(exp))
    # non-vacuous: the high confirmation actually drops some true
    # Hamming<=threshold pairs whose token overlap is below 0.95
    dropped = exp_sim - oracle.jaccard_pairs(corpus_texts, 0.95, CFG)
    assert dropped, "fixture has no sub-0.95-Jaccard simhash pairs"
    # pipeline semantics: the dial filters the STAR-COLLAPSED edge list
    # (simhash_edges), so each surviving edge is individually confirmed;
    # an identical-fingerprint class re-splits by overlap with its rep
    e = simhash_lsh.simhash_edges(sigs.select("id", "simhash"), CFG)
    conf_edges = _pairset(jaccard_verify(
        e.select("a", "b"), sigs.select("id", "shingles"), 0.3))
    full = exp_sim & oracle.jaccard_pairs(corpus_texts, 0.3, CFG)
    assert conf_edges <= full, "confirmed edge admits an unconfirmed pair"


def test_simhash_confirm_est_mode_agreement(doc_sigs, corpus_texts):
    """'est' confirmation (signature-estimate, the near-free 10^12-doc
    mode): must agree with exact confirmation outside the estimator's
    noise band — every SimHash edge with exact J >= conf+margin is kept,
    every one with exact J < conf-margin is dropped (margin ≈ 3σ of the
    128-perm estimator).  Deterministic for the seeded perms, so this is
    a hard assertion, not a flaky probabilistic one."""
    sigs = doc_sigs
    e = simhash_lsh.simhash_edges(sigs.select("id", "simhash"), CFG)
    edge_set = _pairset(e)
    conf, margin = 0.3, 0.15
    est = minhash_lsh.signature_jaccard(
        e.select("a", "b"), sigs.select("id", "minhash"))
    kept = {(r["a"], r["b"]) for r in
            est.filter(F.col("est_jaccard") >= conf).collect()}
    high = oracle.jaccard_pairs(corpus_texts, conf + margin, CFG)
    above_floor = oracle.jaccard_pairs(corpus_texts, conf - margin, CFG)
    assert (edge_set & high) <= kept, "est dropped a clearly-above pair"
    assert not (kept - above_floor), "est kept a clearly-below pair"
    assert kept, "vacuous fixture"


def test_minhash_empty_docs_never_pair(spark):
    """r5 ADVICE: two empty/whitespace-only docs share the sentinel empty
    signature; before the fix the uncollapsed fast-accept path banded them
    together and accepted ('e1','e2', est 1.0) while the collapsed path
    excluded them — a silent mode divergence.  Now BOTH modes exclude
    empty-signature docs from banding entirely (matching exact-verify,
    where empty-vs-anything Jaccard is 0 or 0/0 -> dropped), so the two
    modes stay bit-identical on corpora containing empty docs and no
    empty doc ever appears in a pair."""
    rows = [("e1", ""), ("e2", "   \n\t "), ("e3", ""),
            ("a1", "the quick brown fox jumps over the lazy dog again and "
                   "again until the dog finally moves away from the gate"),
            ("a2", "the quick brown fox jumps over the lazy dog again and "
                   "again until the dog finally moves away from the door"),
            ("b1", "completely unrelated text about spark catalyst plans "
                   "and shuffle partitions in a distributed engine")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = all_signatures(docs, CFG).cache()

    def rowset(frame):
        return {tuple(r) for r in frame.collect()}

    for kw in (dict(),  # exact-verify mode
               dict(est_prefilter=0.2, fast_accept=0.6)):  # production mode
        base = minhash_lsh.minhash_edges(*_mh(sigs), CFG, threshold=0.3, **kw)
        coll = minhash_lsh.minhash_edges(
            *_mh(sigs), CFG, threshold=0.3, collapse_identical=True, **kw)
        b, c = rowset(base), rowset(coll)
        assert b == c, (kw, b ^ c)
        ids = {x for r in b for x in (r[0], r[1])}
        assert not ids & {"e1", "e2", "e3"}, (kw, ids)
        assert ("a1", "a2") in {(r[0], r[1]) for r in b}, kw


def test_minhash_precomputed_cands_identical(spark):
    """r7: ``minhash_edges(cands=...)`` — a precomputed banded candidate
    frame built over the RAW (unfiltered) signature table, as the entry's
    shared ``_mh_band_cands`` memo builds it — must produce the bit-identical
    pair set to the internal banding path, INCLUDING on a corpus with
    empty/whitespace docs (whose sentinel signatures band-collide in the raw
    frame but are anti-joined out; band collisions are pairwise, so no other
    pair is affected)."""
    rows = [("e1", ""), ("e2", "   \n\t "),
            ("a1", "the quick brown fox jumps over the lazy dog again and "
                   "again until the dog finally moves away from the gate"),
            ("a2", "the quick brown fox jumps over the lazy dog again and "
                   "again until the dog finally moves away from the door"),
            ("b1", "completely unrelated text about spark catalyst plans "
                   "and shuffle partitions in a distributed engine")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fused = all_signatures(docs, CFG, kinds=("minhash", "shingles")
                           ).localCheckpoint()
    sigs = fused.select("id", "minhash")
    sets = fused.select("id", "shingles")
    cands = simhash_lsh.band_candidates(
        minhash_lsh.minhash_bands(sigs, CFG))
    # raw frame must actually contain sentinel pairs for the test to bite
    assert ("e1", "e2") in _pairset(cands)
    base = minhash_lsh.minhash_edges(sigs, sets, CFG, threshold=0.3)
    pre = minhash_lsh.minhash_edges(sigs, sets, CFG, threshold=0.3,
                                    cands=cands)
    assert {tuple(r) for r in base.collect()} == \
           {tuple(r) for r in pre.collect()}
    assert ("a1", "a2") in _pairset(pre)
    ids = {x for r in pre.select("a", "b").collect() for x in r}
    assert not ids & {"e1", "e2"}
