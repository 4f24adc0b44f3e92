"""Verify surface 1: pipeline end-to-end vs local union-find oracle."""
import sys, tempfile, shutil
sys.path.insert(0, "/root/repo")
from collections import defaultdict
from webdedup.config import DEFAULT as CFG
from webdedup.session import get_spark
from webdedup.sources import corpus
from webdedup.plans import pipeline
from webdedup import oracle

def partitions(d):
    g = defaultdict(set)
    for k, v in d.items():
        g[v].add(k)
    return {frozenset(s) for s in g.values() if len(s) > 1}

spark = get_spark("verify", cores=8, shuffle_partitions=8)
rows = corpus.corpus_rows(42, 50)
pages = spark.createDataFrame(rows, schema=corpus.PAGE_KIND_SCHEMA) \
    .select("url", "warc_ts", "html", "text", "lang")
texts = {r["url"]: r["text"] for r in rows}
work = tempfile.mkdtemp(prefix="verify_")
try:
    truth = spark.createDataFrame(
        [(a, b) for a, b, _ in corpus.golden_pairs(42, 50)], "a string, b string")
    # default mode = exact minhash verify + SimHash est-confirmation at 0.3
    # (r6: the measured-free precision fix is the default): one run gives
    # both the recall gate / report shape AND bit-exact partition equality
    # vs the brute-force oracle WITH the same confirmation applied
    res = pipeline.run(pages, work, cfg=CFG, resume=False, truth_pairs=truth)
    rep = {r["metric"]: r["value"] for r in res.report.collect()}
    got = {r["id"]: r["cluster_id"] for r in res.assignments.collect()}
    # OFF switch keeps the reference's pure hash+threshold semantics
    work3 = tempfile.mkdtemp(prefix="verify_off_")
    try:
        res3 = pipeline.run(pages, work3, cfg=CFG, resume=False,
                            record_metrics=False,
                            simhash_confirm_jaccard=None)
        got_off = {r["id"]: r["cluster_id"]
                   for r in res3.assignments.collect()}
    finally:
        shutil.rmtree(work3, ignore_errors=True)
    # opt-in stratified fast-accept mode: recall-only gate (may ADD 3σ-tail
    # near-threshold pairs, never lose one)
    work2 = tempfile.mkdtemp(prefix="verify_fast_")
    try:
        res2 = pipeline.run(pages, work2, cfg=CFG, resume=False,
                            record_metrics=False, minhash_fast_accept="auto")
        got_fast = {r["id"]: r["cluster_id"] for r in res2.assignments.collect()}
    finally:
        shutil.rmtree(work2, ignore_errors=True)
    exp = oracle.union_find_clusters(
        sorted(texts), oracle.all_matcher_pairs(
            texts, CFG, simhash_confirm_jaccard=0.3))
    gp, ep = partitions(got), partitions(exp)
    print("partitions equal (confirmed default):", gp == ep)
    exp_off = oracle.union_find_clusters(
        sorted(texts), oracle.all_matcher_pairs(texts, CFG))
    gp_off, ep_off = partitions(got_off), partitions(exp_off)
    print("partitions equal (confirm off):", gp_off == ep_off)
    assert gp_off == ep_off, "OFF-SWITCH PARTITION MISMATCH"
    # fast-accept can only coarsen the partition (extra 3σ-tail edges merge
    # clusters; an exact-mode cluster can never be split apart)
    coarser = all(
        len({got_fast[m] for m in s}) == 1 for s in gp)
    print("fast-accept partition coarsens exact:", coarser)
    assert coarser, "fast-accept mode split an exact-mode cluster"
    print("report eval/recall:", rep.get("eval/recall"),
          "eval/precision:", rep.get("eval/precision"))
    print("peak_rss_mb:", rep.get("peak_rss_mb"), "jvm_heap_mb:", rep.get("jvm_heap_mb"))
    # degenerate docs probe
    import pyspark.sql.functions as F
    deg = spark.createDataFrame(
        [("u1", "",), ("u2", " "), ("u3", "tok")], "doc_id string, text string")
    from webdedup.operators import simhash_lsh, jaccard
    n = simhash_lsh.simhash_fingerprints(deg).count()
    j = jaccard.jaccard_all_pairs(
        jaccard.shingle_sets(deg, cfg=CFG), CFG, max_df=5).count()
    print("degenerate ok:", n == 3, "jac pairs:", j)
    assert gp == ep, "PARTITION MISMATCH"
    assert rep.get("eval/recall", 0) >= 0.99
    print("VERIFY SURFACE 1: PASS")
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
