"""End-to-end: the north_rule recall gate + checkpoint-resume + extraction
invariant + representative selection."""

from __future__ import annotations

import shutil
import tempfile
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from webdedup import oracle
from webdedup.config import DEFAULT as CFG
from webdedup.functions.extract import with_extracted_text
from webdedup.plans import checkpoint, metrics, pipeline
from webdedup.sources import corpus

N_GROUPS = 40  # matches conftest.corpus_rows


def _partitions(d: dict) -> set[frozenset]:
    g = defaultdict(set)
    for k, v in d.items():
        g[v].add(k)
    return {frozenset(s) for s in g.values() if len(s) > 1}


@pytest.fixture(scope="module")
def work_dir():
    d = tempfile.mkdtemp(prefix="webdedup_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def result(spark, pages, work_dir):
    truth = spark.createDataFrame(
        [(a, b) for a, b, _ in corpus.golden_pairs(CFG.seed, N_GROUPS)],
        "a string, b string")
    return pipeline.run(pages, work_dir, cfg=CFG, resume=True,
                        truth_pairs=truth)


def test_stage_tables_read_back_spread(spark, result, work_dir):
    """Every stage table holding at least ``par`` rows reads back with at
    least ``par`` = defaultParallelism partitions: ``checkpoint.write``
    writes ``par`` files and the scan keeps them apart, so the stages
    downstream of a read need no partition guard.  A scan that packed the
    small files into fewer partitions (PLANS.md §10) fails here."""
    par = spark.sparkContext.defaultParallelism
    checked = []
    for name, n_rows in result.stage_rows.items():
        if n_rows >= par:
            n = checkpoint.read(spark, work_dir, name).rdd.getNumPartitions()
            assert n >= par, (name, n_rows, n)
            checked.append(name)
    assert {"documents", "signatures", "assignments"} <= set(checked), \
        checked


def test_recall_gate(result, corpus_texts):
    """Dup-pair recall >= 0.99 vs the reference-semantics oracle (north_rule).
    In practice the pipeline reproduces the oracle partition exactly.  The
    oracle mirrors the pipeline's production default (SimHash est-mode
    Jaccard confirmation at 0.3 — the r5-measured precision fix, default
    since r6)."""
    got = {r["id"]: r["cluster_id"] for r in result.assignments.collect()}
    exp = oracle.union_find_clusters(
        sorted(corpus_texts), oracle.all_matcher_pairs(
            corpus_texts, CFG, simhash_confirm_jaccard=0.3))

    def pair_set(parts):
        out = set()
        for s in parts:
            ms = sorted(s)
            out.update((ms[i], ms[j]) for i in range(len(ms))
                       for j in range(i + 1, len(ms)))
        return out

    exp_pairs = pair_set(_partitions(exp))
    got_pairs = pair_set(_partitions(got))
    tp = len(exp_pairs & got_pairs)
    recall = tp / len(exp_pairs)
    precision = tp / len(got_pairs)
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.95, f"precision {precision:.4f}"


def test_resume_skips_and_reproduces(pages, work_dir, result):
    """Re-run with resume: stage tables are read back, same assignments."""
    r2 = pipeline.run(pages, work_dir, cfg=CFG, resume=True)
    a1 = sorted((r["id"], r["cluster_id"]) for r in result.assignments.collect())
    a2 = sorted((r["id"], r["cluster_id"]) for r in r2.assignments.collect())
    assert a1 == a2
    assert checkpoint.exists(work_dir, "assignments")


def test_resume_after_mid_stage_kill(pages):
    """A run killed BETWEEN stages (stage N committed its _SUCCESS, stage
    N+1 lost — and one stage dead mid-write: files present, no marker)
    must resume to value-identical final outputs, reusing the committed
    upstream stages as-is (north_rule: checkpoint-resumable restarts)."""
    import os

    d = tempfile.mkdtemp(prefix="webdedup_midkill_")
    try:
        r1 = pipeline.run(pages, d, cfg=CFG, resume=True,
                          record_metrics=False)
        snap1 = tuple(
            sorted(map(tuple, df.collect()))
            for df in (r1.assignments, r1.representatives, r1.cluster_sizes))
        # simulate the kill: everything after `signatures` is gone...
        for name in ("edges_exact", "edges_simhash", "edges_minhash",
                     "edges_substring", "assignments",
                     "representatives", "cluster_sizes"):
            shutil.rmtree(checkpoint.table_path(d, name), ignore_errors=True)
        # ...and edges_minhash died mid-write: data files but NO _SUCCESS
        junk = checkpoint.table_path(d, "edges_minhash")
        os.makedirs(junk)
        with open(os.path.join(junk, "part-00000-dead.parquet"), "wb") as f:
            f.write(b"not parquet")
        assert not checkpoint.exists(d, "edges_minhash")
        kept = {name: os.path.getmtime(
            os.path.join(checkpoint.table_path(d, name), "_SUCCESS"))
            for name in ("documents", "signatures")}
        r2 = pipeline.run(pages, d, cfg=CFG, resume=True,
                          record_metrics=False)
        snap2 = tuple(
            sorted(map(tuple, df.collect()))
            for df in (r2.assignments, r2.representatives, r2.cluster_sizes))
        assert snap2 == snap1
        for name, t in kept.items():  # committed stages were reused, not rebuilt
            assert os.path.getmtime(os.path.join(
                checkpoint.table_path(d, name), "_SUCCESS")) == t, name
        assert checkpoint.exists(d, "edges_minhash")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_representatives_deterministic(result):
    reps = {r["cluster_id"]: r["representative_id"]
            for r in result.representatives.collect()}
    sizes = {r["cluster_id"]: r["n_members"]
             for r in result.cluster_sizes.collect()}
    assert set(reps) == set(sizes)
    assert all(n >= 1 for n in sizes.values())


def test_pipeline_recall_tokmix(spark, pages):
    """Production hash scheme (VERDICT r3 #3): with hash_scheme='tokmix'
    (per-token md5 + vectorized window mix, no per-shingle md5) the golden
    recall gate must still hold, and the signature stage must be
    deterministic (partition-layout independent)."""
    from dataclasses import replace

    from webdedup.functions.signatures import all_signatures

    cfg = replace(CFG, hash_scheme="tokmix")
    d = tempfile.mkdtemp(prefix="webdedup_tokmix_")
    try:
        truth = spark.createDataFrame(
            [(a, b) for a, b, _ in corpus.golden_pairs(CFG.seed, N_GROUPS)],
            "a string, b string")
        res = pipeline.run(pages, d, cfg=cfg, resume=False, truth_pairs=truth)
        rep = {r["metric"]: r["value"] for r in res.report.collect()}
        assert rep["eval/recall"] >= 0.99, rep["eval/recall"]
        assert rep["eval/precision"] >= 0.95, rep["eval/precision"]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    docs = with_extracted_text(pages.select("url", "html")) \
        .select(F.col("url").alias("doc_id"), "text").limit(40)
    s1 = sorted(map(tuple, all_signatures(docs, cfg=cfg).collect()))
    s2 = sorted(map(tuple,
                    all_signatures(docs.repartition(7), cfg=cfg).collect()))
    assert s1 == s2


def test_extraction_invariant(pages):
    """Byte-identical extracted text per url (input_hint) — rerun twice."""
    ext1 = with_extracted_text(
        pages.select("url", "html"), out_col="t1")
    ext2 = with_extracted_text(
        pages.select("url", "html").repartition(13), out_col="t2")
    j = (ext1.join(ext2, "url")
         .join(pages.select("url", "text"), "url"))
    bad = j.filter(
        (F.col("t1") != F.col("t2")) | (F.col("t1") != F.col("text"))).count()
    assert bad == 0


def test_report_table(result):
    """The evaluation_full.json analog: timings + memory + golden eval in
    one long-form stage table (reference run_pipeline.py:504-505)."""
    rep = {r["metric"]: r["value"] for r in result.report.collect()}
    assert rep["eval/recall"] >= 0.99
    assert rep["eval/precision"] >= 0.95
    assert rep["eval/f1"] > 0
    assert any(k.startswith("wall_sec/") for k in rep)
    assert rep["rows/assignments"] > 0
    assert rep["peak_rss_mb"] > 0 and rep["jvm_heap_mb"] > 0


def test_stage_metrics_record_memory(spark, work_dir, result):
    """A9 parity: every stage-metrics row carries peak-memory samples."""
    m = metrics.read_stage_metrics(spark, work_dir)
    assert {"peak_rss_mb", "jvm_heap_mb"} <= set(m.columns)
    bad = m.filter((F.col("peak_rss_mb") <= 0) | (F.col("jvm_heap_mb") <= 0))
    assert bad.count() == 0
    assert m.count() > 0


def test_boilerplate_hot_group_clustered(result):
    """The 40-page boilerplate group must form one cluster (hot-bucket path)."""
    boiler = result.assignments.filter(
        F.col("id").startswith("https://example.org/g000000/"))
    n_clusters = boiler.select("cluster_id").distinct().count()
    assert n_clusters == 1


def test_pipeline_simhash_confirm_keeps_recall(spark, pages):
    """The SimHash precision dial (r5), set explicitly on a fresh run, must
    keep the golden recall gate: the planted near-dup variants (1-2 token
    edits, J ~0.9) clear a 0.3 signature-estimate confirmation, so only
    fingerprint collisions can be removed."""
    truth = spark.createDataFrame(
        [(a, b) for a, b, _ in corpus.golden_pairs(CFG.seed, N_GROUPS)],
        "a string, b string")
    d = tempfile.mkdtemp(prefix="webdedup_confirm_")
    try:
        res = pipeline.run(pages, d, cfg=CFG, resume=False,
                           record_metrics=False, truth_pairs=truth,
                           simhash_confirm_jaccard=0.3)
        rep = {r["metric"]: r["value"] for r in res.report.collect()}
        assert rep["eval/recall"] >= 0.99, rep["eval/recall"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_partition_guard_threshold(spark):
    """ensure_min_partitions repartitions to ``n`` only when the frame has
    fewer than ``below`` (default ``n``) partitions — the signature pass
    guards with ``below`` = cores, so a frame already spread over the
    cores (a guarded pipeline stage table) is not reshuffled."""
    from webdedup.plans.partitions import ensure_min_partitions

    df = spark.range(0, 100, numPartitions=3)
    assert ensure_min_partitions(df, 6).rdd.getNumPartitions() == 6
    assert ensure_min_partitions(df, 6, below=3) is df
    assert ensure_min_partitions(df, 6, below=4).rdd.getNumPartitions() == 6
    assert ensure_min_partitions(df, 2) is df
