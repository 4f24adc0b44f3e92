"""The end-to-end dedup pipeline: extract -> sign -> match -> cluster ->
represent -> evaluate, with checkpoint-resume and metrics at every stage.

This is the graft of the reference's ``run_pipeline.py main()`` (SURVEY §3.1)
— each numbered stage there maps to a named stage table here.  Run it via
``spark-submit --py-files webdedup.zip driver.py`` on a cluster or through
``run()`` locally.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.extract import with_extracted_text
from webdedup.operators import exact, minhash_lsh, simhash_lsh, substring
from webdedup.operators.components import connected_components
from webdedup.operators.represent import cluster_sizes, representatives
from webdedup.plans import checkpoint, metrics


@dataclass
class PipelineResult:
    assignments: DataFrame
    representatives: DataFrame
    cluster_sizes: DataFrame
    stage_seconds: dict[str, float] = field(default_factory=dict)
    stage_rows: dict[str, int] = field(default_factory=dict)
    report: DataFrame | None = None


def run(
    pages: DataFrame,
    work_dir: str,
    cfg: DedupConfig = DEFAULT,
    resume: bool = True,
    matchers: tuple[str, ...] = ("exact", "simhash", "minhash", "substring"),
    id_col: str = "url",
    record_metrics: bool = True,
    truth_pairs: DataFrame | None = None,
    minhash_fast_accept: float | None | str = None,
    simhash_confirm_jaccard: float | None = 0.3,
) -> PipelineResult:
    """pages: web_pages-shaped input (url, warc_ts, html[, text], lang).

    If a ``text`` column is absent it is produced by the extraction UDF
    (stage ``documents``).  Every stage is materialized as a parquet stage
    table in ``work_dir``; with ``resume=True`` completed stages are read
    back instead of recomputed (checkpoint-resumable restarts, north_rule).

    ``truth_pairs``: optional golden (a, b) url pair frame; when given, the
    final ``report`` stage table includes pairwise precision/recall/f1 of
    the clustering against it — the analog of the reference's
    ``evaluation_full.json`` (``run_pipeline.py:504-505``).

    ``minhash_fast_accept``: ``None`` (default) = exact-verify edges,
    bit-identical to the brute-force matcher union (what
    ``tools/verify_drive.py`` asserts).  OPT-IN ``'auto'`` accepts MinHash
    candidates whose signature-estimate Jaccard is >= threshold + 3σ
    without the exact verify (measured: ~95% of candidates on the
    near-dup corpus, verify stage 22.5s -> 7.6s at 4 cores); recall is
    unaffected (the gate stays pytest-covered), precision admits ~3σ-tail
    near-threshold pairs, and the edge frame's ``jaccard`` column then
    mixes estimates with exact values — flagged per row by the
    ``estimated`` boolean ``minhash_edges`` adds in this mode.  Opt in only
    when the exact verify is the measured bottleneck and the consumer
    tolerates estimate-valued scores.

    ``simhash_confirm_jaccard``: precision dial for the SimHash matcher,
    ON by default at 0.3 (r5 measured it at 250k: precision 0.027 -> 1.0,
    recall 1.0, zero stage cost — VERDICT r5 #2 flipped it to the
    default).  64-bit SimHash over stopword-heavy bags pulls UNRELATED
    short/low-entropy docs within the Hamming threshold (the measured
    250k mega-cluster: 2,900 cross-group Hamming<=5 edges chain a
    4,748-member component, BENCH.md r5 — the known precision floor that
    makes Manku et al. run h=3 at web scale).  When set, every SimHash
    edge must ALSO clear Jaccard >= this value.  Planted near-dup variants
    are 1-2 token edits with Jaccard ~0.9, so a low confirmation (0.2-0.3)
    removes the stopword-mass collisions without touching real dups.  The
    filter applies to the STAR-COLLAPSED edge list ``simhash_edges`` emits
    (every surviving edge is individually Hamming-AND-Jaccard verified);
    an identical-fingerprint class therefore re-splits by each member's
    overlap with the class representative — which is the point: identical
    fingerprints over different token sets ARE the collision being
    removed.  ``None`` is the OFF switch: the reference's pure
    hash+threshold semantics, which every oracle row checks (the local
    oracle mirrors both settings —
    ``oracle.all_matcher_pairs(simhash_confirm_jaccard=...)``).

    The confirmation scores each edge with the 128-perm SIGNATURE estimate
    (the Arrow ``signature_jaccard`` kernel over the already-materialized
    minhash column — the same re-rank metric as
    ``minhash_search.py:81-83``): unbiased, σ = sqrt(J(1-J)/128) ≈ 0.04,
    so collisions (J ≲ 0.1) and real near-dup edits (J ≳ 0.5) are both
    >3σ from a 0.3 cutoff — deterministic per corpus, near-free, and the
    right choice at 10^12 docs where an exact confirm would re-shuffle
    every edge endpoint's shingle set.
    """
    spark = pages.sparkSession
    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    par = spark.sparkContext.defaultParallelism

    def stage(name: str, build) -> DataFrame:
        t0 = time.time()
        was_done = checkpoint.exists(work_dir, name)
        if not (resume and was_done):
            checkpoint.write(build(), work_dir, name, partitions=par)
        # either way downstream stages read a stable, shuffle-free scan of
        # the stage table instead of recomputing lineage.  A table of at
        # least `par` rows is written as `par` files and reads back as `par`
        # partitions (pytest-pinned), so however far AQE coalesced the
        # shuffle that built it, the stages downstream start spread out
        df = checkpoint.read(spark, work_dir, name)
        n = checkpoint.row_count(work_dir, name)  # footer metadata, no job
        dt = time.time() - t0
        times[name], rows[name] = dt, n
        if record_metrics and not (resume and was_done):
            metrics.append_stage_metrics(spark, work_dir, name, n, dt)
            metrics.append_partition_lineage(df, work_dir, name)
        return df

    # 1. extract (reference stage: image decode + feature extract).
    # Keys: a compact 64-bit surrogate id (xxhash64 of the url) travels
    # through every matcher/join/CC instead of the url string — integer
    # shuffle keys are ~5x narrower and hash/compare faster.  At true
    # 10^12-doc scale a 64-bit hash key needs collision handling (use a
    # 128-bit pair or warehouse-assigned identity ids); at bench scale the
    # collision probability is ~1e-10.
    if "text" in pages.columns:
        docs0 = pages.select(F.col(id_col).alias("url"), "text")
    else:
        docs0 = with_extracted_text(pages, extractor=cfg.extractor).select(
            F.col(id_col).alias("url"), "text")
    docs = stage(
        "documents",
        lambda: docs0.withColumn("doc_id", F.xxhash64("url"))
        .select("doc_id", "url", "text"),
    )

    # 2. ONE fused signature stage table (reference: features .npy / index
    # files).  Materializing signatures FIRST keeps the Arrow-UDF subtrees
    # out of the LSH self-join plans (Spark does not cache common subplans,
    # and AQE defeats exchange reuse); FUSING all four signature kinds into
    # one mapInPandas pass tokenizes each doc once and shares md5 digests
    # between shingle and MinHash hashes — one stage floor instead of four.
    edge_frames: list[DataFrame] = []
    need_sigs = {"simhash", "minhash", "substring"} & set(matchers)
    if need_sigs:
        from webdedup.functions.signatures import all_signatures
        sigs = stage("signatures", lambda: all_signatures(docs, cfg=cfg))
    if "exact" in matchers:
        edge_frames.append(stage(
            "edges_exact",
            lambda: exact.exact_dup_edges(docs).select(
                F.col("src").alias("u"), F.col("dst").alias("v")),
        ))
    if "simhash" in matchers:
        def _sim():
            e = simhash_lsh.simhash_edges(sigs.select("id", "simhash"), cfg)
            if simhash_confirm_jaccard is not None:
                # empty-token docs carry the sentinel signature and would
                # est-score 1.0 against each other (r6 ADVICE: e.g. "" vs
                # "  " — NOT exact dups, both tokenize to nothing; their
                # exact Jaccard is 0/0 -> 0): drop their pairs before scoring
                mh = sigs.select("id", "minhash")
                e = minhash_lsh.signature_jaccard(
                    minhash_lsh.without_empty_docs(e.select("a", "b"), mh), mh
                ).filter(F.col("est_jaccard") >= simhash_confirm_jaccard)
            return e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        edge_frames.append(stage("edges_simhash", _sim))
    if "minhash" in matchers:
        def _min():
            # stratified verify around the signature estimate
            # (minhash_search.py:81-83, Arrow ``signature_jaccard`` kernel).
            # σ = sqrt(t(1-t)/perms) ≈ 0.044:
            # - est < t-3σ        -> discarded (prefilter; false discard of
            #   a true >=t pair is a 3σ event, recall gate pytest-covered)
            # - est >= t+3σ       -> accepted without exact verify (false
            #   accept is a 3σ event; deterministic per corpus)
            # - otherwise         -> exact shingle verify, now paid
            #   only by the uncertainty band instead of every candidate
            sigma = (cfg.jaccard_threshold
                     * (1 - cfg.jaccard_threshold) / cfg.minhash_perms) ** 0.5
            est_cut = max(0.0, cfg.jaccard_threshold - 3 * sigma)
            fast_cut = (min(1.0, cfg.jaccard_threshold + 3 * sigma)
                        if minhash_fast_accept == "auto"
                        else minhash_fast_accept)
            e = minhash_lsh.minhash_edges(
                sigs.select("id", "minhash"), sigs.select("id", "shingles"),
                cfg, threshold=cfg.jaccard_threshold,
                est_prefilter=est_cut, fast_accept=fast_cut,
                # bit-identical (pytest-pinned); exact-dup cliques skip
                # banding/verify and expand from one representative
                collapse_identical=True)
            return e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        edge_frames.append(stage("edges_minhash", _min))
    if "substring" in matchers:
        edge_frames.append(stage(
            "edges_substring",
            lambda: substring.substring_pairs(
                sigs.select("id", F.explode("anchors").alias("anchor")),
                min_anchors=2, max_df=cfg.max_bucket_size,
            ).select(F.col("a").alias("u"), F.col("b").alias("v")),
        ))

    # 3. union + connected components (reference: union-find clustering).
    # Node/cluster ids are the compact longs; the url mapping is re-joined
    # only at the edge of the pipeline for human-facing outputs.
    def _cc():
        edges = edge_frames[0]
        for e in edge_frames[1:]:
            edges = edges.unionByName(e)
        assign = connected_components(
            edges, nodes=docs.select("doc_id"), cfg=cfg)
        return (assign.join(docs.select("doc_id", "url"),
                            assign["id"] == F.col("doc_id"))
                .select(F.col("url").alias("id"), "doc_id", "cluster_id"))
    assignments = stage("assignments", _cc)

    # 4. representatives + cluster stats (reference: choose_representatives)
    docs_scored = docs.select("doc_id", F.length("text").alias("n_chars"))
    reps = stage(
        "representatives",
        lambda: representatives(
            assignments.select(F.col("doc_id").alias("id"), "cluster_id"),
            docs_scored, id_col="doc_id", score_col="n_chars"))
    sizes = stage("cluster_sizes", lambda: cluster_sizes(
        assignments.select(F.col("doc_id").alias("id"), "cluster_id")))

    # 5. evaluation report (reference: evaluator.py:68-83 ->
    # evaluation_full.json): one long-form (metric, value) table combining
    # stage timings/rows with pairwise eval when ground truth is supplied.
    # Skipped entirely when metrics are off and no truth is given (bench
    # timing runs measure the dedup work, not optional reporting).
    def _report():
        kv = [(f"wall_sec/{k}", float(v)) for k, v in times.items()]
        kv += [(f"rows/{k}", float(v)) for k, v in rows.items()]
        py_mb, jvm_mb = metrics.peak_memory_mb(spark)
        kv += [("peak_rss_mb", py_mb), ("jvm_heap_mb", jvm_mb)]
        if truth_pairs is not None:
            from webdedup.operators.evaluate import (
                cluster_pairs, pairwise_metrics,
            )
            pred = cluster_pairs(assignments.select("cluster_id", "id"))
            m = pairwise_metrics(pred, truth_pairs)
            kv += [(f"eval/{k}", float(v)) for k, v in m.items()]
        return spark.createDataFrame(kv, "metric string, value double")

    report = (stage("report", _report)
              if (record_metrics or truth_pairs is not None) else None)

    return PipelineResult(assignments, reps, sizes, times, rows, report)
