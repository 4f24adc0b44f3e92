"""Scale-up evidence run: the full 4-matcher pipeline + CC on the 250k-doc
corpus (5.5x the recorded 45k bench corpus), per-stage wall times.

Purpose: show that the per-stage job floors (~0.3-0.5s/stage on this host)
amortize as the input grows — docs/s at 250k should meet or beat the 45k
run's at the same core count, evidencing that recorded small-corpus numbers
are floor-bound, not throughput-bound.  Results land in BENCH.md.

Usage:  python tools/bench_scaleup.py [cores] [corpus_dir] [--production]
                                      [--recall] [--no-confirm]
Prints one JSON line: {"docs": N, "cores": C, "total_sec": T,
"docs_per_sec": R, "stages": {...}}.

``--production`` runs the documented production dials — hash_scheme=
'tokmix' + minhash_fast_accept='auto' — instead of the oracle-exact
defaults; the mode is recorded in the JSON.

``--no-confirm`` turns the SimHash Jaccard confirmation off (the pure
hash+threshold semantics); by default the run keeps the pipeline's
est-mode confirm at 0.3.  The JSON keeps the ``simhash_confirm_mode`` key
("est", or null when the confirmation is off) so rows stay comparable with
the older BENCH.md rows.

``--recall`` (VERDICT r4 #2) additionally scores planted dup-pair recall:
the bench corpus is ``corpus_df(seed=42, ...)`` whose groups plant
base/exact/simhash/minhash/substring variants, so ground truth is every
intra-group pair over non-singleton members — regenerated DISTRIBUTED
with ``with_labels=True`` (the driver-side ``golden_pairs`` would take
~6 min at 55k groups), keyed by url, and checked to cover the corpus
exactly.  Recall = fraction of planted pairs whose members land in the
same predicted cluster (cluster co-membership — transitively closed, as
the north rule's "matching cluster assignments" asks).  Scored AFTER the
timed window so throughput numbers are undistorted; the north-rule gate
is recall >= 0.99 per config.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    cores = int(args[0]) if args else 4
    corpus = (args[1] if len(args) > 1
              else "/root/repo/.cache/bench_corpus_250k.parquet")

    from webdedup.config import DEFAULT as CFG
    from webdedup.plans import pipeline
    from webdedup.session import get_spark

    # Shuffle partitions must track DATA VOLUME, not just cores: the r6 1M
    # run at 8 partitions sorted ~5M-row partitions per task (spill).  A
    # real cluster gets this from AQE's initialPartitionNum; here the env
    # override sizes the artifact runs (32 for the 1M corpus).
    shuffle = int(os.environ.get("WEBDEDUP_SCALEUP_SHUFFLE",
                                 str(max(cores * 2, 8))))
    spark = get_spark(f"webdedup-scaleup-{cores}", cores=cores,
                      shuffle_partitions=shuffle)
    work = tempfile.mkdtemp(
        prefix=f"webdedup_scaleup_{cores}_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    production = "--production" in sys.argv
    if production:
        from dataclasses import replace
        cfg = replace(CFG, hash_scheme="tokmix")
        fast = "auto"
    else:
        cfg, fast = CFG, None
    # r7 banding presets (README table): --bands 16x8 etc. — measures the
    # quadratic-candidate term of edges_minhash under a different b x r
    # split at fixed 128 perms; the recall gate stays the acceptance bar
    bands_arg = [a for a in sys.argv[1:] if a.startswith("--bands")]
    if bands_arg:
        from dataclasses import replace
        b, r = (int(x) for x in
                bands_arg[0].split("=", 1)[1].lower().split("x"))
        cfg = replace(cfg, minhash_bands=b, minhash_rows=r)
    for w in cfg.banding_warnings(n_docs=250_000):
        print(f"# banding_warnings: {w}", file=sys.stderr)
    # SimHash precision confirmation (see pipeline.run docstring): this
    # tool rides the pipeline default of 0.3; --no-confirm restores the
    # pure hash+threshold semantics.
    confirm = None if "--no-confirm" in sys.argv else 0.3
    try:
        pages = spark.read.parquet(corpus)
        n_docs = pages.count()
        t0 = time.time()
        res = pipeline.run(pages, work, cfg=cfg, resume=False,
                           record_metrics=False, minhash_fast_accept=fast,
                           simhash_confirm_jaccard=confirm)
        res.assignments.count()
        total = time.time() - t0
        out = {
            "docs": n_docs,
            "cores": cores,
            "mode": "production" if production else "default",
            "minhash_bands_rows": [cfg.minhash_bands, cfg.minhash_rows],
            "simhash_confirm_jaccard": confirm,
            "simhash_confirm_mode": "est" if confirm else None,
            "total_sec": round(total, 1),
            "docs_per_sec": round(n_docs / total, 1),
            "stages": {k: round(v, 2) for k, v in res.stage_seconds.items()},
            "stage_rows": dict(res.stage_rows),
        }
        if "--recall" in sys.argv:
            from pyspark.sql import functions as F

            from webdedup.operators.evaluate import (
                metrics_frame, cluster_pairs,
            )
            from webdedup.sources.corpus import corpus_df

            t1 = time.time()
            n_groups = int(pages.select(F.max(
                F.regexp_extract("url", r"g(\d+)/", 1).cast("long"))
            ).first()[0]) + 1
            labeled = corpus_df(spark, 42, n_groups, with_labels=True,
                                partitions=max(cores * 4, 16)) \
                .select("url", "group_id", "kind") \
                .localCheckpoint(eager=True)
            # the regenerated labels must cover the bench corpus exactly —
            # a seed/group mismatch would silently score garbage
            n_lab = labeled.count()
            assert n_lab == n_docs, (n_lab, n_docs)
            members = labeled.filter(F.col("kind") != "singleton")
            truth = (members.select("group_id", F.col("url").alias("a"))
                     .join(members.select("group_id",
                                          F.col("url").alias("b")),
                           "group_id")
                     .filter(F.col("a") < F.col("b")).select("a", "b"))
            pred = cluster_pairs(
                res.assignments.select("cluster_id", "id"))
            m = metrics_frame(pred, truth).first()
            # cluster-size tail: single-link transitive closure can chain
            # legitimately-verified pairs into large components (on this
            # synthetic corpus, stopword-heavy 620-token-vocab texts make
            # cross-group anchor/shingle collisions a birthday effect at
            # 55k groups); the tail explains precision_vs_planted, which
            # is NOT the north-rule gate (recall is)
            sz = res.cluster_sizes.agg(
                F.max("n_members").alias("mx"),
                F.sum(F.col("n_members") * (F.col("n_members") - 1) / 2)
                .alias("co_pairs")).first()
            out["planted"] = {
                "n_groups": n_groups,
                "truth_pairs": m["tp"] + m["fn"],
                "recall": float(m["recall"]),
                "precision_vs_planted": float(m["precision"]),
                "max_cluster": int(sz["mx"]),
                "co_member_pairs": int(sz["co_pairs"]),
                "eval_sec": round(time.time() - t1, 1),
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
