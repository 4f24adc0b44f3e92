"""spark-submit entry point for the dedup pipeline (north_rule launch shape).

Cluster:
    zip -r webdedup.zip webdedup
    spark-submit --py-files webdedup.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.adaptive.advisoryPartitionSizeInBytes=8m \
        driver.py --input <pages_table_or_path> --work-dir <dir> [--resume]

Local smoke:
    python driver.py --input /root/repo/.cache/bench_corpus_10000.parquet \
        --work-dir /tmp/webdedup_run --cores 8

The config surface mirrors the reference CLI (``run_pipeline.py:224-297``):
method selection -> --matchers; thresholds/seed -> DedupConfig; the SimHash
precision dial -> --simhash-confirm-jaccard.  How a matcher finds its
candidates is not a setting: SimHash always bands with the 56 block
combinations and confirms with the signature-estimate Jaccard (see
``plans.pipeline.run``).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="webdedup pipeline driver")
    p.add_argument("--input", required=True,
                   help="parquet path (or table) of web_pages-shaped input")
    p.add_argument("--work-dir", required=True,
                   help="stage-table directory (checkpoint/resume root)")
    p.add_argument("--matchers", default="exact,simhash,minhash,substring")
    p.add_argument("--id-col", default="url")
    p.add_argument("--resume", action="store_true",
                   help="skip stages whose tables already exist")
    p.add_argument("--cores", type=int, default=None,
                   help="local mode cores (omit under spark-submit)")
    p.add_argument("--hamming-threshold", type=int, default=None)
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--simhash-confirm-jaccard", type=float, default=0.3,
                   help="SimHash precision dial (pipeline default 0.3); "
                        "pass a negative value to disable (pure "
                        "hash+threshold semantics)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from dataclasses import replace

    from pyspark.sql import SparkSession

    from webdedup.config import DEFAULT
    from webdedup.plans import pipeline

    cfg = DEFAULT
    overrides = {}
    if args.hamming_threshold is not None:
        overrides["hamming_threshold"] = args.hamming_threshold
    if args.jaccard_threshold is not None:
        overrides["jaccard_threshold"] = args.jaccard_threshold
    if args.seed is not None:
        overrides["seed"] = args.seed
    if overrides:
        cfg = replace(cfg, **overrides)

    if args.cores:
        from webdedup.session import get_spark
        spark = get_spark("webdedup-driver", cores=args.cores)
    else:  # under spark-submit the cluster manager provides the session conf
        spark = SparkSession.builder.appName("webdedup-driver").getOrCreate()

    pages = spark.read.parquet(args.input)
    confirm = (None if args.simhash_confirm_jaccard is not None
               and args.simhash_confirm_jaccard < 0
               else args.simhash_confirm_jaccard)
    result = pipeline.run(
        pages, args.work_dir, cfg=cfg, resume=args.resume,
        matchers=tuple(args.matchers.split(",")),
        id_col=args.id_col, simhash_confirm_jaccard=confirm,
    )
    summary = {
        "n_docs": result.stage_rows.get("documents"),
        "n_clusters": result.cluster_sizes.count(),
        "stage_seconds": {k: round(v, 2)
                          for k, v in result.stage_seconds.items()},
        "stage_rows": result.stage_rows,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
