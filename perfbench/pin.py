"""Pin the expected outputs the benchmark checks against.

    python3 perfbench/pin.py [--queries] [--batch-seeds 0-24]

``--queries``: for the normal and the smoke size of the fixed query_suite
tables, computes each headline query's (row count, content hash) with its
DuckDB twin and with Spark, and refuses to pin if the engines disagree.

``--batch-seeds A-B``: for each seed in A..B, at the normal and the smoke
size, runs the batch pipeline, requires planted recall to reach the gate,
and pins the digest of its (url, cluster_id) assignment.

Results are merged into ``pins.json`` beside this file.  Run it on a commit
whose outputs are known good.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def pin_queries(spark) -> dict:
    import __spark_entry__ as entry
    import inputs
    from workloads import (
        HEADLINE, QUERY_SEED, SIZES, pin_key, result_digest, twin_digests,
    )

    pins = {}
    for size in SIZES["query_suite"]:
        sf_dir = inputs.sf_tables(os.path.join(HERE, "_cache"), QUERY_SEED,
                                  size["docs"], size["vecs"])
        twin = twin_digests(sf_dir)
        qs = entry.queries()
        entry.reset_memo()
        for name in HEADLINE:
            df = qs[name](spark, sf_dir)
            got = result_digest(df.columns, [tuple(r) for r in df.collect()])
            if got != twin[name]:
                raise RuntimeError(f"{pin_key(size)} {name}: spark {got} != "
                                   f"twin {twin[name]}")
        pins[pin_key(size)] = twin
    return pins


def pin_batch(spark, seeds: range, work_root: str) -> dict:
    import inputs
    from workloads import (
        RECALL_GATE, SIZES, BatchPipeline, assignment_digest, batch_pin_key,
        planted_scores,
    )

    from webdedup.config import DEFAULT
    from webdedup.plans import pipeline
    from webdedup.sources.corpus import golden_pairs

    pins = {}
    for size in SIZES["batch_pipeline"]:
        for seed in seeds:
            pages = inputs.corpus_pages(os.path.join(HERE, "_cache"), seed,
                                        size["groups"])
            work = os.path.join(work_root, f"pin-{seed}")
            pipeline.run(spark.read.parquet(pages), work, cfg=DEFAULT,
                         resume=False, record_metrics=False)
            assign = BatchPipeline._assignment(work)
            shutil.rmtree(work)
            truth = {(a, b) for a, b, _ in golden_pairs(seed,
                                                        size["groups"])}
            recall = planted_scores(assign, truth)["recall"]
            if recall < RECALL_GATE:
                raise RuntimeError(f"seed {seed}: planted recall {recall}")
            pins[batch_pin_key(seed, size)] = assignment_digest(assign)
            print(f"seed {seed} {size}: recall {recall:.4f}", file=sys.stderr)
    return pins


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--queries", action="store_true")
    p.add_argument("--batch-seeds", default=None, help="A-B, inclusive")
    args = p.parse_args()

    from run import pin_env, start_session, stop_jvm
    from workloads import PINS

    run_dir = os.path.join(HERE, "_work", f"pin-{os.getpid()}")
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    pin_env(run_dir, cores)
    pins = {"query_suite": {}, "batch_pipeline": {}}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins.update(json.load(f))
    spark = start_session("pin", cores, None)
    try:
        if args.queries:
            pins["query_suite"] = pin_queries(spark)
        if args.batch_seeds:
            lo, hi = (int(x) for x in args.batch_seeds.split("-"))
            pins["batch_pipeline"].update(
                pin_batch(spark, range(lo, hi + 1), run_dir))
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PINS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
