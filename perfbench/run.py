"""webdedup benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the ``end_to_end`` list of BENCHMARK.json,
with ``--trace 1`` its ``per_layer`` list.  Everything else goes to
standard error.  ``--smoke`` runs a seconds-long input size (tests).

A run sets up the Spark session, warm-up pass and inputs ``SETUP_REPS``
times (``setup_s`` is the median), then runs the workload until
``--seconds`` have passed, then checks the outputs outside the timed
window.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# holds the benchmark's inputs many times over and leaves room for other
# processes; the program's own default (32g) is sized for large inputs
DRIVER_MEM = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def pin_env(run_dir: str, cores: int) -> None:
    """Fix the knobs the program reads from the environment.  Python
    workers inherit this environment, so they import ``webdedup`` from the
    checkout whatever their working directory."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["WEBDEDUP_DRIVER_MEM"] = DRIVER_MEM
    os.environ["WEBDEDUP_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # temporary files (the gateway's connection file, the JVM's) stay in
    # the run directory too
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp


def start_session(name: str, cores: int, log_dir: str | None):
    from spans import event_log_conf

    from webdedup.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the serial collector grows the heap with what the program keeps
        # live, not with pause timings, so the JVM's resident size repeats
        # from run to run (README.md, "Design choices")
        "spark.driver.extraJavaOptions":
            "-XX:+UseSerialGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(event_log_conf(log_dir))
    spark = get_spark(f"perfbench-{name}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up pass, unrelated to any workload's own work: starts the Python
    # workers, Arrow and the program's UDF module in them, and runs a
    # parquet write and read, a shuffle, an aggregate and a join, so that
    # the JVM has compiled the engine's common paths before a unit starts.
    # Nested, so it is pickled by value: workers cannot import this file.
    def identity(batches):
        import webdedup.functions.signatures  # noqa: F401
        yield from batches

    spark.range(1000).repartition(cores).mapInPandas(
        identity, "id long").count()
    path = os.path.join(os.environ["TMPDIR"], "warm-up.parquet")
    spark.range(20000).selectExpr("id", "id % 101 AS k",
                                  "cast(id AS string) AS s") \
        .write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)
    t.groupBy("k").agg({"s": "max", "id": "count"}) \
        .join(t.select("k", "id"), "k").count()
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from spans import tree_pids

    spark.stop()
    before = tree_pids(os.getpid()) - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits at end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in before):
            return
        time.sleep(0.1)
    raise RuntimeError("Spark processes still running after shutdown")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args: argparse.Namespace, run_dir: str) -> dict:
    import spans
    from workloads import SIZES, WORKLOADS, Ctx

    spec = load_spec()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    pin_env(run_dir, cores)
    tracer = spans.Tracer(enabled=bool(args.trace))
    ctx = Ctx(work=os.path.join(run_dir, "work"),
              cache=os.path.join(HERE, "_cache"), seed=args.seed,
              size=SIZES[args.workload][1 if args.smoke else 0],
              tracer=tracer)
    os.makedirs(ctx.work)
    os.makedirs(ctx.cache, exist_ok=True)
    w = WORKLOADS[args.workload](ctx)

    spark = None
    log_dir = None
    setup_s: list[float] = []
    try:
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            if args.trace:
                log_dir = os.path.join(run_dir, f"events-{i}")
            spark = start_session(args.workload, cores, log_dir)
            w.setup(spark)
            setup_s.append(time.perf_counter() - t0)
        print(f"# setup_s {[round(s, 3) for s in setup_s]}", file=sys.stderr)

        tracer.sc = spark.sparkContext
        # memory is sampled only while the workload runs: set-up and the
        # checks are the benchmark's own work
        with spans.TreeRssSampler() as rss:
            t_start = time.time()
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline:
                n = len(w.ops)
                w.run_once()
                if len(w.ops) == n:  # nothing left to process
                    break
            t_end = time.time()
        print(f"# measured {t_end - t_start:.2f} s", file=sys.stderr)

        checks = w.check()
        for c in checks:
            print(f"# check {c.name}: {'ok' if c.ok else 'FAILED'} "
                  f"{c.detail}", file=sys.stderr)
        layers = None
        if args.trace:
            recall, precision = w.quality()
            spark.stop()  # flushes the event log
            spark = start_session(args.workload, cores, None)
            w.spark = spark
            layers = trace_layers(w, spans.read_event_log(log_dir),
                                  t_start, t_end, cores)
            layers["check.ref_recall"] = recall
            layers["check.ref_precision"] = precision
    finally:
        if spark is not None:
            stop_jvm(spark)

    ops = w.ops
    attempted = len(ops) + len(checks)
    failed = sum(o.failed for o in ops) + sum(not c.ok for c in checks)
    good = [o.seconds for o in ops if not o.failed]
    op_p50 = statistics.median(good) if good else 0.0
    if args.trace:
        layers["trace.op_p50_s"] = op_p50
        values, wanted = layers, spec["per_layer"]
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "peak_rss_mb": rss.peak_mb,
            "ok_op_share": 1.0 - failed / attempted if attempted else 0.0,
            "op_p50_s": op_p50,
        }
        wanted = spec["end_to_end"]
    names = {m["name"] for m in wanted}
    extra = set(values) - names
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {extra}")
    print("# peak rss by command: " + ", ".join(
        f"{c} x{n} {b / 2**20:.0f} MB"
        for c, (n, b) in sorted(rss.peak_by_command.items())),
        file=sys.stderr)
    print(f"# {args.workload}: {len(ops)} ops, "
          f"{w.busy_s:.2f} s busy, {failed}/{attempted} failed",
          file=sys.stderr)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }


def trace_layers(w, log, t_start: float, t_end: float,
                 cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced run: the workload's own layers plus the
    Spark engine totals, per unit of work."""
    import spans

    tracer = w.ctx.tracer
    attr = spans.attribute(log, tracer.spans, t_start, t_end)
    n_ops = max(1, len(w.ops))
    covered = sum(s.end - s.start for s in tracer.spans)
    inside = spans.SparkTotals()
    for name, tot in attr.items():
        if name != spans.OUTSIDE:
            inside.add(tot)
    out = w.layers(attr)
    out.update({
        "trace.wall_s": w.busy_s,
        "trace.span_share": covered / w.busy_s if w.busy_s else 0.0,
        "trace.other_s": max(0.0, w.busy_s - covered) / n_ops,
        "spark.jobs": inside.jobs / n_ops,
        "spark.stages": inside.stages / n_ops,
        "spark.tasks": inside.tasks / n_ops,
        "spark.failed_tasks": inside.failed_tasks / n_ops,
        "spark.executor_run_s": inside.executor_run_s / n_ops,
        "spark.shuffle_write_bytes": inside.shuffle_write_bytes / n_ops,
        "spark.spill_bytes": inside.spill_bytes / n_ops,
        "spark.python_s": inside.python_s / n_ops,
        "plans.checkpoint.write_s": inside.commit_s / n_ops,
        "spark.idle_share": (1.0 - inside.executor_run_s
                             / (cores * w.busy_s)) if w.busy_s else 0.0,
        # time with no Spark job running: planning and driver-side Python
        "spark.driver_s": max(0.0, w.busy_s - inside.job_wall_s) / n_ops,
    })
    results = os.path.join(HERE, "_results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{w.name}-seed{w.ctx.seed}-trace.json"),
              "w") as f:
        json.dump({"spans": [s.__dict__ for s in tracer.spans],
                   "by_span": {k: v.__dict__ for k, v in attr.items()},
                   "layers": out}, f, indent=1)
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    try:
        import webdedup  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import webdedup from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir)
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
