"""The three benchmark workloads.

Each workload is driven by one closed-loop client: ``run_once`` starts its
next unit of work only after the previous one has finished.  A workload
reports

- ``ops``: per unit of work (pipeline run, query pass, micro-batch) its wall
  seconds and whether it failed;
- ``check()``: output checks run after the timed window;
- ``layers()``: per-layer numbers, from the traced run's spans and the
  Spark event log.

See README.md in this directory for why each workload exists and which
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

import inputs
from spans import SparkTotals, Tracer

# The 18 headline queries of the repository's ``bench.py``, frozen here so
# that the workload does not change when that list does.
HEADLINE = (
    "token_stats", "subtoken_stats", "quality_scores", "lang_id",
    "doc_fingerprint",
    "simhash64", "simhash_pairs_combo", "minhash_lsh_pairs",
    "minhash_est_jaccard", "jaccard_pairs", "substring_pairs",
    "cluster_assignments", "representatives", "duplicate_sets",
    "pipeline_eval",
    "vector_signatures", "lsh_cosine_pairs", "ivf2_cosine_pairs",
)

# operator module each headline query exercises
QUERY_LAYER = {
    "token_stats": "textstats", "subtoken_stats": "textstats",
    "quality_scores": "textstats", "lang_id": "textstats",
    "doc_fingerprint": "textstats",
    "simhash64": "simhash_lsh", "simhash_pairs_combo": "simhash_lsh",
    "minhash_lsh_pairs": "minhash_lsh", "minhash_est_jaccard": "minhash_lsh",
    "jaccard_pairs": "jaccard", "substring_pairs": "substring",
    "cluster_assignments": "components", "representatives": "represent",
    "duplicate_sets": "represent", "pipeline_eval": "evaluate",
    "vector_signatures": "similarity", "lsh_cosine_pairs": "similarity",
    "ivf2_cosine_pairs": "similarity",
}

# pipeline stage table -> layer span name
STAGE_LAYER = {
    "documents": "plans.documents",
    "signatures": "functions.signatures",
    "edges_exact": "operators.exact",
    "edges_simhash": "operators.simhash_lsh",
    "edges_minhash": "operators.minhash_lsh",
    "edges_substring": "operators.substring",
    "assignments": "operators.components",
    "representatives": "operators.represent",
    "cluster_sizes": "operators.represent",
}
MATCHERS = ("exact", "simhash_lsh", "minhash_lsh", "substring")
MATCHER_STAGE = {"exact": "edges_exact", "simhash_lsh": "edges_simhash",
                 "minhash_lsh": "edges_minhash",
                 "substring": "edges_substring"}

SIZES = {  # normal size, smoke size
    "batch_pipeline": ({"groups": 400}, {"groups": 30}),
    # the sizes of the sf0.01 documents and embeddings tables
    "query_suite": ({"docs": 500, "vecs": 500}, {"docs": 120, "vecs": 48}),
    "incremental_ingest": ({"groups": 400, "drops": 4, "phase": 2},
                           {"groups": 30, "drops": 2, "phase": 2}),
}
# query_suite reads one fixed table set, like the repository's fixed sf
# tables; PINS holds the expected result of every query on it, and the
# batch_pipeline cluster assignment of every corpus seed (pin.py)
QUERY_SEED = 42
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
RECALL_GATE = 0.99
# the corpus of batch_pipeline and incremental_ingest is generated from
# --seed modulo this, so that every run's cluster assignment is pinned
CORPUS_SEEDS = 25


def corpus_seed(seed: int) -> int:
    return seed % CORPUS_SEEDS


@dataclass
class Op:
    seconds: float
    failed: bool = False


@dataclass
class Ctx:
    work: str       # per-run scratch directory, removed at exit
    cache: str      # seeded inputs, kept across runs
    seed: int
    size: dict
    tracer: Tracer


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def _bucket_stats(counts_df) -> tuple[int, int]:
    """(candidate pairs, largest bucket) of a frame of bucket sizes ``n``:
    every pair inside a bucket is a candidate, before any collapse or cap."""
    from pyspark.sql import functions as F
    row = counts_df.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("c"),
        F.max("n").alias("m")).first()
    return int(row["c"] or 0), int(row["m"] or 0)


def planted_scores(assign: dict[str, int], truth: set[tuple[str, str]]
                   ) -> dict:
    """Recall: share of planted duplicate pairs whose members share a
    cluster.  Precision: share of same-cluster pairs that are planted."""
    from collections import Counter

    sizes = Counter(assign.values())
    predicted = sum(n * (n - 1) // 2 for n in sizes.values())
    tp = sum(1 for a, b in truth
             if a in assign and b in assign and assign[a] == assign[b])
    return {"recall": tp / len(truth) if truth else 1.0,
            "precision": tp / predicted if predicted else 1.0,
            "n_docs": len(assign)}


def assignment_digest(assign: dict[str, int]) -> str:
    """Order-independent digest of a (url, cluster_id) assignment."""
    return hashlib.sha256(repr(sorted(assign.items())).encode()
                          ).hexdigest()[:16]


def batch_pin_key(seed: int, size: dict) -> str:
    return f"seed{seed}-groups{size['groups']}"


def assignment_checks(assign: dict[str, int], scores: dict, n_docs: int,
                      pin: str | None) -> list[Check]:
    """Planted recall must reach the gate, every document must be assigned,
    and the assignment must equal the one pinned for this corpus."""
    got = assignment_digest(assign)
    return [
        Check("planted_recall", scores["recall"] >= RECALL_GATE,
              f"recall {scores['recall']:.4f}"),
        Check("assignment_covers_corpus", len(assign) == n_docs,
              f"{len(assign)} assigned of {n_docs} docs"),
        Check("assignment_pinned", got == pin,
              f"digest {got}, pinned {pin}"),
    ]


def _layer_totals(attr: dict[str, SparkTotals], prefix: str) -> SparkTotals:
    out = SparkTotals()
    for name, tot in attr.items():
        if name == prefix or name.startswith(prefix + "."):
            out.add(tot)
    return out


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.docs_done = 0
        self.busy_s = 0.0  # wall time of run_once calls

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_once(self) -> None:
        raise NotImplementedError

    def check(self) -> list[Check]:
        raise NotImplementedError

    def quality(self) -> tuple[float, float]:
        """(recall, precision) of the outputs against the workload's
        reference."""
        raise NotImplementedError

    def layers(self, attr: dict[str, SparkTotals]) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# batch_pipeline
# ---------------------------------------------------------------------------

class BatchPipeline(Workload):
    """``plans.pipeline.run`` with the defaults of ``driver.py`` (all four
    matchers, combo SimHash banding, est-mode SimHash confirmation) over a
    seeded ``sources.corpus`` corpus."""

    name = "batch_pipeline"

    def setup(self, spark) -> None:
        self.spark = spark
        path = inputs.corpus_pages(self.ctx.cache, corpus_seed(self.ctx.seed),
                                   self.ctx.size["groups"])
        self.pages = spark.read.parquet(path)
        self.n_docs = self.pages.count()
        self.runs: list[dict] = []
        self.last_work: str | None = None

    def run_once(self) -> None:
        from webdedup.config import DEFAULT
        from webdedup.plans import pipeline

        work = os.path.join(self.ctx.work, f"pipeline-{len(self.ops)}")
        t0 = time.time()
        try:
            res = pipeline.run(self.pages, work, cfg=DEFAULT, resume=False,
                               record_metrics=False)
            res.assignments.count()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            import traceback
            traceback.print_exc()
            self.ops.append(Op(time.time() - t0, failed=True))
            self.busy_s += time.time() - t0
            return
        t1 = time.time()
        self.busy_s += t1 - t0
        self.docs_done += self.n_docs
        self._stage_spans(work, res.stage_seconds, t0)
        op = Op(t1 - t0)
        self.ops.append(op)
        self.runs.append({"op": op, "work": work, "wall": t1 - t0,
                          "stages": dict(res.stage_seconds),
                          "rows": dict(res.stage_rows),
                          "bytes": _du(work)[1]})
        self.last_work = work

    def _stage_spans(self, work: str, stage_seconds: dict, t0: float) -> None:
        """One span per stage, ending when its stage table was committed
        (the ``_SUCCESS`` marker's mtime): the stage's lazy frame executes
        inside that write."""
        start = t0
        for name in stage_seconds:
            marker = os.path.join(work, f"{name}.parquet", "_SUCCESS")
            end = max(start, os.stat(marker).st_mtime)
            self.ctx.tracer.add(STAGE_LAYER.get(name, f"plans.{name}"),
                                start, end)
            start = end

    @staticmethod
    def _assignment(work: str) -> dict[str, int]:
        """url -> cluster_id of a run, read from its stage table."""
        t = pq.read_table(os.path.join(work, "assignments.parquet"),
                          columns=["id", "cluster_id"])
        return dict(zip(t.column("id").to_pylist(),
                        t.column("cluster_id").to_pylist()))

    def _truth(self) -> set[tuple[str, str]]:
        from webdedup.sources.corpus import golden_pairs
        return {(a, b) for a, b, _ in golden_pairs(
            corpus_seed(self.ctx.seed), self.ctx.size["groups"])}

    def check(self) -> list[Check]:
        if self.last_work is None:
            return [Check("planted_recall", False, "no completed run")]
        # every run must assign the same clusters as the first; a run that
        # does not has failed
        assigns = [self._assignment(r["work"]) for r in self.runs]
        for r, a in zip(self.runs, assigns):
            r["op"].failed |= a != assigns[0]
        self.scores = planted_scores(assigns[-1], self._truth())
        with open(PINS) as f:
            pin = json.load(f)["batch_pipeline"].get(
                batch_pin_key(corpus_seed(self.ctx.seed), self.ctx.size))
        return assignment_checks(assigns[-1], self.scores, self.n_docs, pin)

    def quality(self) -> tuple[float, float]:
        if self.last_work is None:
            return 0.0, 0.0
        return self.scores["recall"], self.scores["precision"]

    def layers(self, attr: dict[str, SparkTotals]) -> dict[str, float]:
        from pyspark.sql import functions as F

        from webdedup.config import DEFAULT
        from webdedup.operators import minhash_lsh, simhash_lsh

        runs = self.runs
        n = max(1, len(runs))
        stage = {k: _median(r["stages"].get(k, 0.0) for r in runs)
                 for k in STAGE_LAYER}
        out: dict[str, float] = {}
        sig = _layer_totals(attr, "functions.signatures")
        out["functions.signatures.s"] = stage["signatures"]
        out["functions.signatures.python_s"] = sig.python_s / n
        out["functions.signatures.docs_per_s"] = (
            self.n_docs / stage["signatures"] if stage["signatures"] else 0.0)

        sigs = self.spark.read.parquet(
            os.path.join(self.last_work, "signatures.parquet"))
        docs = self.spark.read.parquet(
            os.path.join(self.last_work, "documents.parquet"))
        buckets = {
            "exact": docs.groupBy(F.sha2("text", 256)).agg(
                F.count(F.lit(1)).alias("n")),
            "simhash_lsh": simhash_lsh.simhash_bands(
                sigs.select("id", "simhash"), DEFAULT, "combo")
            .groupBy("table_id", "band_key").agg(F.count(F.lit(1)).alias("n")),
            "minhash_lsh": minhash_lsh.minhash_bands(
                sigs.select("id", "minhash"), DEFAULT)
            .groupBy("table_id", "band_key").agg(F.count(F.lit(1)).alias("n")),
            "substring": sigs.select("id", F.explode("anchors").alias("anchor"))
            .distinct().groupBy("anchor").agg(F.count(F.lit(1)).alias("n")),
        }
        for m in MATCHERS:
            st = MATCHER_STAGE[m]
            cands, biggest = _bucket_stats(buckets[m])
            edges = runs[-1]["rows"].get(st, 0)
            out[f"operators.{m}.s"] = stage[st]
            out[f"operators.{m}.jobs"] = _layer_totals(
                attr, f"operators.{m}").jobs / n
            out[f"operators.{m}.candidates"] = cands
            out[f"operators.{m}.edges"] = edges
            out[f"operators.{m}.verify_ratio"] = edges / cands if cands else 0.0
            out[f"operators.{m}.max_bucket"] = biggest
        out["operators.components.s"] = stage["assignments"]
        out["operators.components.jobs"] = _layer_totals(
            attr, "operators.components").jobs / n
        out["operators.represent.s"] = (stage["representatives"]
                                        + stage["cluster_sizes"])
        out["plans.documents.s"] = stage["documents"]
        out["plans.checkpoint.bytes_written"] = _median(r["bytes"] for r in runs)
        out["plans.pipeline.other_s"] = _median(
            r["wall"] - sum(r["stages"].values()) for r in runs)
        return out


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------

def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def result_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, content hash) of a query result: column order and row
    order do not matter, floats compare to 6 decimals."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(repr(([cols[i] for i in idx], norm)).encode())
    return len(rows), h.hexdigest()[:16]


def query_mismatches(digests: dict[str, tuple[int, str]],
                     pins: dict[str, tuple[int, str]]) -> list[str]:
    """Headline queries whose result differs from its pin."""
    return [n for n in HEADLINE if tuple(digests.get(n, ())) != pins[n]]


def pin_key(size: dict) -> str:
    return f"seed{QUERY_SEED}-docs{size['docs']}-vecs{size['vecs']}"


def twin_digests(sf_dir: str) -> dict[str, tuple[int, str]]:
    """Digests of the DuckDB twins (``__spark_entry__.oracle_sql()``) of the
    headline queries over an sf-shaped table directory."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for name in HEADLINE:
            res = con.sql(sql[name])
            out[name] = result_digest(list(res.columns), res.fetchall())
        return out
    finally:
        con.close()


class QuerySuite(Workload):
    """Passes over the 18 headline ``__spark_entry__.queries()`` on seeded
    sf-shaped tables, with ``reset_memo()`` before each pass."""

    name = "query_suite"

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.entry = entry
        size = self.ctx.size
        self.sf_dir = inputs.sf_tables(self.ctx.cache, QUERY_SEED,
                                       size["docs"], size["vecs"])
        self.n_docs = size["docs"]
        with open(PINS) as f:
            self.pins = {k: tuple(v) for k, v in
                         json.load(f)["query_suite"][pin_key(size)].items()}
        self.queries = entry.queries()
        # (op, per-query digests) of every pass that completed
        self.passes: list[tuple[Op, dict[str, tuple[int, str]]]] = []
        self.pass_seconds: list[dict[str, float]] = []
        self.memo_counts: list[tuple[int, int]] = []

    def run_once(self) -> None:
        tracer = self.ctx.tracer
        calls = [0]
        memo = self.entry._memo
        if tracer.enabled:  # count memo lookups; builds = entries created
            def counted(*a, **kw):
                calls[0] += 1
                return memo(*a, **kw)
            self.entry._memo = counted
        digests, secs = {}, {}
        failed = False
        t0 = time.perf_counter()
        try:
            self.entry.reset_memo()
            for name in HEADLINE:
                q0 = time.perf_counter()
                with tracer.span(f"entry.query.{name}"):
                    df = self.queries[name](self.spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                secs[name] = time.perf_counter() - q0
                digests[name] = result_digest(df.columns, rows)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            import traceback
            traceback.print_exc()
            failed = True
        finally:
            self.entry._memo = memo
        wall = time.perf_counter() - t0
        self.busy_s += wall
        builds = len(self.entry._MEMO)
        self.memo_counts.append((builds, calls[0] - builds))
        op = Op(wall, failed=failed)
        self.ops.append(op)
        if not failed:
            self.docs_done += self.n_docs
            self.passes.append((op, digests))
            self.pass_seconds.append(secs)

    def check(self) -> list[Check]:
        # every pass is checked against the pinned results; a pass that
        # differs has failed
        for i, (op, d) in enumerate(self.passes):
            bad = query_mismatches(d, self.pins)
            if bad:
                print(f"# query_suite pass {i}: differs from pins: {bad}",
                      file=sys.stderr)
                op.failed = True
        return []

    def quality(self) -> tuple[float, float]:
        """(share of pinned result rows reproduced, share of (query, pass)
        results equal to their pin), over all passes."""
        if not self.passes:
            return 0.0, 0.0
        match = rows_ok = rows_all = 0
        for _, d in self.passes:
            for n in HEADLINE:
                rows_all += self.pins[n][0]
                if d[n] == self.pins[n]:
                    match += 1
                    rows_ok += self.pins[n][0]
        recall = rows_ok / rows_all if rows_all else 1.0
        return recall, match / (len(HEADLINE) * len(self.passes))

    def layers(self, attr: dict[str, SparkTotals]) -> dict[str, float]:
        n = max(1, len(self.pass_seconds))
        q = {name: _median(p[name] for p in self.pass_seconds)
             for name in HEADLINE}
        out: dict[str, float] = {}
        for name in HEADLINE:
            out[f"entry.query.{name}.s"] = q[name]
            out[f"entry.query.{name}.jobs"] = _layer_totals(
                attr, f"entry.query.{name}").jobs / n
        out["entry.memo.builds"] = _median(b for b, _ in self.memo_counts)
        out["entry.memo.hits"] = _median(h for _, h in self.memo_counts)
        by_layer: dict[str, float] = {}
        jobs_by_layer: dict[str, float] = {}
        for name in HEADLINE:
            layer = QUERY_LAYER[name]
            by_layer[layer] = by_layer.get(layer, 0.0) + q[name]
            jobs_by_layer[layer] = jobs_by_layer.get(layer, 0.0) + out[
                f"entry.query.{name}.jobs"]
        for m in MATCHERS:
            out[f"operators.{m}.s"] = by_layer.get(m, 0.0)
            out[f"operators.{m}.jobs"] = jobs_by_layer.get(m, 0.0)
        out["operators.components.s"] = by_layer["components"]
        out["operators.components.jobs"] = jobs_by_layer["components"]
        out["operators.represent.s"] = by_layer["represent"]
        for m in ("similarity", "textstats", "jaccard"):
            out[f"operators.{m}.s"] = by_layer[m]
        return out


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

class IncrementalIngest(Workload):
    """``streaming.incremental.incremental_dedup`` over seeded parquet page
    drops, one drop per micro-batch (``maxFilesPerTrigger=1``, trigger
    ``availableNow``), ``compact_store`` after every phase of drops."""

    name = "incremental_ingest"

    def setup(self, spark) -> None:
        self.spark = spark
        size = self.ctx.size
        pages = inputs.corpus_pages(self.ctx.cache,
                                    corpus_seed(self.ctx.seed), size["groups"])
        root = os.path.join(self.ctx.work, "ingest")
        shutil.rmtree(root, ignore_errors=True)
        self.dirs = {k: os.path.join(root, k)
                     for k in ("staged", "in", "out", "ckpt")}
        os.makedirs(self.dirs["in"])
        self.staged = inputs.stage_drops(pages, corpus_seed(self.ctx.seed),
                                         size["drops"], self.dirs["staged"])
        self.ingested: list[str] = []
        self.batches: list[dict] = []
        self.compactions: list[tuple[float, int]] = []

    def run_once(self) -> None:
        from webdedup.config import DEFAULT
        from webdedup.streaming import incremental

        todo = self.staged[:self.ctx.size["phase"]]
        if not todo:  # every drop ingested: the stream has nothing left
            return
        self.staged = self.staged[len(todo):]
        for p in todo:
            os.replace(p, os.path.join(self.dirs["in"], os.path.basename(p)))
        self.ingested += [os.path.join(self.dirs["in"], os.path.basename(p))
                          for p in todo]
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        q = None
        failed = False
        try:
            q = incremental.incremental_dedup(
                self.spark, self.dirs["in"], self.dirs["out"],
                self.dirs["ckpt"], cfg=DEFAULT, max_files_per_trigger=1,
                once=True)
            q.awaitTermination()
            failed = q.exception() is not None
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
            c0 = time.perf_counter()
            with tracer.span("streaming.compact"):
                incremental.compact_store(self.spark, self.dirs["out"])
            man = incremental.load_manifest(self.dirs["out"])
            base = os.path.join(self.dirs["out"], man["base"])
            self.compactions.append((time.perf_counter() - c0, _du(base)[1]))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            import traceback
            traceback.print_exc()
            failed, progress = True, []
        finally:
            if q is not None and q.isActive:
                q.stop()
        self.busy_s += time.perf_counter() - t0
        if failed:
            self.ops += [Op(0.0, failed=True) for _ in todo]
            return
        for p in progress:
            d = p.durationMs
            sec = d.get("triggerExecution", 0) / 1e3
            self.ops.append(Op(sec))
            self.docs_done += p.numInputRows
            self.batches.append({
                "rows": p.numInputRows, "trigger": sec,
                "add": d.get("addBatch", 0) / 1e3,
                "plan": (d.get("queryPlanning", 0) + d.get("getBatch", 0)
                         + d.get("latestOffset", 0)) / 1e3,
                "commit": (d.get("walCommit", 0)
                           + d.get("commitOffsets", 0)) / 1e3,
            })
            start = _iso_epoch(p.timestamp)
            tracer.add("streaming.batch", start, start + sec)

    def _pairs(self) -> list[tuple[str, str]]:
        from webdedup.streaming import incremental
        df = self.spark.read.parquet(
            os.path.join(self.dirs["out"], incremental.PAIRS_TABLE))
        return [(a, b) for a, b in df.select("a", "b").collect()]

    def _reference(self) -> set:
        """Batch SimHash pairs (combo banding) over every ingested page."""
        if not hasattr(self, "_ref"):
            from pyspark.sql import functions as F

            from webdedup.config import DEFAULT
            from webdedup.operators import simhash_lsh
            docs = self.spark.read.parquet(*self.ingested).select(
                F.col("url").alias("doc_id"), "text")
            ref = simhash_lsh.simhash_pairs(docs, cfg=DEFAULT, scheme="combo")
            self._ref = {(min(a, b), max(a, b))
                         for a, b in ref.select("a", "b").collect()}
        return self._ref

    def check(self) -> list[Check]:
        if not self.ingested:
            return [Check("pairs_equal_batch", False, "nothing ingested")]
        return pair_checks(self._pairs(), self._reference())

    def quality(self) -> tuple[float, float]:
        if not self.ingested:
            return 0.0, 0.0
        got = {(min(a, b), max(a, b)) for a, b in self._pairs()}
        ref = self._reference()
        hit = len(got & ref)
        return (hit / len(ref) if ref else 1.0,
                hit / len(got) if got else 1.0)

    def layers(self, attr: dict[str, SparkTotals]) -> dict[str, float]:
        from pyspark.sql import functions as F

        from webdedup.config import DEFAULT
        from webdedup.operators import simhash_lsh
        from webdedup.streaming import incremental

        b = self.batches
        n = max(1, len(b))
        batch_tot = _layer_totals(attr, "streaming.batch")
        match_s = (batch_tot.job_wall_s - batch_tot.write_job_wall_s
                   - batch_tot.python_job_wall_s) / n
        files, size = _du(self.dirs["out"])
        store = incremental.read_store(self.spark, self.dirs["out"])
        cands, biggest = _bucket_stats(
            simhash_lsh.simhash_bands(store.select("id", "simhash"), DEFAULT,
                                      "combo")
            .groupBy("table_id", "band_key").agg(F.count(F.lit(1)).alias("n")))
        edges = len(self._pairs())
        return {
            "streaming.batch.add_batch_s": _median(x["add"] for x in b),
            "streaming.batch.planning_s": _median(x["plan"] for x in b),
            "streaming.batch.commit_s": _median(x["commit"] for x in b),
            "streaming.batch.jobs": batch_tot.jobs / n,
            "streaming.match.s": match_s,
            "streaming.compact.s": _median(c for c, _ in self.compactions),
            "streaming.compact.bytes_rewritten": _median(
                w for _, w in self.compactions),
            "streaming.store.files": files,
            "streaming.store.bytes": size,
            "streaming.store.bytes_per_doc": size / max(1, self.docs_done),
            # docs ingested over phase wall (stream start to end of
            # compaction)
            "streaming.phase.docs_per_s": (self.docs_done / self.busy_s
                                           if self.busy_s else 0.0),
            "operators.simhash_lsh.s": match_s,
            "operators.simhash_lsh.jobs": batch_tot.jobs / n,
            "operators.simhash_lsh.candidates": cands,
            "operators.simhash_lsh.edges": edges,
            "operators.simhash_lsh.verify_ratio": edges / cands if cands else 0.0,
            "operators.simhash_lsh.max_bucket": biggest,
        }


def pair_checks(rows: list[tuple[str, str]], ref: set[tuple[str, str]]
                ) -> list[Check]:
    """The incremental pair table must hold exactly the batch reference
    pairs, each once."""
    got = {(min(a, b), max(a, b)) for a, b in rows}
    return [
        Check("pairs_equal_batch", got == ref,
              f"{len(got)} incremental vs {len(ref)} batch pairs"),
        Check("no_duplicate_pairs", len(rows) == len(got),
              f"{len(rows)} rows, {len(got)} distinct"),
    ]


def _iso_epoch(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (BatchPipeline, QuerySuite, IncrementalIngest)}
