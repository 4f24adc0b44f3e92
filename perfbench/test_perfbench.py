"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/ -q

Runs every workload at its smoke size, traced and untraced, and checks that
each metric of BENCHMARK.json is emitted with its unit; checks that a
corrupted output trips each workload's output check; and checks that the
benchmark fails without a result when the program is absent.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_follows_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(
        workloads.WORKLOADS)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and unit.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:  # end-to-end metrics are never 0
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_batch_check_trips_on_a_dropped_edge():
    from webdedup.sources.corpus import golden_pairs

    truth = {(a, b) for a, b, _ in golden_pairs(7, 30)}
    assign = {}
    for a, b in sorted(truth):  # a perfect clustering of the planted pairs
        assign.setdefault(a, len(assign))
        assign[b] = assign[a]
    pin = workloads.assignment_digest(assign)

    def checks(a):
        scores = workloads.planted_scores(a, truth)
        return workloads.assignment_checks(a, scores, len(assign), pin)

    assert all(c.ok for c in checks(assign))
    # losing one edge splits one member off its cluster
    cut = dict(assign)
    cut[max(cut)] = -1
    assert [c.name for c in checks(cut) if not c.ok] == ["assignment_pinned"]
    # an unpinned corpus fails rather than skipping the comparison
    scores = workloads.planted_scores(assign, truth)
    assert not all(c.ok for c in workloads.assignment_checks(
        assign, scores, len(assign), None))


def test_every_seed_has_pinned_outputs():
    with open(workloads.PINS) as f:
        pins = json.load(f)
    for seed in (0, 7, 24, 25, 101, 210, 2**31 - 1):
        for size in workloads.SIZES["batch_pipeline"]:
            key = workloads.batch_pin_key(workloads.corpus_seed(seed), size)
            assert key in pins["batch_pipeline"], (seed, key)
    for size in workloads.SIZES["query_suite"]:
        assert set(pins["query_suite"][workloads.pin_key(size)]) == set(
            workloads.HEADLINE)


def test_sf_tables_have_the_measured_shape(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    import inputs

    d = inputs.sf_tables(str(tmp_path), 3, 400, 100)
    texts = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 400 // inputs.SF_DUP_EVERY
    lengths = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(lengths) >= 10 and max(lengths) <= 99
    vecs = np.stack(pq.read_table(f"{d}/embeddings.parquet")
                    .column("embedding").to_numpy(zero_copy_only=False))
    assert vecs.shape == (100, inputs.SF_DIM)
    cos = vecs @ vecs.T
    np.fill_diagonal(cos, 0.0)
    assert cos.max() < 0.9  # no planted near-duplicate vectors


def test_query_check_trips_on_a_dropped_pair():
    import duckdb

    import inputs

    size = workloads.SIZES["query_suite"][1]
    with open(workloads.PINS) as f:
        pins = {k: tuple(v) for k, v in
                json.load(f)["query_suite"][workloads.pin_key(size)].items()}
    cache = os.path.join(HERE, "_cache")
    os.makedirs(cache, exist_ok=True)
    sf_dir = inputs.sf_tables(cache, workloads.QUERY_SEED, size["docs"],
                              size["vecs"])
    twin = workloads.twin_digests(sf_dir)
    assert workloads.query_mismatches(twin, pins) == []  # pins hold
    import __spark_entry__ as entry
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t + '.parquet')}'")
    res = con.sql(entry.oracle_sql()["simhash_pairs_combo"])
    cols, rows = list(res.columns), res.fetchall()
    assert rows, "the pair query must not be vacuous"
    corrupt = dict(twin)
    corrupt["simhash_pairs_combo"] = workloads.result_digest(cols, rows[1:])
    assert workloads.query_mismatches(corrupt, pins) == [
        "simhash_pairs_combo"]


def test_ingest_check_trips_on_a_dropped_or_repeated_pair():
    ref = {("u1", "u2"), ("u2", "u3"), ("u4", "u5")}
    rows = [("u2", "u1"), ("u2", "u3"), ("u4", "u5")]
    assert all(c.ok for c in workloads.pair_checks(rows, ref))
    assert not all(c.ok for c in workloads.pair_checks(rows[1:], ref))
    assert not all(c.ok for c in workloads.pair_checks(rows + rows[:1], ref))


def test_fails_without_result_when_program_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_*", ".*"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
