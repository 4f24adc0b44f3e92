"""Connected components vs union-find oracle on structured + random graphs."""

from __future__ import annotations

import random

from webdedup import oracle
from webdedup.config import DedupConfig
from webdedup.operators.components import connected_components

CFG = DedupConfig()


def _check(spark, edges, nodes=None):
    edf = spark.createDataFrame(edges or [(0, 0)], ["u", "v"])
    if not edges:
        edf = edf.filter("u != u")
    ids = sorted({u for e in edges for u in e} | set(nodes or []))
    ndf = spark.createDataFrame([(i,) for i in ids], ["id"]) if nodes else None
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edf, nodes=ndf, cfg=CFG).collect()}
    exp = oracle.union_find_clusters(ids, {(min(u, v), max(u, v))
                                           for u, v in edges if u != v})
    # compare as partitions with min-labels (both use component-min ids)
    assert got == {i: exp[i] for i in got}, (got, exp)
    return got


def test_two_triangles(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)])


def test_chain(spark):
    _check(spark, [(i, i + 1) for i in range(30)])


def test_star_and_selfloops(spark):
    got = _check(spark, [(5, 1), (5, 2), (5, 3), (7, 7)], nodes=[1, 2, 3, 5, 7, 9])
    assert got[9] == 9 and got[7] == 7, "isolated nodes self-cluster"


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    _check(spark, edges, nodes=nodes)


def test_duplicate_and_reversed_edges(spark):
    _check(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)])


def test_two_phase_string_ids(spark):
    """The local contraction is type-agnostic (urls cluster like longs)."""
    edges = [("u/a", "u/b"), ("u/b", "u/c"), ("x/p", "x/q")]
    edf = spark.createDataFrame(edges, ["u", "v"])
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edf, cfg=CFG).collect()}
    assert got == {"u/a": "u/a", "u/b": "u/a", "u/c": "u/a",
                   "x/p": "x/p", "x/q": "x/p"}


def _star_rounds_equals_oracle(spark, edges, parts):
    """Force the at-scale path (contraction + iterated star rounds) by
    setting the local-finish cutoff to 0; it must equal the local-finish
    result and the oracle."""
    from dataclasses import replace
    big_cfg = replace(CFG, cc_local_finish_max_edges=0)
    edf = spark.createDataFrame(edges, ["u", "v"]).repartition(parts)
    a = {r["id"]: r["cluster_id"] for r in
         connected_components(edf, cfg=big_cfg).collect()}
    b = {r["id"]: r["cluster_id"] for r in
         connected_components(edf, cfg=CFG).collect()}
    exp = oracle.union_find_clusters(
        sorted({u for e in edges for u in e}),
        {(min(u, v), max(u, v)) for u, v in edges if u != v})
    assert a == b == {i: exp[i] for i in a}


def test_contract_then_star_rounds_path(spark):
    """At-scale CC path on a random graph."""
    rng = random.Random(11)
    nodes = list(range(300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(260)]
    _star_rounds_equals_oracle(spark, edges, 8)


def test_contract_then_star_rounds_adversarial_mix(spark):
    """At-scale CC path on an adversarial mix spread over 16 partitions:
    one 400-edge chain (needs many star rounds after the contraction), a
    dense blob and tiny pairs."""
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(400)]                   # long chain
    edges += [(500 + rng.randrange(50), 500 + rng.randrange(50))
              for _ in range(120)]                             # dense blob
    edges += [(1000 + 2 * i, 1001 + 2 * i) for i in range(40)]  # tiny pairs
    _star_rounds_equals_oracle(spark, edges, 16)
