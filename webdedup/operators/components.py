"""Iterative connected components: alternating large-star / small-star.

The reference resolves candidate pairs into single-link clusters with an
in-memory union-find (``run_pipeline.py:190-217``, path-halving).  That is
inherently sequential; the distributed equivalent (north_rule names it) is
the alternating algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14):

- large-star(u): connect every neighbor v > u to m = min(N(u) u {u})
- small-star(u): connect every neighbor v <= u (and u) to m = min of those

Each round is one shuffle (groupBy on the star center); the edge set
converges in O(log n) rounds to stars pointing at the component minimum —
robust to adversarial long chains, unlike plain min-label propagation whose
round count is the graph diameter.

Per-round ``localCheckpoint`` truncates the lineage (a fixpoint loop
otherwise accretes an unbounded plan — the Spark analog of the reference's
recursion depth).  On a cluster, set a durable checkpoint dir instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT


def _canon(e: DataFrame, dedup: bool = True) -> DataFrame:
    """Canonical undirected edge set: (lo < hi), no self-loops; ``dedup``
    adds the distinct (one shuffle) — skipped between the two star passes
    where duplicates are harmless and the final distinct covers them."""
    out = (
        e.select(F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
    )
    if dedup:
        out = out.distinct()
    return out.select(F.col("lo").alias("u"), F.col("hi").alias("v"))


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
    )
    return _canon(out, dedup=False)


def _small_star(e: DataFrame) -> DataFrame:
    o = e.select(F.greatest("u", "v").alias("c"), F.least("u", "v").alias("n"))
    mins = o.groupBy("c").agg(F.min("n").alias("mn"))
    j = o.join(mins, "c")
    out = j.select(F.col("n").alias("u"), F.col("mn").alias("v")).unionByName(
        j.select(F.col("c").alias("u"), F.col("mn").alias("v"))
    )
    return _canon(out)


def _local_contract(e: DataFrame) -> DataFrame:
    """Phase-1 contraction: per-partition union-find via ``mapInPandas``.

    Each partition's edge set is replaced by a spanning star of every LOCAL
    component (root = local min member) — connectivity-preserving and
    node-preserving (every edge endpoint reappears as a star root or leaf),
    so global CC over the contracted edges has identical components and
    minima.  Long chains and dense blobs inside one partition collapse to
    depth 1 before any shuffle, cutting the number of global star rounds
    (the per-round job latency is what dominates at small diameters).

    Memory is bounded by the per-partition edge count (one dict entry per
    non-root node), i.e. by ``spark.sql.files.maxPartitionBytes`` /
    shuffle-partition sizing — the same budget any in-partition buffer has.
    """
    import pandas as pd

    schema = e.schema

    def run(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:          # path halving
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for u, v in zip(b["u"].tolist(), b["v"].tolist()):
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        out_u, out_v = [], []
        for x in list(parent):                    # keys = non-root nodes
            out_u.append(find(x))
            out_v.append(x)
        if out_u:
            yield pd.DataFrame({"u": out_u, "v": out_v})

    return e.mapInPandas(run, schema=schema)


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s"),  # decimal sum: exact + overflow-free under ANSI mode
    ).first()
    return int(row["n"]), int(row["s"])


def _est_edge_bytes(e: DataFrame) -> int:
    """Estimated single-task memory per contracted edge for the local
    finish: numeric ids hash/store compactly (~16 B of payload, the dict
    entry is the dominant cost and is counted in the byte budget's safety
    margin); string ids (urls) pay Python object headers (~49 B + length
    each) plus a dict entry (~100 B), estimated from a 1024-edge sample."""
    utype = e.schema["u"].dataType.simpleString()
    if utype in ("bigint", "int", "smallint", "tinyint"):
        return 16
    row = (e.limit(1024)
           .agg(F.avg(F.length(F.col("u").cast("string"))
                      + F.length(F.col("v").cast("string"))).alias("b"))
           .first())
    avg_len = float(row["b"]) if row and row["b"] is not None else 16.0
    return int(avg_len) + 200  # object headers + union-find dict entries


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    cfg: DedupConfig = DEFAULT,
) -> DataFrame:
    """edges(u, v) [+ optional nodes(id)] -> assignments (id, cluster_id).

    cluster_id = the minimum member id of the component (deterministic,
    matching the local union-find oracle).  Nodes present in ``nodes`` but in
    no edge become singleton clusters of themselves.

    Two-phase CC: a per-partition union-find contraction runs first, then
    either one single-task union-find pass (small contraction) or the global
    star rounds.
    """
    e = _canon(edges.select(F.col(edges.columns[0]).alias("u"),
                            F.col(edges.columns[1]).alias("v")))
    e = _local_contract(e).localCheckpoint(eager=False)
    n_edges = e.count()  # one job: materialize + size the contraction
    if n_edges <= cfg.cc_local_finish_max_edges and \
            n_edges * _est_edge_bytes(e) <= cfg.cc_local_finish_max_bytes:
        # contract-then-solve-locally: the whole contracted graph fits one
        # task, so a second union-find pass over ONE partition yields the
        # final component-min stars directly — no iterated global rounds,
        # no per-round job latency.  (The star rounds below remain the route
        # whenever the contraction is still large — the cutoff is edge count
        # AND estimated bytes: long ids cost ~16 B/edge, but url-string ids
        # cost hundreds including Python object + union-find dict overhead,
        # so the byte gate derates the edge cutoff automatically for wide
        # id types.)
        e = _local_contract(e.coalesce(1)).localCheckpoint(eager=True)
    else:
        e = _star_rounds(e, cfg)

    assign = (
        e.select(F.col("v").alias("id"), F.col("u").alias("cluster_id"))
        .unionByName(
            e.select(F.col("u").alias("id"), F.col("u").alias("cluster_id"))
        )
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    if nodes is not None:
        nid = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
        assign = (
            nid.join(assign, "id", "left")
            .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        )
    return assign


def _star_rounds(e: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Alternating large-star/small-star fixpoint (the at-scale path).
    ``e`` must be materialized (checkpointed) by the caller."""
    prev = _checksum(e)
    e_prev = e
    for it in range(cfg.cc_max_iterations):
        # checkpoint EVERY round (AQE re-plans per action, which defeats
        # shuffle-stage reuse across jobs — without materialization each
        # round's checksum would recompute all prior rounds); lazy form so
        # the checksum action both materializes and measures in ONE job
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            # The checksum (count + sum of xxhash64(u,v)) is probabilistic:
            # two DIFFERENT edge sets collide with p ~ 2^-64 per round.
            # Before declaring the fixpoint, CONFIRM with an exact
            # symmetric-difference check over the two already-materialized
            # checkpoints — one extra cheap job at the end makes
            # convergence sound, not just astronomically likely.
            if e.exceptAll(e_prev).unionAll(e_prev.exceptAll(e)).isEmpty():
                break
        prev = cur
        e_prev = e
    else:
        raise RuntimeError("connected components did not converge")
    return e
