"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship end-to-end dedup slice on sf0.001.
``queries()``     — one callable per implemented operator (SURVEY §2).
``oracle_sql()``  — DuckDB twins computing bit-identical results (all hashes
                    are md5-derived and floats are rounded to 6 decimals in
                    BOTH engines; see webdedup/oracle_sql.py).

EVERY query has a DuckDB oracle twin — including the seeded/banded LSH ones:
the seeds are fixed, the perm/plane constants are inlined into the SQL, and
band membership is expressed as slice/bit equality, so the 'probabilistic'
operators are deterministic and exactly checkable.  Recall properties of the
approximate paths are additionally pytest-gated against brute-force oracles
(webdedup/oracle.py, tests/test_matchers.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webdedup import oracle_sql as oracle_sql_mod
from webdedup.config import DEFAULT as CFG
from webdedup.functions.signatures import all_signatures
from webdedup.operators import (
    exact, jaccard, minhash_lsh, simhash_lsh, substring, textstats, similarity,
)
from webdedup.operators.components import connected_components
from webdedup.operators.represent import representatives
from webdedup.sources import tables


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.documents(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.embeddings(spark, sf_dir)


# ---------------------------------------------------------------------------
# shared memoized frames
#
# Several headline queries (cluster_assignments, representatives,
# matcher_agreement, pipeline_eval) are derived views over the SAME matcher
# edge sets and the same clustering.  The driver calls each queries() entry
# separately, so without sharing, `representatives` would recompute the
# 3-matcher + iterative-CC work `cluster_assignments` just did (~17s each at
# bench sf0.1 in round 1).  Frames are eagerly localCheckpoint-ed once per
# (SparkContext, sf_dir) — the executor-side analog of the pipeline's
# materialized stage tables (SURVEY S4-S6 feature/index stores).
#
# The same pattern reaches one level down, as in plans.pipeline.run: _sigs
# is the memo of ONE all-kinds all_signatures pass (simhash, minhash,
# shingles, anchors), the analog of the pipeline's `signatures` stage
# table, and every signature query and matcher below reads a projection of
# it — the producer runs once per attempt, not once per consumer.  The
# simhash/jaccard matcher pair frames are memoized too: jaccard_pairs IS
# the jaccard matcher of cluster_assignments, simhash_pairs_combo IS its
# simhash matcher.  Nothing persists across bench invocations (reset_memo
# drops everything per attempt; every attempt re-derives every frame from
# the parquet inputs).
# ---------------------------------------------------------------------------

_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _memo(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    k = (app, sf_dir, key)
    df = _MEMO.get(k)
    if df is None:
        # entries from previous sessions are unreachable (their checkpoint
        # blocks died with the session) — drop them so the memo stays O(live);
        # within one session, cap the table (multi-sf sweeps can otherwise
        # pin checkpointed frames for sf_dirs no longer in use)
        for dead in [kk for kk in _MEMO if kk[0] != app]:
            del _MEMO[dead]
        while len(_MEMO) >= 16:
            del _MEMO[next(iter(_MEMO))]  # FIFO: oldest insertion first
        # lazy checkpoint (r7): the first action over the frame both runs
        # the build and pins the blocks — one job instead of two; cost
        # attribution is unchanged (the query that triggers the build pays)
        df = _MEMO[k] = build().localCheckpoint(eager=False)
    return df


def reset_memo() -> None:
    """Drop all memoized shared frames (bench harness: each timed attempt
    must re-derive the matcher-edge/assignment frames, not read a cache)."""
    _MEMO.clear()


def _sigs(s: SparkSession, d: str) -> DataFrame:
    """(id, simhash, minhash, shingles, anchors) — the in-memory analog of
    the pipeline's signature stage table (SURVEY S4-S6): ONE all-kinds pass
    of the one signature producer, which every signature query projects."""
    return _memo(s, d, "sigs", lambda: all_signatures(_docs(s, d), CFG))


def _mh_band_cands(s: SparkSession, d: str) -> DataFrame:
    """Banded candidate frame (a, b) over the RAW fused signature table —
    the exact frame ``minhash_est_jaccard`` ranks, and (minus pairs touching
    sentinel empty-doc signatures — an anti-join inside ``minhash_edges``,
    provably the same pair set because band collisions are pairwise) the
    candidate set ``minhash_lsh_pairs`` verifies.  Memoized (r7): one band
    self-join per attempt instead of one per consumer query."""
    def build() -> DataFrame:
        sigs = _sigs(s, d).select("id", "minhash")
        return simhash_lsh.band_candidates(
            minhash_lsh.minhash_bands(sigs, CFG))
    return _memo(s, d, "mh_band_cands", build)


def _simhash_combo_pairs(s: SparkSession, d: str) -> DataFrame:
    """(a, b, hamming): ALL pairs within Hamming <= threshold, via the
    combo banding scheme.  Memoized (r7) because the frame is both the
    headline ``simhash_pairs_combo`` query and the SimHash matcher inside
    ``_matcher_edges`` — both band schemes have recall 1.0 inside the
    Hamming ball (simhash_lsh module doc), so this IS the matcher's pair
    set (the driver pins both schemes to the same oracle twin)."""
    return _memo(s, d, "simhash_combo_pairs",
                 lambda: simhash_lsh.blocked_hamming_pairs(
                     simhash_lsh.simhash_bands(
                         _sigs(s, d).select("id", "simhash"), CFG, "combo"),
                     CFG.hamming_threshold))


def _jaccard_edge_pairs(s: SparkSession, d: str) -> DataFrame:
    """(a, b, jaccard) at the config threshold/df-cap — the headline
    ``jaccard_pairs`` query (pre-rounding) and the Jaccard matcher inside
    ``_matcher_edges`` (r7: shared via memo; shingle sets are the
    ``_sigs`` projection)."""
    def build() -> DataFrame:
        return jaccard.jaccard_all_pairs(
            _sigs(s, d).select("id", "shingles"), CFG,
            threshold=CFG.jaccard_threshold, max_df=CFG.max_bucket_size)
    return _memo(s, d, "jaccard_edge_pairs", build)


def _matcher_edges(s: SparkSession, d: str) -> DataFrame:
    """Canonical union of the three batch matchers' pair sets (u < v)."""
    def build() -> DataFrame:
        docs = _docs(s, d)
        e1 = exact.exact_dup_edges(docs).select(
            F.col("src").alias("u"), F.col("dst").alias("v"))
        # the memoized combo frame: identical pair set to any recall-1.0
        # banding scheme (see _simhash_combo_pairs)
        sim = _simhash_combo_pairs(s, d).select(
            F.col("a").alias("u"), F.col("b").alias("v"))
        # df-capped candidate generation (exact-J verify over full sets):
        # the scale-safe default; the DuckDB twins cap identically
        # (oracle_sql._jacc_ctes), so equality holds by construction
        jac = _jaccard_edge_pairs(s, d).select(
            F.col("a").alias("u"), F.col("b").alias("v"))
        return (e1.unionByName(sim).unionByName(jac)
                .select(F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"))
                .distinct())
    return _memo(s, d, "matcher_edges", build)


def _assignments(s: SparkSession, d: str) -> DataFrame:
    def build() -> DataFrame:
        docs = _docs(s, d)
        return connected_components(
            _matcher_edges(s, d), nodes=docs.select("doc_id"), cfg=CFG,
        ).select(F.col("id").alias("doc_id"), "cluster_id")
    return _memo(s, d, "assignments", build)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full dedup slice on sf0.001 — SimHash-LSH pairs (exact
    Hamming<=5 semantics) + exact dups, clustered by distributed CC, with a
    representative chosen per cluster."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    e1 = exact.exact_dup_edges(docs).select(
        F.col("src").alias("u"), F.col("dst").alias("v"))
    sim = simhash_lsh.simhash_pairs(docs, cfg=CFG).select(
        F.col("a").alias("u"), F.col("b").alias("v"))
    assign = connected_components(
        e1.unionByName(sim), nodes=docs.select("doc_id"), cfg=CFG)
    return representatives(assign, docs.withColumn("n_chars", F.length("text")),
                           id_col="doc_id", score_col="n_chars")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- exact dedup (SURVEY A1/S3) ---
    q["exact_dup_groups"] = lambda s, d: exact.exact_dup_groups(_docs(s, d))

    # the driver's documents tables have NO duplicate texts at sf0.001 or
    # sf0.01, so the row above passes vacuously (0 == 0).  This variant
    # makes the A1 aggregation NON-vacuous: union the corpus with clones of
    # its 10 smallest-md5(doc_id) docs (clone id = -doc_id), the SAME
    # deterministic augmentation expressed in the DuckDB twin — the
    # groups/min/max/count semantics are then hash-checked on real groups.
    def _planted(s: SparkSession, d: str) -> DataFrame:
        base = _docs(s, d).select("doc_id", "text")
        clones = (base
                  .withColumn("_h", F.md5(F.col("doc_id").cast("string")))
                  .orderBy("_h", "doc_id").limit(10)
                  .select((-F.col("doc_id")).alias("doc_id"), "text"))
        return exact.exact_dup_groups(base.unionByName(clones))

    q["exact_dup_groups_planted"] = _planted
    q["content_hashes"] = lambda s, d: exact.with_content_hash(
        _docs(s, d)).select("doc_id", "content_sha")

    # per-source crawl-health rollup (the ops view a web-dedup pipeline
    # monitors per domain/feed): volume, distinct content, exact-dup rate,
    # size profile — one hash agg, the A1/A6 shapes keyed by source
    def _source_dup_stats(s: SparkSession, d: str) -> DataFrame:
        df = exact.with_content_hash(_docs(s, d))
        n = F.count(F.lit(1))
        nd = F.countDistinct("content_sha")
        return (df.groupBy("source")
                .agg(n.alias("n_docs"),
                     nd.alias("n_distinct"),
                     (n - nd).alias("n_exact_dups"),
                     F.round((n - nd) / n, 6).alias("dup_rate"),
                     F.round(F.avg("n_chars"), 6).alias("avg_chars")))

    q["source_dup_stats"] = _source_dup_stats

    # --- text analysis ---
    q["token_stats"] = lambda s, d: textstats.token_stats(_docs(s, d))
    # BPE-ish regex-piece accounting + fertility (tokenizer cost budget)
    q["subtoken_stats"] = lambda s, d: textstats.subtoken_stats(_docs(s, d))
    q["quality_scores"] = lambda s, d: textstats.quality_scores(_docs(s, d))
    q["lang_id"] = lambda s, d: textstats.lang_id(_docs(s, d))
    q["doc_fingerprint"] = lambda s, d: textstats.doc_fingerprint(_docs(s, d))

    # --- simhash (SURVEY P6/P9/J1/J2) ---
    q["simhash64"] = lambda s, d: _sigs(s, d).select(
        F.col("id").alias("doc_id"), "simhash")
    q["simhash_pairs"] = lambda s, d: simhash_lsh.blocked_hamming_pairs(
        simhash_lsh.simhash_bands(
            _sigs(s, d).select("id", "simhash"), CFG, "single"),
        CFG.hamming_threshold)
    q["simhash_pairs_combo"] = _simhash_combo_pairs

    # --- shingles / jaccard (SURVEY P8/P11/J4/J6) ---
    q["shingle_stats"] = lambda s, d: _sigs(s, d).select(
        F.col("id").alias("doc_id"), F.size("shingles").alias("n_shingles"))
    # df-capped candidate generation + exact-J verify over full sets; the
    # DuckDB twin carries the SAME cap (oracle_sql._jacc_ctes), so the
    # engines agree by construction on any corpus, not by fixture luck
    q["jaccard_pairs"] = lambda s, d: _jaccard_edge_pairs(s, d).withColumn(
        "jaccard", F.round("jaccard", 6))
    q["minhash_sig"] = lambda s, d: _sigs(s, d).select(
        F.col("id").alias("doc_id"),
        F.posexplode("minhash").alias("perm_id", "sig_value"))
    # banded LSH candidates -> exact-verified pairs.  Oracle-checked after
    # all: the seeded perms are inlined in SQL and banding is slice equality.
    # signatures + shingle sets are _sigs projections — one signature pass
    # shared with the jaccard/est derived views
    def _mh_pairs(s: SparkSession, d: str) -> DataFrame:
        ss = _sigs(s, d)
        return minhash_lsh.minhash_edges(
            ss.select("id", "minhash"), ss.select("id", "shingles"), CFG,
            threshold=CFG.jaccard_threshold, cands=_mh_band_cands(s, d),
        ).withColumn("jaccard", F.round("jaccard", 6))

    q["minhash_lsh_pairs"] = _mh_pairs
    # the r5 identical-set collapse as its own driver-gated row: SAME twin
    # SQL (the collapse is bit-identical by construction, pytest-pinned);
    # a hash mismatch here would catch any future drift in the rep-expand
    # path without perturbing the timed headline query above
    def _mh_pairs_collapsed(s: SparkSession, d: str) -> DataFrame:
        ss = _sigs(s, d)
        return minhash_lsh.minhash_edges(
            ss.select("id", "minhash"), ss.select("id", "shingles"), CFG,
            threshold=CFG.jaccard_threshold, collapse_identical=True,
        ).withColumn("jaccard", F.round("jaccard", 6))

    q["minhash_lsh_pairs_collapsed"] = _mh_pairs_collapsed

    # signature-estimate Jaccard re-rank over the banded candidates — the
    # reference's re-rank metric (minhash_search.py:81-83), oracle-checked
    def _est_jaccard(s: SparkSession, d: str) -> DataFrame:
        sigs = _sigs(s, d).select("id", "minhash")
        # r7: the banded candidate frame is the memoized _mh_band_cands —
        # shared with minhash_lsh_pairs instead of re-running the band join
        return minhash_lsh.signature_jaccard(
            _mh_band_cands(s, d), sigs).withColumn(
            "est_jaccard", F.round("est_jaccard", 6))

    q["minhash_est_jaccard"] = _est_jaccard

    # --- substring / suffix pass ---
    q["substring_pairs"] = lambda s, d: substring.substring_pairs(
        _sigs(s, d).select("id", F.explode("anchors").alias("anchor")))

    # --- clustering + representatives (SURVEY C1/W1) ---
    # both derive from the memoized checkpointed assignment frame: the CC
    # fixpoint runs ONCE per (session, sf_dir), not once per headline query
    q["cluster_assignments"] = _assignments

    def _reps(s: SparkSession, d: str) -> DataFrame:
        docs = _docs(s, d)
        assign = _assignments(s, d).select(
            F.col("doc_id").alias("id"), "cluster_id")
        return representatives(
            assign, docs.select("doc_id", "n_chars"),
            id_col="doc_id", score_col="n_chars")

    q["representatives"] = _reps

    # cluster collection A4 (run_pipeline.py:213-217's list-of-lists JSON,
    # bounded): deterministic sorted member lists for multi-member clusters
    def _dupsets(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.represent import duplicate_sets
        assign = _assignments(s, d).select(
            F.col("doc_id").alias("id"), "cluster_id")
        # member list serialized to one string: the driver's cross-engine
        # value hash normalizes scalars, not arrays
        return duplicate_sets(assign).withColumn(
            "member_ids", F.array_join("member_ids", ","))

    q["duplicate_sets"] = _dupsets

    # --- end-to-end evaluation report (evaluator.py:33-63 / A5) ---
    # predicted = intra-cluster pairs of the union-of-matchers clustering;
    # truth = the matched pair set itself.  recall == 1.0 is the driver-
    # visible invariant (CC never separates a matched pair); precision < 1
    # quantifies transitive-closure expansion.  (The north-rule recall>=0.99
    # gate vs the golden corpus fixtures is pytest-gated in
    # tests/test_pipeline.py — this makes the same report shape visible to
    # the correctness harness.)
    def _pipeline_eval(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.evaluate import cluster_pairs, metrics_frame
        assign = _assignments(s, d).select(
            F.col("doc_id").alias("id"), "cluster_id")
        pred = cluster_pairs(assign)
        truth = _matcher_edges(s, d).select(
            F.col("u").alias("a"), F.col("v").alias("b"))
        # both inputs are canonical by construction: cluster_pairs emits
        # each a<b intra-cluster pair once; matcher edges end in a
        # least/greatest + distinct — skip the re-normalization exchanges
        return metrics_frame(pred, truth, assume_canonical=True)

    q["pipeline_eval"] = _pipeline_eval

    # --- regex label projection (SURVEY P2) + L2 norm (P4) ---
    q["source_labels"] = lambda s, d: _docs(s, d).select(
        "doc_id",
        F.when(F.regexp_extract("source", r"src(\d+)", 1) != "",
               F.regexp_extract("source", r"src(\d+)", 1))
        .otherwise(F.lit("unknown")).alias("label"))

    def _emb_norms(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.similarity import with_norm
        return (with_norm(_emb(s, d), "embedding", "l2_norm")
                .select("vec_id", F.round("l2_norm", 6).alias("l2_norm")))

    q["embedding_norms"] = _emb_norms

    # --- LSH index stats + median heuristic (SURVEY A6/A8) ---
    def _band_stats(s: SparkSession, d: str) -> DataFrame:
        sigs = _sigs(s, d).select("id", "simhash")
        bands = simhash_lsh.simhash_bands(sigs, CFG, scheme="single")
        buckets = bands.groupBy("table_id", "band_key").agg(
            F.count(F.lit(1)).alias("bsz"))
        return buckets.groupBy("table_id").agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bsz").alias("max_bucket"),
            F.sum("bsz").alias("n_rows"))

    q["simhash_band_stats"] = _band_stats

    def _median_heuristic(s: SparkSession, d: str) -> DataFrame:
        sigs = _sigs(s, d).select("id", "simhash")
        bands = simhash_lsh.simhash_bands(sigs, CFG, scheme="single")
        cands = simhash_lsh.band_candidates(bands)
        sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("sig_a"))
        sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("sig_b"))
        ham = (cands.join(sa, "a").join(sb, "b")
               .withColumn("hamming",
                           F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))))
        # reference auto-threshold: 0.5 * median distance
        # (run_pipeline.py:391-393)
        return ham.agg(
            F.round(F.percentile("hamming", F.lit(0.5)) * 0.5, 6)
            .alias("median_threshold"),
            F.count(F.lit(1)).alias("n_candidates"))

    q["median_candidate_hamming"] = _median_heuristic

    # --- matcher agreement (SURVEY U2/A5 intersect-except evaluation) ---
    def _agreement(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.evaluate import metrics_frame
        # r7: both matcher frames come from the shared memos (identical
        # pair sets — see _simhash_combo_pairs / _jaccard_edge_pairs)
        sp = _simhash_combo_pairs(s, d).select("a", "b")
        jp = _jaccard_edge_pairs(s, d).select("a", "b")
        # ONE action over a full-outer join (was: three semi/anti counts,
        # each re-deriving both matchers' pair frames); both frames are
        # canonical by construction (blocked verify emits min/max +
        # distinct; jaccard pairs are a<b distinct)
        return metrics_frame(sp, jp, assume_canonical=True).select(
            "tp", "fp", "fn")

    q["matcher_agreement"] = _agreement

    # --- predicate + agg / ranking window (SURVEY P1/W2) ---
    q["lang_stats"] = lambda s, d: (
        _docs(s, d).filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("n_chars"), 6).alias("avg_chars"),
             F.max("n_chars").alias("max_chars")))

    def _topk_lang(s: SparkSession, d: str) -> DataFrame:
        from pyspark.sql import Window
        w = Window.partitionBy("lang").orderBy(
            F.desc("n_chars"), F.asc("doc_id"))
        return (_docs(s, d)
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 3)
                .select("lang", "doc_id", "n_chars", "rk"))

    q["topk_per_lang"] = _topk_lang

    # --- windowed event-time aggregation (streaming/windows.py semantics,
    # oracle-checked on the batch-equal path: window_dup_stats is the SAME
    # operator the streaming monitor runs — batch/stream parity is pinned
    # by tests/test_streaming.py — here keyed on the events table) ---
    def _windowed_events(s: SparkSession, d: str) -> DataFrame:
        from webdedup.streaming.windows import window_dup_stats
        ev = tables.events(s, d).select(
            F.col("ts").alias("warc_ts"),
            F.col("event_type").alias("content_sha"))
        return window_dup_stats(ev, window="1 hour", watermark="1 hour")

    q["windowed_event_stats"] = _windowed_events

    # sliding-window freshness monitor (1 h window / 15 min slide): the
    # production shape of the dup-rate monitor — three chained time-window
    # aggregations, batch/stream parity pinned in tests/test_streaming.py
    def _sliding_events(s: SparkSession, d: str) -> DataFrame:
        from webdedup.streaming.windows import sliding_window_dup_stats
        ev = tables.events(s, d).select(
            F.col("ts").alias("warc_ts"),
            F.col("event_type").alias("content_sha"))
        return sliding_window_dup_stats(
            ev, window="1 hour", slide="15 minutes", watermark="1 hour")

    q["sliding_window_event_stats"] = _sliding_events

    # JSON sidecar-metadata extraction (webtext pipelines carry per-doc
    # JSON props; JVM-side get_json_object, no UDF) + typed aggregation
    def _event_props(s: SparkSession, d: str) -> DataFrame:
        ev = tables.events(s, d)
        k = F.get_json_object("props", "$.k").cast("long")
        return (ev.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.round(F.avg("value"), 6).alias("avg_value"),
                     F.round(F.avg(k), 6).alias("avg_k"),
                     F.max(k).alias("max_k")))

    q["event_props_stats"] = _event_props

    # --- multimodal plumbing (binary payload -> decoded metadata) ---
    def _media(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators import multimodal
        media = _docs(s, d).select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"))
        meta = multimodal.decode_media(media)
        return meta.select("media_id", "n_bytes", "payload_sha")

    q["media_meta"] = _media

    # frame sampling over the binary payload (video-style row explosion
    # inside mapInPandas); frame shas/byte counts are DuckDB-twinned
    def _media_frames(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators import multimodal
        media = _docs(s, d).select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"))
        return multimodal.frame_sample(media).select(
            "media_id", "frame_idx", "n_frame_bytes", "frame_sha")

    q["media_frames"] = _media_frames

    # --- embedding similarity ---
    q["cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _emb(s, d), k=CFG.topk)
    # threshold 0.3: the gaussian test embeddings have no pairs above ~0.48,
    # so the config default (0.9) would make this check vacuous
    q["cosine_dup_pairs"] = lambda s, d: similarity.cosine_pairs(
        _emb(s, d), threshold=0.3)
    # seeded hyperplane LSH — oracle-checked: the plane matrix is inlined in
    # SQL at full float precision (min |dot| in the fixed embeddings ~3e-4,
    # far above float64 associativity noise, so signs agree bit-for-bit)
    q["vector_signatures"] = lambda s, d: similarity.vector_signatures(
        _emb(s, d), cfg=CFG)
    # 64-bit signature, 8 bands x 8 bits, probe_bits=2 multi-probe (recall
    # ~0.96 at threshold 0.3 — see tests/test_matchers.py sweep), verified
    # by per-bucket numpy matmul (candidates never materialized).  At this
    # low threshold the LSH ρ-bound makes ANY >=0.9-recall config admit
    # ~60-70% of random pairs (PLANS.md §11); the blocked verify makes that
    # regime cheap, while probe_bits=0 is the scalable high-threshold mode.
    q["lsh_cosine_pairs"] = lambda s, d: similarity.lsh_cosine_pairs(
        _emb(s, d), threshold=0.3, cfg=CFG,
        bands=CFG.hyperplane_bands, probe_bits=CFG.hyperplane_probe_bits)
    # second ANN index type (faiss IndexIVFFlat analog, nprobe dial):
    # md5-sampled centroids make it deterministic => oracle-checked too
    q["ivf_cosine_pairs"] = lambda s, d: similarity.ivf_cosine_pairs(
        _emb(s, d), threshold=0.3, k_centroids=16, nprobe=2)
    # TRAINED quantizer variant (faiss trains k-means centroids,
    # faiss_search.py:10-38): two deterministic Lloyd iterations refine the
    # sampled seeds — exact decimal-domain means keep it oracle-checkable
    # where real k-means (float sum order) is not.  Balance gain measured
    # in BENCH.md §ivf-lloyd.
    q["ivf_lloyd_cosine_pairs"] = lambda s, d: similarity.ivf_cosine_pairs(
        _emb(s, d), threshold=0.3, k_centroids=16, nprobe=2, lloyd_iters=2)
    # third ANN index type (the reference's hnsw slot): two-level IVF —
    # coarse-to-fine navigation as two broadcast joins, deterministic and
    # oracle-checked where a stochastic graph index never is
    q["ivf2_cosine_pairs"] = lambda s, d: similarity.ivf2_cosine_pairs(
        _emb(s, d), threshold=0.3, k1=8, k2=4, nprobe1=2, nprobe2=2)
    # approximate top-k per query over the same two-level IVF index — the
    # faiss index.search(xq, k) analog (faiss_search.py:41-45) that the
    # exact cosine_topk and the pair queries did not cover (VERDICT r4 #3)
    q["ann_topk"] = lambda s, d: similarity.ann_topk(
        _emb(s, d), k=CFG.topk, k1=8, k2=4, nprobe1=2, nprobe2=2)

    # embedding cluster-quality scoring (clustering_metrics.py:5-40):
    # silhouette / Davies-Bouldin / Calinski-Harabasz over the labeled
    # embeddings — sklearn formulas as pure DataFrame aggregations
    def _cluster_quality(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.cluster_quality import cluster_quality
        return cluster_quality(_emb(s, d))

    q["cluster_quality"] = _cluster_quality

    # the scale path for the O(n^2) silhouette: deterministic per-cluster
    # stratified sample (smallest-md5 ids, sklearn sample_size analog);
    # DB/CH stay exact over all points
    def _cluster_quality_sampled(s: SparkSession, d: str) -> DataFrame:
        from webdedup.operators.cluster_quality import cluster_quality
        return cluster_quality(_emb(s, d), silhouette_sample_per_cluster=25)

    q["cluster_quality_sampled"] = _cluster_quality_sampled

    return q


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": oracle_sql_mod.exact_dup_groups(),
        "exact_dup_groups_planted": oracle_sql_mod.exact_dup_groups_planted(),
        "content_hashes": oracle_sql_mod.content_hashes(),
        "source_dup_stats": oracle_sql_mod.source_dup_stats(),
        "token_stats": oracle_sql_mod.token_stats(),
        "subtoken_stats": oracle_sql_mod.subtoken_stats(),
        "quality_scores": oracle_sql_mod.quality_scores(),
        "lang_id": oracle_sql_mod.lang_id(),
        "doc_fingerprint": oracle_sql_mod.doc_fingerprint(),
        "simhash64": oracle_sql_mod.simhash64(),
        "simhash_pairs": oracle_sql_mod.simhash_pairs(CFG.hamming_threshold),
        "simhash_pairs_combo": oracle_sql_mod.simhash_pairs(CFG.hamming_threshold),
        "shingle_stats": oracle_sql_mod.shingle_stats(CFG.shingle_k),
        "jaccard_pairs": oracle_sql_mod.jaccard_pairs(
            CFG.shingle_k, CFG.jaccard_threshold, CFG.max_bucket_size),
        "minhash_sig": oracle_sql_mod.minhash_sig_long(CFG),
        "minhash_lsh_pairs": oracle_sql_mod.minhash_lsh_pairs(
            CFG, CFG.jaccard_threshold),
        "minhash_lsh_pairs_collapsed": oracle_sql_mod.minhash_lsh_pairs(
            CFG, CFG.jaccard_threshold),
        "minhash_est_jaccard": oracle_sql_mod.minhash_est_jaccard(CFG),
        "substring_pairs": oracle_sql_mod.substring_pairs(CFG),
        "cluster_assignments": oracle_sql_mod.cluster_assignments(CFG),
        "pipeline_eval": oracle_sql_mod.pipeline_eval(CFG),
        "duplicate_sets": oracle_sql_mod.duplicate_sets(CFG),
        "representatives": oracle_sql_mod.representatives(CFG),
        "source_labels": oracle_sql_mod.source_labels(),
        "embedding_norms": oracle_sql_mod.embedding_norms(),
        "simhash_band_stats": oracle_sql_mod.simhash_band_stats(),
        "median_candidate_hamming": oracle_sql_mod.median_candidate_hamming(),
        "matcher_agreement": oracle_sql_mod.matcher_agreement(
            CFG.shingle_k, CFG.hamming_threshold, CFG.jaccard_threshold,
            CFG.max_bucket_size),
        "lang_stats": oracle_sql_mod.lang_stats(),
        "topk_per_lang": oracle_sql_mod.topk_per_lang(3),
        "media_meta": oracle_sql_mod.media_meta(),
        "windowed_event_stats": oracle_sql_mod.windowed_event_stats(),
        "sliding_window_event_stats":
            oracle_sql_mod.sliding_window_event_stats(60, 15),
        "event_props_stats": oracle_sql_mod.event_props_stats(),
        "media_frames": oracle_sql_mod.media_frames(),
        "cosine_topk": oracle_sql_mod.cosine_topk(CFG.topk),
        "cosine_dup_pairs": oracle_sql_mod.cosine_pairs(0.3),
        "vector_signatures": oracle_sql_mod.vector_signatures(CFG),
        "lsh_cosine_pairs": oracle_sql_mod.lsh_cosine_pairs(
            0.3, CFG, bands=CFG.hyperplane_bands,
            probe_bits=CFG.hyperplane_probe_bits),
        "ivf_cosine_pairs": oracle_sql_mod.ivf_cosine_pairs(
            0.3, k_centroids=16, nprobe=2),
        "ivf_lloyd_cosine_pairs": oracle_sql_mod.ivf_lloyd_cosine_pairs(
            0.3, k_centroids=16, nprobe=2, iters=2),
        "ivf2_cosine_pairs": oracle_sql_mod.ivf2_cosine_pairs(
            0.3, k1=8, k2=4, nprobe1=2, nprobe2=2),
        "ann_topk": oracle_sql_mod.ann_topk(
            CFG.topk, k1=8, k2=4, nprobe1=2, nprobe2=2),
        "cluster_quality": oracle_sql_mod.cluster_quality(CFG.embedding_dim),
        "cluster_quality_sampled": oracle_sql_mod.cluster_quality(
            CFG.embedding_dim, sample_per_cluster=25),
    }

