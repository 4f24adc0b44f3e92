"""Frozen pipeline configuration.

Defaults mirror the reference's CLI defaults so "same shingle/signature
config" (BASELINE.json north_rule) is meaningful:

- ``simhash_bits=64``        — reference ``run_pipeline.py:287-288``
- ``hamming_threshold=5``    — reference ``run_pipeline.py:289-290`` / report p.14
- ``simhash_bands=8``        — reference ``num_tables=8`` (``run_pipeline.py:407``);
  for us bands double as the bit-sampling LSH decomposition: with
  ``bands > hamming_threshold`` the band equi-join has *provable* recall 1.0
  for pairs within the Hamming ball (pigeonhole), strictly better than the
  reference's O(#buckets) multi-probe scan (``simhash.cpp:234-240``).
- ``minhash_perms=128``, ``minhash_threshold=0.3`` — reference
  ``src/similarity_search/minhash_search.py:12``
- ``seed=42``                — reference ``run_pipeline.py:294`` / ``simhash.cpp:154``
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    seed: int = 42

    # --- text -> token stream ---
    shingle_k: int = 5            # 5-gram token shingles (SURVEY §2.2 P8)
    # shingle/anchor hash scheme for the FUSED signature stage:
    # - 'md5'    (default): one md5 per shingle string — portable to the
    #   DuckDB twins, the only oracle-checked scheme.
    # - 'tokmix' (production opt-in): one md5 per DISTINCT TOKEN (already
    #   paid by SimHash, cached per batch) + a vectorized numpy polynomial
    #   mix per shingle window — removes the per-shingle md5 that is the
    #   measured floor of the signatures stage (VERDICT r3 #3).  Same
    #   dedup semantics (equal shingles => equal hashes; 60-bit collision
    #   mass is negligible), different hash VALUES — so no SQL twin; the
    #   golden recall gate pytest-covers it (test_pipeline_recall_tokmix).
    hash_scheme: str = "md5"

    # --- extension registry (SURVEY §2.9; reference run_pipeline.py:133-159
    # dynamic extractor import) --- named entries in functions.registry;
    # swapping the extraction/tokenization scheme is a config string, not a
    # code edit.  Defaults are the oracle-checked schemes; non-default
    # choices change VALUES (documented in registry.py) and are covered by
    # the determinism + recall contract tests instead of DuckDB twins.
    extractor: str = "regex"
    tokenizer: str = "whitespace"

    # --- SimHash (64-bit fingerprint + bit-sampling LSH) ---
    simhash_bits: int = 64
    hamming_threshold: int = 5
    simhash_bands: int = 8        # 8 bands x 8 bits; 8 > 5 => recall 1.0

    # --- MinHash (128-perm signatures + banded LSH) ---
    minhash_perms: int = 128
    minhash_threshold: float = 0.3
    minhash_bands: int = 32       # 32 bands x 4 rows = 128 (datasketch-style
    minhash_rows: int = 4         # optimal split for threshold 0.3)

    # --- exact n-gram Jaccard verification ---
    jaccard_threshold: float = 0.5

    # --- substring (suffix/anchor) pass ---
    anchor_tokens: int = 16       # anchor k-gram length in tokens
    anchor_mod: int = 8           # keep anchors with hash % mod == 0 (winnowing-ish)

    # --- embedding similarity ---
    embedding_dim: int = 64
    topk: int = 10
    # random-hyperplane LSH for embeddings: 64-bit signature split into 8
    # bands of 8 bits.  Per-band collision for UNCORRELATED vectors is 2^-8
    # (vs 2^-4 with the old 16-bit/4-band split, which at low thresholds
    # degenerated to near-brute-force); probe_bits widens the left arm to
    # all band keys within that Hamming distance (true multi-bit probing,
    # C(8,1)+C(8,2)=36 extra keys at probe_bits=2).
    hyperplane_bits: int = 64
    hyperplane_bands: int = 8
    hyperplane_probe_bits: int = 2

    # --- skew / scale controls ---
    # document-frequency cap of the shingle (jaccard candidates) and anchor
    # (substring) indexes; the DuckDB twins inline the same constant
    max_bucket_size: int = 200

    # --- connected components ---
    cc_max_iterations: int = 50
    # after the per-partition contraction, graphs at or below this many
    # edges are finished by ONE single-task union-find instead of iterated
    # global star rounds (the classic contract-then-solve-locally cutoff; at
    # web scale the iterative path engages automatically).  The cutoff is
    # sized for LONG ids (2M edges ~ 32 MB of id pairs + the union-find
    # dict); ``connected_components`` derates it automatically when ids are
    # strings (per-edge bytes estimated from a sample — see components.py),
    # so a url-keyed graph cannot OOM the single local-finish task.
    cc_local_finish_max_edges: int = 2_000_000
    # memory budget for the single-task local finish (edges x est. row
    # bytes); the effective edge cutoff is min(cc_local_finish_max_edges,
    # budget / est_row_bytes)
    cc_local_finish_max_bytes: int = 64_000_000

    def banding_warnings(self, background_jaccard: float = 0.25,
                         n_docs: int | None = None,
                         max_candidates_per_doc: float = 50.0,
                         min_recall: float = 0.95) -> list[str]:
        """Human-readable warnings when the MinHash (bands, rows) split is
        mismatched to ``jaccard_threshold`` at the configured scale
        (r6 VERDICT #7 — the 1M-doc run's residual quadratic term was
        banded-candidate GENERATION on a low-entropy vocabulary).

        The S-curve (minhash_lsh.py module doc): a pair with Jaccard J
        band-collides with probability ``p(J) = 1 - (1 - J^r)^b``.  Two
        failure modes:

        - RECALL: ``p(jaccard_threshold) < min_recall`` — the banding
          itself drops pairs the verify threshold wants.
        - QUADRATIC CANDIDATES: ``(n_docs-1)/2 * p(background_jaccard)``
          exceeds ``max_candidates_per_doc`` — background-similarity pairs
          (stopword mass; ``background_jaccard`` ~0.2-0.3 on low-entropy
          web boilerplate) collide often enough that candidate volume
          grows quadratically.  Raising ``rows`` (r) at fixed b*r kills
          this: at threshold 0.5+, b=16/r=8 cuts the background collision
          rate by orders of magnitude (see README presets table).

        Returns a list of warning strings (empty = no mismatch detected).
        Pure arithmetic — call it from job setup; it never touches Spark.
        """
        b, r, t = self.minhash_bands, self.minhash_rows, self.jaccard_threshold
        warns: list[str] = []
        p_catch = 1.0 - (1.0 - t ** r) ** b
        if p_catch < min_recall:
            warns.append(
                f"banding recall: P(band collision | J={t}) = "
                f"{p_catch:.4f} < {min_recall} with b={b}, r={r} — the "
                f"banding drops pairs above jaccard_threshold before any "
                f"verify; lower rows-per-band or raise bands")
        p_bg = 1.0 - (1.0 - background_jaccard ** r) ** b
        if n_docs is not None:
            exp_cands = (n_docs - 1) / 2.0 * p_bg
            if exp_cands > max_candidates_per_doc:
                warns.append(
                    f"banding quadratic-candidate regime: expected "
                    f"{exp_cands:.0f} background candidates/doc at "
                    f"n={n_docs} (p_band({background_jaccard}) = "
                    f"{p_bg:.2e}, b={b}, r={r}) — candidate generation "
                    f"will dominate; raise rows-per-band (e.g. b=16/r=8 "
                    f"for thresholds >= 0.5) or cut background similarity "
                    f"upstream")
        return warns

    def __post_init__(self) -> None:
        assert self.hash_scheme in ("md5", "tokmix"), self.hash_scheme
        # fail fast on unknown registry keys (lazy import: registry pulls
        # in the extractor/tokenizer modules, which must not load config
        # circularly at module import time)
        from webdedup.functions import registry
        registry.get_extractor(self.extractor)
        registry.get_tokenizer(self.tokenizer)
        assert self.minhash_bands * self.minhash_rows == self.minhash_perms
        assert self.simhash_bits % self.simhash_bands == 0
        assert self.simhash_bands > self.hamming_threshold, (
            "bands must exceed hamming threshold for recall-1.0 bit sampling"
        )
        assert self.hyperplane_bits % self.hyperplane_bands == 0


DEFAULT = DedupConfig()
