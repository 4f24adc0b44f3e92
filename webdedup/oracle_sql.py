"""DuckDB oracle SQL generators — the ANSI-SQL twins of every oracle-checked
Spark query in ``__spark_entry__``.

Each generator returns DuckDB SQL computing bit-identical values to the
corresponding Spark operator, because both sides derive every hash from md5
(``webdedup.functions.hashing``) and round every float to 6 decimals.  The
driver runs these side-by-side with the Spark queries and compares
row-count + schema + order-insensitive value hashes.

Brute-force shapes (O(n^2) self-joins, recursive CTEs) are FINE here: the
oracle runs at sf=0.01 only.  The Spark side uses the scalable plans; the
whole point is that LSH band joins etc. provably equal brute force at the
configured thresholds.
"""

from __future__ import annotations

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.hashing import minhash_perms, MERSENNE61
from webdedup.operators.textstats import LANG_MARKERS, STOPWORDS

# PATTERN NOTE: RE2's \s is [ \t\n\f\r] (no \x0b); adding \x0b makes the
# split identical to java.util.regex \s+ used by the Spark side (and to the
# explicit ASCII class in tokenize.tokenize_py).  text is coalesced to ''
# so NULL text yields zero counts in BOTH engines, matching the Spark
# operators' NULL-safe ``_txt`` wrapper (textstats.py) and the signature
# UDFs' ``text or ""``.
TOKS_CTE = r"""
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[\s\x0b]+'), t -> t <> '')) AS tok
  FROM documents
)"""

TOKLIST_CTE = r"""
toklist AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[\s\x0b]+'), t -> t <> '') AS toks
  FROM documents
)"""


def _simhash_ctes() -> str:
    """CTE chain computing sim(doc_id, simhash) for every document."""
    return r"""
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS cnt FROM toks GROUP BY 1, 2),
th AS (
  SELECT doc_id, cnt,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
  FROM tf
),
bits AS (
  SELECT doc_id, i,
         sum(cnt * (2 * (CASE WHEN i < 32 THEN (lo >> i) & 1
                              ELSE (hi >> (i - 32)) & 1 END) - 1)) AS vote
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) GROUP BY 1, 2
),
packed AS (
  SELECT doc_id,
         sum(CASE WHEN i < 32 AND vote > 0 THEN 1::BIGINT << i ELSE 0 END) AS lo32,
         sum(CASE WHEN i >= 32 AND vote > 0 THEN 1::BIGINT << (i - 32) ELSE 0 END) AS hi32
  FROM bits GROUP BY 1
),
sim AS (
  SELECT d.doc_id,
         COALESCE((CASE WHEN p.hi32 >= 2147483648 THEN p.hi32 - 4294967296
                        ELSE p.hi32 END) * 4294967296 + p.lo32, 0)::BIGINT AS simhash
  FROM documents d LEFT JOIN packed p USING (doc_id)
)"""


def _shingle_ctes(k: int) -> str:
    """CTE chain computing sh(doc_id, sh) = distinct 60-bit shingle hashes."""
    return f"""
shing AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k}
              THEN [array_to_string(toks[i:i+{k - 1}], ' ')
                    for i in range(1, len(toks) - {k - 1} + 1)]
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS shingles
  FROM toklist
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh
  FROM shing
)"""


def exact_dup_groups() -> str:
    return """
SELECT sha256(text) AS content_sha,
       count(*)::BIGINT AS n_members,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def exact_dup_groups_planted() -> str:
    """Non-vacuous A1 twin: the same clone augmentation as the Spark query
    (10 smallest-md5(doc_id) docs cloned with negated ids) so the group
    aggregation is exercised on real multi-member groups regardless of the
    corpus having natural duplicates."""
    return """
WITH seed AS (
  SELECT doc_id, text FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10
),
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT -doc_id, text FROM seed
)
SELECT sha256(text) AS content_sha,
       count(*)::BIGINT AS n_members,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM aug GROUP BY 1 HAVING count(*) > 1
"""


def content_hashes() -> str:
    return "SELECT doc_id, sha256(text) AS content_sha FROM documents"


def source_dup_stats() -> str:
    """Twin of the per-source crawl-health rollup: same sha256 content key
    as ``content_hashes`` (both engines hash the UTF-8 text), distinct
    counts skip NULL identically."""
    return """
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT sha256(text))::BIGINT AS n_distinct,
       (count(*) - count(DISTINCT sha256(text)))::BIGINT AS n_exact_dups,
       round((count(*) - count(DISTINCT sha256(text)))::DOUBLE / count(*), 6)
         AS dup_rate,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1
"""


def token_stats() -> str:
    return f"""
WITH {TOKLIST_CTE.strip()}
SELECT doc_id,
       len(toks)::INT AS n_tokens,
       len(list_distinct(toks))::INT AS n_unique_tokens,
       round(CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
                  ELSE 0.0 END, 6) AS avg_token_len
FROM toklist
"""


def subtoken_stats() -> str:
    """Twin of ``textstats.subtoken_stats``: BPE-ish regex pieces.  The
    piece pattern uses explicit whitespace chars (Java \\s vs RE2 \\s
    disagree on \\x0b) so both engines split identically."""
    pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r\\f]"
    return f"""
WITH {TOKLIST_CTE.strip()},
p AS (
  SELECT doc_id, regexp_extract_all(coalesce(text, ''), '{pat}') AS pieces
  FROM documents
)
SELECT p.doc_id,
       len(pieces)::INT AS n_pieces,
       len(list_distinct(pieces))::INT AS n_unique_pieces,
       round(CASE WHEN len(pieces) > 0
                  THEN list_sum(list_transform(pieces, t -> length(t)))::DOUBLE / len(pieces)
                  ELSE 0.0 END, 6) AS avg_piece_len,
       round(CASE WHEN len(toks) > 0
                  THEN len(pieces)::DOUBLE / len(toks)
                  ELSE 0.0 END, 6) AS fertility
FROM p JOIN toklist USING (doc_id)
"""


def quality_scores() -> str:
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH {TOKLIST_CTE.strip()},
q AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS n_chars,
         length(coalesce(text, ''))
           - length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', '', 'g')) AS n_punct,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS uniq,
         len(list_filter(toks, t -> list_contains([{stop}], t))) AS n_stop
  FROM toklist JOIN documents USING (doc_id)
)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       n_tok::INT AS n_tokens,
       round(CASE WHEN n_tok > 0 THEN n_stop::DOUBLE / n_tok ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n_tok > 0 THEN uniq::DOUBLE / n_tok ELSE 0.0 END, 6) AS uniq_ratio,
       round(least(n_tok::DOUBLE / 100.0, 1.0) * 0.4
             + least((CASE WHEN n_tok > 0 THEN n_stop::DOUBLE / n_tok ELSE 0.0 END) * 5.0, 1.0) * 0.3
             + (CASE WHEN n_tok > 0 THEN uniq::DOUBLE / n_tok ELSE 0.0 END) * 0.3, 6) AS quality
FROM q
"""


def lang_id() -> str:
    cases = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        cases.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(toks, t -> list_contains([{markers}], t)))::BIGINT AS hits "
            f"FROM toklist"
        )
    union = " UNION ALL ".join(cases)
    return f"""
WITH {TOKLIST_CTE.strip()},
scores AS ({union}),
best AS (
  SELECT doc_id, max(hits) AS top_hits FROM scores GROUP BY 1
)
SELECT b.doc_id,
       CASE WHEN b.top_hits > 0
            THEN (SELECT min(s.lang) FROM scores s
                  WHERE s.doc_id = b.doc_id AND s.hits = b.top_hits)
            ELSE 'und' END AS pred_lang,
       b.top_hits AS lang_score
FROM best b
"""


def doc_fingerprint() -> str:
    # coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
    return f"""
WITH {TOKLIST_CTE.strip()}
SELECT doc_id,
       ('0x' || substr(md5(coalesce(array_to_string(toks, ' '), '')), 1, 15))::BIGINT AS fingerprint
FROM toklist
"""


def simhash64() -> str:
    return f"WITH {TOKS_CTE.strip()},{_simhash_ctes()}\nSELECT doc_id, simhash FROM sim"


def simhash_pairs(threshold: int) -> str:
    """Brute-force Hamming join — what the Spark band-LSH provably equals."""
    return f"""
WITH {TOKS_CTE.strip()},{_simhash_ctes()}
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {threshold}
"""


def shingle_stats(k: int) -> str:
    return f"""
WITH {TOKLIST_CTE.strip()},{_shingle_ctes(k)}
SELECT d.doc_id, COALESCE(c.n_shingles, 0)::INT AS n_shingles
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1) c
  USING (doc_id)
"""


def _jacc_ctes(jt: float, max_df: int | None = None) -> str:
    """CTE chain culminating in ``jacc(a, b, jaccard)`` — requires the
    ``sh`` CTE (``_shingle_ctes``) in scope.

    With ``max_df`` set, candidate pairs are generated only from shingles
    whose document frequency is <= max_df, then exact Jaccard is computed
    over the FULL shingle sets — the by-construction twin of
    ``jaccard.jaccard_all_pairs(max_df=...)`` (the Spark side's
    boilerplate-shingle cap).  Without it, the fully-uncapped inverted-index
    shape.  Keeping the cap IN the oracle means the Spark/oracle equality no
    longer rests on a data property of the fixtures (max shingle df << cap);
    the two engines now agree on any corpus."""
    cap_cte, cand_join = "", ""
    if max_df is not None:
        cap_cte = f"""
jdfc AS (SELECT sh, count(*) AS c FROM sh GROUP BY 1),
jcand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN jdfc d ON d.sh = a.sh
  WHERE d.c <= {max_df}
),"""
        cand_join = "JOIN jcand c ON c.a = a.doc_id AND c.b = b.doc_id"
    return f"""{cap_cte}
jsizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
jinter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  {cand_join}
  GROUP BY 1, 2
),
jacc AS (
  SELECT i.a, i.b, round(i.i::DOUBLE / (sa.sz + sb.sz - i.i), 6) AS jaccard
  FROM jinter i
  JOIN jsizes sa ON sa.doc_id = i.a
  JOIN jsizes sb ON sb.doc_id = i.b
  WHERE i.i::DOUBLE / (sa.sz + sb.sz - i.i) >= {jt}
)"""


def jaccard_pairs(k: int, threshold: float, max_df: int | None = None) -> str:
    return f"""
WITH {TOKLIST_CTE.strip()},{_shingle_ctes(k)},{_jacc_ctes(threshold, max_df)}
SELECT a, b, jaccard FROM jacc
"""


def minhash_sig_long(cfg: DedupConfig = DEFAULT) -> str:
    """Exploded minhash signature (doc_id, perm_id, sig_value)."""
    a, b = minhash_perms(cfg.minhash_perms, cfg.seed)
    perm_rows = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(cfg.minhash_perms)
    )
    k = cfg.shingle_k
    return f"""
WITH {TOKLIST_CTE.strip()},
shing AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k}
              THEN [array_to_string(toks[i:i+{k - 1}], ' ')
                    for i in range(1, len(toks) - {k - 1} + 1)]
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS shingles
  FROM toklist
),
sh32 AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(unnest(shingles)), 1, 8))::BIGINT AS h
  FROM shing
),
perms(perm_id, a, b) AS (VALUES {perm_rows}),
mins AS (
  SELECT s.doc_id, p.perm_id,
         min(((p.a::HUGEINT * s.h + p.b) % {MERSENNE61})::BIGINT) AS sig_value
  FROM sh32 s CROSS JOIN perms p
  GROUP BY 1, 2
)
SELECT d.doc_id, p.perm_id,
       COALESCE(m.sig_value, {MERSENNE61}) AS sig_value
FROM documents d CROSS JOIN perms p
LEFT JOIN mins m ON m.doc_id = d.doc_id AND m.perm_id = p.perm_id
"""


def _minhash_band_ctes(cfg: DedupConfig = DEFAULT) -> str:
    """CTE chain: sigarr(doc_id, sig[128]) + cand(a, b) = banded-LSH
    candidate pairs.  Band membership is SLICE EQUALITY of the signature
    rows — semantically identical to Spark's ``xxhash64(slice)`` equi-join
    key (equal slices always collide; a cross-slice xxhash64 collision has
    p ≈ 5e-20 per pair-band and any such phantom candidate is removed by
    the exact verify anyway)."""
    r, b = cfg.minhash_rows, cfg.minhash_bands
    return f"""
sigs AS ({minhash_sig_long(cfg)}),
sigarr AS (
  SELECT doc_id, list(sig_value ORDER BY perm_id) AS sig FROM sigs GROUP BY 1
),
bandtab AS (
  SELECT doc_id, j,
         array_to_string(sig[{r}*j+1 : {r}*j+{r}], ',') AS band_key
  FROM sigarr CROSS JOIN (SELECT unnest(range({b})) AS j)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bandtab x JOIN bandtab y
    ON x.j = y.j AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)"""


def minhash_est_jaccard(cfg: DedupConfig = DEFAULT) -> str:
    """Twin of ``minhash_lsh.signature_jaccard`` over banded candidates:
    estimated Jaccard = fraction of agreeing signature positions
    (``minhash_search.py:81-83``).  Deterministic: the 128 seeded perms are
    inlined, banding is slice equality."""
    n = cfg.minhash_perms
    return f"""
WITH {_minhash_band_ctes(cfg).strip()}
SELECT c.a, c.b,
       round(len(list_filter(range({n}), i -> sa.sig[i+1] = sb.sig[i+1]))::DOUBLE / {n}, 6)
         AS est_jaccard
FROM cand c
JOIN sigarr sa ON sa.doc_id = c.a
JOIN sigarr sb ON sb.doc_id = c.b
"""


def minhash_lsh_pairs(cfg: DedupConfig = DEFAULT,
                      threshold: float | None = None) -> str:
    """Twin of ``minhash_lsh.minhash_edges``: banded-LSH candidates
    verified by EXACT shingle Jaccard >= threshold.  Both stages are
    deterministic (seeded perms inlined; banding is slice equality), so the
    'probabilistic' LSH query is oracle-checkable after all."""
    t = cfg.jaccard_threshold if threshold is None else threshold
    k = cfg.shingle_k
    return f"""
WITH {_minhash_band_ctes(cfg).strip()},
{TOKLIST_CTE.strip()},{_shingle_ctes(k)},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS i
  FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
  JOIN cand c ON c.a = s1.doc_id AND c.b = s2.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       round(i.i::DOUBLE / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.i::DOUBLE / (sa.sz + sb.sz - i.i) >= {t}
"""


def substring_pairs(cfg: DedupConfig = DEFAULT, min_anchors: int = 2) -> str:
    K = cfg.anchor_tokens
    return f"""
WITH {TOKLIST_CTE.strip()},
grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {K}
              THEN [array_to_string(toks[i:i+{K - 1}], ' ')
                    for i in range(1, len(toks) - {K - 1} + 1)]
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS gs
  FROM toklist
),
anchors AS (
  SELECT DISTINCT doc_id, h AS anchor FROM (
    SELECT doc_id, ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT AS h
    FROM grams
  ) WHERE h % {cfg.anchor_mod} = 0
)
SELECT a.doc_id AS a, b.doc_id AS b, count(*)::BIGINT AS n_shared
FROM anchors a JOIN anchors b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_anchors}
"""


def cluster_assignments(cfg: DedupConfig = DEFAULT) -> str:
    """CC over (exact ∪ simhash<=thr ∪ jaccard>=thr) edges via iterative
    min-label recursive CTE; cluster_id = component-min doc_id.  The
    Jaccard arm uses the SAME df-capped candidate generation as the Spark
    matchers (``_jacc_ctes``), so the twins agree by construction."""
    k, jt, ht = cfg.shingle_k, cfg.jaccard_threshold, cfg.hamming_threshold
    return f"""
WITH RECURSIVE {TOKS_CTE.strip()},{TOKLIST_CTE.strip()},{_simhash_ctes()},{_shingle_ctes(k)},{_jacc_ctes(jt, cfg.max_bucket_size)},
hamm AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {ht}
),
exact AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM documents a JOIN documents b
    ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a, b FROM jacc UNION SELECT a, b FROM hamm UNION SELECT a, b FROM exact
),
sym AS (
  SELECT a AS u, b AS v FROM edges UNION SELECT b AS u, a AS v FROM edges
),
walk(u, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, w.label FROM walk w JOIN sym s ON s.v = w.u
  WHERE w.label < s.u
)
SELECT u AS doc_id, min(label) AS cluster_id FROM walk GROUP BY 1
"""


def _matcher_edges_query(cfg: DedupConfig = DEFAULT) -> str:
    """Standalone query: the union of the three batch matchers' pair sets
    (exact sha ∪ SimHash Hamming<=thr ∪ exact Jaccard>=thr) — the 'truth'
    side of ``pipeline_eval`` and the edge set under ``cluster_assignments``."""
    k, jt, ht = cfg.shingle_k, cfg.jaccard_threshold, cfg.hamming_threshold
    return f"""SELECT a, b FROM (
WITH {TOKS_CTE.strip()},{TOKLIST_CTE.strip()},{_simhash_ctes()},{_shingle_ctes(k)},{_jacc_ctes(jt, cfg.max_bucket_size)},
hamm AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {ht}
),
exact AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM documents a JOIN documents b
    ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id
)
SELECT a, b FROM jacc UNION SELECT a, b FROM hamm UNION SELECT a, b FROM exact)"""


def pipeline_eval(cfg: DedupConfig = DEFAULT) -> str:
    """Twin of the end-to-end evaluation report (``evaluator.py:33-63``,
    written by ``run_pipeline.py:504-505``): predicted = all intra-cluster
    pairs of the union-of-matchers clustering; truth = the matched pair set
    itself.  Recall must be exactly 1.0 (connected components never
    separates a matched pair); precision < 1 measures transitive-closure
    expansion.  f1 is derived from UNROUNDED precision/recall, then rounded
    — mirroring ``evaluate.metrics_frame``."""
    return f"""
WITH assignments AS ({cluster_assignments(cfg)}),
truthp AS ({_matcher_edges_query(cfg)}),
pred AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM assignments x JOIN assignments y
    ON x.cluster_id = y.cluster_id AND x.doc_id < y.doc_id
),
c AS (SELECT
  (SELECT count(*) FROM pred p JOIN truthp t
     ON p.a = t.a AND p.b = t.b)::BIGINT AS tp,
  (SELECT count(*) FROM pred p LEFT JOIN truthp t
     ON p.a = t.a AND p.b = t.b WHERE t.a IS NULL)::BIGINT AS fp,
  (SELECT count(*) FROM truthp t LEFT JOIN pred p
     ON p.a = t.a AND p.b = t.b WHERE p.a IS NULL)::BIGINT AS fn),
r AS (SELECT tp, fp, fn,
  CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) ELSE 0.0 END AS prec,
  CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) ELSE 0.0 END AS rec
  FROM c)
SELECT tp, fp, fn,
  round(prec, 6) AS "precision", round(rec, 6) AS recall,
  round(CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec)
        ELSE 0.0 END, 6) AS f1
FROM r
"""


def duplicate_sets(cfg: DedupConfig = DEFAULT, max_members: int = 1000) -> str:
    """Twin of ``represent.duplicate_sets``: bounded sorted member lists of
    multi-member clusters (``run_pipeline.py:213-217``'s cluster JSON)."""
    return f"""
WITH assignments AS ({cluster_assignments(cfg)})
SELECT cluster_id,
       count(*)::BIGINT AS n_members,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{max_members}], ',')
         AS member_ids
FROM assignments GROUP BY 1 HAVING count(*) > 1
"""


def representatives(cfg: DedupConfig = DEFAULT) -> str:
    return f"""
WITH assignments AS ({cluster_assignments(cfg)})
SELECT cluster_id, representative_id, score FROM (
  SELECT a.cluster_id, d.doc_id AS representative_id, d.n_chars AS score,
         row_number() OVER (PARTITION BY a.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
  FROM assignments a JOIN documents d USING (doc_id)
) WHERE rk = 1
"""


def cosine_topk(k: int) -> str:
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
n AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
  FROM v
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(len(a.vec)), i -> a.vec[i+1] * b.vec[i+1]))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, cosine, rank::INT AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def cosine_pairs(threshold: float) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
),
n AS (
  SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_sum(list_transform(range(len(a.vec)), i -> a.vec[i+1] * b.vec[i+1]))
             / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(len(a.vec)), i -> a.vec[i+1] * b.vec[i+1]))
            / (a.nrm * b.nrm), 6) >= {threshold}
"""


def _hyperplane_sig_ctes(cfg: DedupConfig = DEFAULT) -> str:
    """CTE chain computing vsig(vec_id, sig): the seeded random-hyperplane
    SimHash of every embedding, bit-identical to ``vector_simhash_udf``.

    The bits x dim plane matrix is generated once (same ``RandomState(seed)``
    as the Spark UDF closure) and inlined as full-precision float literals —
    the same trick ``minhash_sig_long`` uses for the 128 permutations.  Sign
    agreement between numpy's matmul and DuckDB's sequential list_sum is
    robust here: the smallest |dot| in the fixed test embeddings is ~3e-4,
    ~9 orders of magnitude above float64 associativity noise."""
    from webdedup.functions.hashing import hyperplanes
    planes = hyperplanes(cfg.hyperplane_bits, cfg.embedding_dim, cfg.seed)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}])"
        for i in range(cfg.hyperplane_bits)
    )
    return f"""
planes(bit_id, p) AS (VALUES {rows}),
vemb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
vbits AS (
  SELECT vec_id, bit_id,
         CASE WHEN list_sum(list_transform(range(len(vec)), i -> vec[i+1] * p[i+1])) > 0
              THEN (CASE WHEN bit_id = 63 THEN (-9223372036854775807 - 1)::BIGINT
                         ELSE 1::BIGINT << bit_id END)
              ELSE 0 END AS w
  FROM vemb CROSS JOIN planes
),
vsig AS (SELECT vec_id, sum(w)::BIGINT AS sig FROM vbits GROUP BY 1)"""


def vector_signatures(cfg: DedupConfig = DEFAULT) -> str:
    return f"WITH {_hyperplane_sig_ctes(cfg).strip()}\nSELECT vec_id, sig FROM vsig"


def lsh_cosine_pairs(threshold: float, cfg: DedupConfig = DEFAULT,
                     bands: int = 4, probe_bits: int = 1) -> str:
    """Twin of ``similarity.lsh_cosine_pairs``: a pair is a candidate iff
    SOME band of the hyperplane signatures differs in <= probe_bits bits
    (exact-key collision plus multi-probe neighbors), then exact cosine.
    Deterministic end-to-end because the signature itself is (see
    ``_hyperplane_sig_ctes``)."""
    width = cfg.hyperplane_bits // bands
    mask = (1 << width) - 1
    collide = " OR ".join(
        f"bit_count((xor(a.sig, b.sig) >> {t * width}) & {mask}) <= {probe_bits}"
        for t in range(bands)
    )
    return f"""
WITH {_hyperplane_sig_ctes(cfg).strip()},
n AS (
  SELECT v.vec_id, v.vec, s.sig,
         sqrt(list_sum(list_transform(v.vec, x -> x * x))) AS nrm
  FROM vemb v JOIN vsig s USING (vec_id)
)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_sum(list_transform(range(len(a.vec)), i -> a.vec[i+1] * b.vec[i+1]))
             / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ({collide})
  AND round(list_sum(list_transform(range(len(a.vec)), i -> a.vec[i+1] * b.vec[i+1]))
            / (a.nrm * b.nrm), 6) >= {threshold}
"""


def ivf_cosine_pairs(threshold: float, k_centroids: int = 16,
                     nprobe: int = 2) -> str:
    """Twin of ``similarity.ivf_cosine_pairs``: md5-sampled centroids,
    (distance, cid)-ranked probe lists, probe-list ∋ storage-list candidate
    join, exact cosine — every step deterministic in both engines."""
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
cents AS (
  SELECT id AS cid, vec AS cvec FROM v
  ORDER BY md5(id::VARCHAR), id LIMIT {k_centroids}
),
d AS (
  SELECT v.id, v.cid2 AS cid, v.d2 FROM (
    SELECT v.id, c.cid AS cid2,
           round(list_sum(list_transform(range(len(v.vec)),
                 i -> (v.vec[i+1] - c.cvec[i+1]) * (v.vec[i+1] - c.cvec[i+1]))), 6) AS d2
    FROM v CROSS JOIN cents c
  ) v
),
ranked AS (
  SELECT id, cid,
         row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rank
  FROM d
),
cand AS (
  SELECT DISTINCT least(p.id, s.id) AS a, greatest(p.id, s.id) AS b
  FROM (SELECT id, cid FROM ranked WHERE rank <= {nprobe}) p
  JOIN (SELECT id, cid FROM ranked WHERE rank = 1) s ON p.cid = s.cid
  WHERE p.id <> s.id
),
n AS (
  SELECT id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
)
SELECT c.a, c.b,
       round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
             / (x.nrm * y.nrm), 6) AS cosine
FROM cand c JOIN n x ON x.id = c.a JOIN n y ON y.id = c.b
WHERE round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
            / (x.nrm * y.nrm), 6) >= {threshold}
"""


def ivf_lloyd_cosine_pairs(threshold: float, k_centroids: int = 16,
                           nprobe: int = 2, iters: int = 2) -> str:
    """Twin of ``similarity.ivf_cosine_pairs(lloyd_iters=iters)``: the
    md5-sampled seeds refined by ``iters`` unrolled Lloyd steps before the
    final assignment.  The per-dimension mean is computed EXACTLY in the
    decimal domain (``sum(CAST(x AS DECIMAL(27,6)))`` — order-independent)
    then ``round(sum::double / n, 6)``, matching ``similarity._lloyd_step``
    bit for bit; empty lists keep the previous centroid via the LEFT JOIN
    COALESCE, and cid labels stay the seed ids in both engines."""
    d2 = ("round(list_sum(list_transform(range(len(v.vec)), "
          "j -> (v.vec[j+1] - c.cvec[j+1]) * (v.vec[j+1] - c.cvec[j+1]))), 6)")
    steps = []
    for i in range(iters):
        steps.append(f"""
asg_{i} AS (
  SELECT cid, vec FROM (
    SELECT v.vec, c.cid,
           row_number() OVER (PARTITION BY v.id
                              ORDER BY {d2} ASC, c.cid ASC) AS rk
    FROM v CROSS JOIN cents_{i} c)
  WHERE rk = 1
),
md_{i} AS (
  SELECT cid, u.dim AS dim,
         round(CAST(sum(CAST(u.x AS DECIMAL(27,6))) AS DOUBLE)
               / count(*), 6) AS m
  FROM (SELECT cid,
               unnest(list_transform(range(len(vec)),
                      j -> struct_pack(dim := j, x := vec[j+1]))) AS u
        FROM asg_{i})
  GROUP BY cid, u.dim
),
ml_{i} AS (SELECT cid, list(m ORDER BY dim) AS mvec FROM md_{i} GROUP BY cid),
cents_{i + 1} AS (
  SELECT c.cid, COALESCE(m.mvec, c.cvec) AS cvec
  FROM cents_{i} c LEFT JOIN ml_{i} m USING (cid)
)""")
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
cents_0 AS (
  SELECT id AS cid, vec AS cvec FROM v
  ORDER BY md5(id::VARCHAR), id LIMIT {k_centroids}
),{",".join(steps)},
ranked AS (
  SELECT id, cid,
         row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rank
  FROM (
    SELECT v.id, c.cid, {d2} AS d2
    FROM v CROSS JOIN cents_{iters} c)
),
cand AS (
  SELECT DISTINCT least(p.id, s.id) AS a, greatest(p.id, s.id) AS b
  FROM (SELECT id, cid FROM ranked WHERE rank <= {nprobe}) p
  JOIN (SELECT id, cid FROM ranked WHERE rank = 1) s ON p.cid = s.cid
  WHERE p.id <> s.id
),
n AS (
  SELECT id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
)
SELECT c.a, c.b,
       round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
             / (x.nrm * y.nrm), 6) AS cosine
FROM cand c JOIN n x ON x.id = c.a JOIN n y ON y.id = c.b
WHERE round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
            / (x.nrm * y.nrm), 6) >= {threshold}
"""


def ivf2_cosine_pairs(threshold: float, k1: int = 8, k2: int = 4,
                      nprobe1: int = 2, nprobe2: int = 2) -> str:
    """Twin of ``similarity.ivf2_cosine_pairs``: two-level IVF (the HNSW
    -slot index).  Level-1 = md5-sampled coarse centroids; level-2 = the
    ``k2`` smallest-md5 members of each level-1 storage list; candidates =
    probe (c1, c2) keys ∋ storage keys; exact cosine verify.  Every pick
    and rank is (rounded-distance, id)-deterministic in both engines."""
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
cents1 AS (
  SELECT id AS cid, vec AS cvec FROM v
  ORDER BY md5(id::VARCHAR), id LIMIT {k1}
),
a1 AS (
  SELECT * FROM (
    SELECT id, vec, cid,
           row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rank
    FROM (
      SELECT v.id, v.vec, c.cid,
             round(list_sum(list_transform(range(len(v.vec)),
                   i -> (v.vec[i+1] - c.cvec[i+1]) * (v.vec[i+1] - c.cvec[i+1]))), 6) AS d2
      FROM v CROSS JOIN cents1 c))
  WHERE rank <= {nprobe1}
),
cents2 AS (
  SELECT cid, id AS cid2, vec AS cvec2 FROM (
    SELECT cid, id, vec,
           row_number() OVER (PARTITION BY cid ORDER BY md5(id::VARCHAR), id) AS pk
    FROM a1 WHERE rank = 1)
  WHERE pk <= {k2}
),
assign2 AS (
  SELECT id, rank, cid, cid2,
         row_number() OVER (PARTITION BY id, cid ORDER BY d22 ASC, cid2 ASC) AS rk2
  FROM (
    SELECT a.id, a.rank, c.cid, c.cid2,
           round(list_sum(list_transform(range(len(a.vec)),
                 i -> (a.vec[i+1] - c.cvec2[i+1]) * (a.vec[i+1] - c.cvec2[i+1]))), 6) AS d22
    FROM a1 a JOIN cents2 c ON a.cid = c.cid)
),
cand AS (
  SELECT DISTINCT least(p.id, s.id) AS a, greatest(p.id, s.id) AS b
  FROM (SELECT id, cid, cid2 FROM assign2 WHERE rk2 <= {nprobe2}) p
  JOIN (SELECT id, cid, cid2 FROM assign2 WHERE rank = 1 AND rk2 = 1) s
    ON p.cid = s.cid AND p.cid2 = s.cid2
  WHERE p.id <> s.id
),
n AS (
  SELECT id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
)
SELECT c.a, c.b,
       round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
             / (x.nrm * y.nrm), 6) AS cosine
FROM cand c JOIN n x ON x.id = c.a JOIN n y ON y.id = c.b
WHERE round(list_sum(list_transform(range(len(x.vec)), i -> x.vec[i+1] * y.vec[i+1]))
            / (x.nrm * y.nrm), 6) >= {threshold}
"""


def ann_topk(k: int = 10, k1: int = 8, k2: int = 4,
             nprobe1: int = 2, nprobe2: int = 2) -> str:
    """Twin of ``similarity.ann_topk``: two-level-IVF candidates (same CTEs
    as the ``ivf2_cosine_pairs`` twin), DIRECTIONAL (query probes, neighbor
    stores — no least/greatest), then per-query exact-cosine rank
    ``row_number() <= k`` over (rounded cosine desc, neighbor_id asc)."""
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
cents1 AS (
  SELECT id AS cid, vec AS cvec FROM v
  ORDER BY md5(id::VARCHAR), id LIMIT {k1}
),
a1 AS (
  SELECT * FROM (
    SELECT id, vec, cid,
           row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rank
    FROM (
      SELECT v.id, v.vec, c.cid,
             round(list_sum(list_transform(range(len(v.vec)),
                   i -> (v.vec[i+1] - c.cvec[i+1]) * (v.vec[i+1] - c.cvec[i+1]))), 6) AS d2
      FROM v CROSS JOIN cents1 c))
  WHERE rank <= {nprobe1}
),
cents2 AS (
  SELECT cid, id AS cid2, vec AS cvec2 FROM (
    SELECT cid, id, vec,
           row_number() OVER (PARTITION BY cid ORDER BY md5(id::VARCHAR), id) AS pk
    FROM a1 WHERE rank = 1)
  WHERE pk <= {k2}
),
assign2 AS (
  SELECT id, rank, cid, cid2,
         row_number() OVER (PARTITION BY id, cid ORDER BY d22 ASC, cid2 ASC) AS rk2
  FROM (
    SELECT a.id, a.rank, c.cid, c.cid2,
           round(list_sum(list_transform(range(len(a.vec)),
                 i -> (a.vec[i+1] - c.cvec2[i+1]) * (a.vec[i+1] - c.cvec2[i+1]))), 6) AS d22
    FROM a1 a JOIN cents2 c ON a.cid = c.cid)
),
cand AS (
  SELECT DISTINCT p.id AS query_id, s.id AS neighbor_id
  FROM (SELECT id, cid, cid2 FROM assign2 WHERE rk2 <= {nprobe2}) p
  JOIN (SELECT id, cid, cid2 FROM assign2 WHERE rank = 1 AND rk2 = 1) s
    ON p.cid = s.cid AND p.cid2 = s.cid2
  WHERE p.id <> s.id
),
n AS (
  SELECT id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_sum(list_transform(range(len(x.vec)),
               i -> x.vec[i+1] * y.vec[i+1])) / (x.nrm * y.nrm), 6) AS cosine
  FROM cand c JOIN n x ON x.id = c.query_id JOIN n y ON y.id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""


def _blocks_sql_unsigned() -> str:
    """HUGEINT-based unsigned view of the signed 64-bit simhash, for block
    extraction that matches Spark's shiftrightunsigned semantics."""
    return ("(CASE WHEN simhash < 0 THEN simhash::HUGEINT + "
            "18446744073709551616::HUGEINT ELSE simhash::HUGEINT END)")


def simhash_band_stats(bands: int = 8, width: int = 8) -> str:
    """Per-table LSH index stats (A6 analog: simhash.cpp:325-341)."""
    u = _blocks_sql_unsigned()
    arms = " UNION ALL ".join(
        f"SELECT doc_id, {t} AS table_id, "
        f"(({u} >> {t * width}) % {1 << width})::BIGINT AS band_key FROM sim"
        for t in range(bands)
    )
    return f"""
WITH {TOKS_CTE.strip()},{_simhash_ctes()},
bandtab AS ({arms}),
buckets AS (
  SELECT table_id, band_key, count(*) AS bsz
  FROM bandtab GROUP BY 1, 2
)
SELECT table_id,
       count(*)::BIGINT AS n_buckets,
       max(bsz)::BIGINT AS max_bucket,
       sum(bsz)::BIGINT AS n_rows
FROM buckets GROUP BY 1
"""


def median_candidate_hamming(bands: int = 8, width: int = 8) -> str:
    """A8 median-distance heuristic over LSH candidate pairs: candidates =
    pairs sharing >= 1 of the 8 blocks; value = 0.5 * exact median of their
    Hamming distances (run_pipeline.py:391-393 semantics)."""
    u = _blocks_sql_unsigned()
    blocks_a = [f"(({u.replace('simhash', 'a.simhash')} >> {t * width}) % {1 << width})" for t in range(bands)]
    blocks_b = [f"(({u.replace('simhash', 'b.simhash')} >> {t * width}) % {1 << width})" for t in range(bands)]
    collide = " OR ".join(f"{x} = {y}" for x, y in zip(blocks_a, blocks_b))
    return f"""
WITH {TOKS_CTE.strip()},{_simhash_ctes()},
cand AS (
  SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE {collide}
)
SELECT round(0.5 * quantile_cont(hamming, 0.5), 6) AS median_threshold,
       count(*)::BIGINT AS n_candidates
FROM cand
"""


def matcher_agreement(k: int, ham_thr: int, jac_thr: float,
                      max_df: int | None = None) -> str:
    """U2/A5: pairwise agreement between the SimHash and Jaccard matchers."""
    return f"""
WITH {TOKS_CTE.strip()},{TOKLIST_CTE.strip()},{_simhash_ctes()},{_shingle_ctes(k)},{_jacc_ctes(jac_thr, max_df)},
hamm AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {ham_thr}
)
SELECT
  (SELECT count(*) FROM hamm h JOIN jacc j
     ON h.a = j.a AND h.b = j.b)::BIGINT AS tp,
  (SELECT count(*) FROM hamm h LEFT JOIN jacc j
     ON h.a = j.a AND h.b = j.b WHERE j.a IS NULL)::BIGINT AS fp,
  (SELECT count(*) FROM jacc j LEFT JOIN hamm h
     ON h.a = j.a AND h.b = j.b WHERE h.a IS NULL)::BIGINT AS fn
"""


def lang_stats() -> str:
    """P1-style predicate + aggregation (partition-pruning shape)."""
    return """
SELECT lang,
       count(*)::BIGINT AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       max(n_chars)::BIGINT AS max_chars
FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
"""


def topk_per_lang(k: int = 3) -> str:
    """W2 ranking window beyond representatives: top-k docs by size per lang."""
    return f"""
SELECT lang, doc_id, n_chars, rk FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {k}
"""


def media_meta() -> str:
    """Multimodal plumbing oracle: payload bytes are utf-8 text, so size and
    sha256 are SQL-checkable (decode stub outputs are pytest-covered)."""
    return """
SELECT doc_id AS media_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
"""


def source_labels() -> str:
    """P2 regex label projection (ground_truth_utils.py:15-21 analog)."""
    return """
SELECT doc_id,
       CASE WHEN regexp_matches(source, 'src(\\d+)')
            THEN regexp_extract(source, 'src(\\d+)', 1)
            ELSE 'unknown' END AS label
FROM documents
"""


def cluster_quality(dim: int = 64,
                    sample_per_cluster: int | None = None) -> str:
    """Twin of ``cluster_quality.cluster_quality``: silhouette /
    Davies-Bouldin / Calinski-Harabasz over (embedding, label) — sklearn
    formulas (reference ``clustering_metrics.py:5-40``), Euclidean, all
    closed-form aggregations.  Float associativity (~1e-12 rel) is far
    below the shared 6-decimal rounding.

    ``sample_per_cluster`` mirrors the Spark side's
    ``silhouette_sample_per_cluster``: the O(n^2) silhouette runs on the
    ``m`` smallest-md5(id) members of each cluster (DB/CH stay exact over
    all points)."""
    if sample_per_cluster is None:
        sv = "SELECT * FROM v"
    else:
        sv = f"""SELECT id, lbl, vec FROM (
    SELECT id, lbl, vec,
           row_number() OVER (PARTITION BY lbl
                              ORDER BY md5(id::VARCHAR), id) AS sk
    FROM v) WHERE sk <= {sample_per_cluster}"""
    return f"""
WITH v AS (
  SELECT vec_id AS id, label AS lbl,
         list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
sv AS ({sv}),
pairs AS (
  SELECT a.id AS i, a.lbl AS li, b.lbl AS lj,
         sqrt(list_sum(list_transform(range({dim}),
              k -> (a.vec[k+1] - b.vec[k+1]) * (a.vec[k+1] - b.vec[k+1])))) AS d
  FROM sv a JOIN sv b ON a.id <> b.id
),
md AS (SELECT i, li, lj, avg(d) AS m FROM pairs GROUP BY 1, 2, 3),
ai AS (SELECT i, m AS ad FROM md WHERE li = lj),
bi AS (SELECT i, min(m) AS bd FROM md WHERE li <> lj GROUP BY 1),
sil AS (
  SELECT avg(CASE WHEN a.ad IS NULL OR b.bd IS NULL THEN 0.0
             ELSE (b.bd - a.ad) / greatest(a.ad, b.bd) END) AS s
  FROM (SELECT id AS i FROM sv) ids
  LEFT JOIN ai a USING (i) LEFT JOIN bi b USING (i)
),
pts AS (
  SELECT id, lbl, k AS pos, vec[k+1] AS val
  FROM v CROSS JOIN (SELECT unnest(range({dim})) AS k)
),
cent AS (SELECT lbl, pos, avg(val) AS c FROM pts GROUP BY 1, 2),
counts AS (SELECT lbl, count(*) AS nk FROM v GROUP BY 1),
pdist AS (
  SELECT p.id, p.lbl, sqrt(sum((p.val - c.c) * (p.val - c.c))) AS dd
  FROM pts p JOIN cent c ON c.lbl = p.lbl AND c.pos = p.pos
  GROUP BY 1, 2
),
sk AS (SELECT lbl, avg(dd) AS s FROM pdist GROUP BY 1),
m AS (
  SELECT a.lbl AS lj, b.lbl AS lk,
         sqrt(sum((a.c - b.c) * (a.c - b.c))) AS mm
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.lbl <> b.lbl
  GROUP BY 1, 2
),
r AS (
  SELECT m.lj, max((sa.s + sb.s) / m.mm) AS rr
  FROM m JOIN sk sa ON sa.lbl = m.lj JOIN sk sb ON sb.lbl = m.lk
  GROUP BY 1
),
dbs AS (SELECT avg(rr) AS db FROM r),
gm AS (SELECT pos, avg(val) AS g FROM pts GROUP BY 1),
within AS (
  SELECT sum((p.val - c.c) * (p.val - c.c)) AS w
  FROM pts p JOIN cent c ON c.lbl = p.lbl AND c.pos = p.pos
),
btw AS (
  SELECT sum(n.nk * x.ss) AS b FROM (
    SELECT c.lbl, sum((c.c - g.g) * (c.c - g.g)) AS ss
    FROM cent c JOIN gm g USING (pos) GROUP BY 1
  ) x JOIN counts n USING (lbl)
),
dims AS (SELECT count(*) AS n, count(DISTINCT lbl) AS kk FROM v)
SELECT round(sil.s, 6) AS silhouette,
       round(dbs.db, 6) AS davies_bouldin,
       round((btw.b / (dims.kk - 1)) / (within.w / (dims.n - dims.kk)), 6)
         AS calinski_harabasz,
       {str(sample_per_cluster is not None).upper()} AS silhouette_sampled
FROM sil, dbs, btw, within, dims
"""


def windowed_event_stats() -> str:
    """Twin of ``streaming.windows.window_dup_stats`` applied batch-side to
    the events table (event_type as the content key): tumbling 1-hour
    event-time windows, per-window volume/distinct/dup-rate.  Spark's
    ``F.window`` and DuckDB's ``time_bucket`` both align hour buckets to
    the epoch hour grid."""
    return """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       count(*)::BIGINT AS n_pages,
       count(DISTINCT event_type)::BIGINT AS n_distinct,
       (count(*) - count(DISTINCT event_type))::BIGINT AS n_exact_dups,
       round((count(*) - count(DISTINCT event_type))::DOUBLE / count(*), 6)
         AS dup_rate
FROM events GROUP BY 1
"""


def sliding_window_event_stats(window_minutes: int = 60,
                               slide_minutes: int = 15) -> str:
    """Twin of ``streaming.windows.sliding_window_dup_stats`` batch-side on
    the events table.  A sliding window with slide s containing event t has
    start = t's s-bucket minus j·s for j in 0..window/s-1 (Spark's sliding
    assignment, epoch-aligned) — containment holds by construction, so the
    twin is a generated slide-offset fan-out, then the same per-window
    distinct aggregation."""
    n_slides = window_minutes // slide_minutes
    assert n_slides * slide_minutes == window_minutes
    return f"""
WITH fan AS (
  SELECT time_bucket(INTERVAL '{slide_minutes} minutes', ts)
           - (j.j * INTERVAL '{slide_minutes} minutes') AS window_start,
         event_type
  FROM events, (SELECT unnest(range({n_slides})) AS j) j
)
SELECT window_start,
       window_start + INTERVAL '{window_minutes} minutes' AS window_end,
       count(*)::BIGINT AS n_pages,
       count(DISTINCT event_type)::BIGINT AS n_distinct,
       (count(*) - count(DISTINCT event_type))::BIGINT AS n_exact_dups,
       round((count(*) - count(DISTINCT event_type))::DOUBLE / count(*), 6)
         AS dup_rate
FROM fan GROUP BY 1
"""


def event_props_stats() -> str:
    """Twin of the JSON sidecar-metadata projection: extract ``$.k`` from
    the props JSON and aggregate per event type."""
    return """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       round(avg(value), 6) AS avg_value,
       round(avg(TRY_CAST(props->>'k' AS BIGINT)), 6) AS avg_k,
       max(TRY_CAST(props->>'k' AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


def media_frames(frame_bytes: int = 256, stride: int = 2) -> str:
    """Twin of ``multimodal.frame_sample``: byte-slice frames of the UTF-8
    payload, every ``stride``-th frame.  This DuckDB build has no blob
    substring/sha256, so byte slicing happens on the hex encoding (2 chars
    per byte) and the fingerprint is sha256 of the lowercase hex — exactly
    what ``frame_sample`` computes."""
    hb = 2 * frame_bytes
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, lower(hex(encode(text))) AS ph FROM documents
),
idx AS (
  SELECT media_id, ph,
         unnest(range(0, (length(ph) // 2 + {frame_bytes - 1}) // {frame_bytes})) AS frame_idx
  FROM m
)
SELECT media_id,
       frame_idx::BIGINT AS frame_idx,
       (length(substring(ph, frame_idx * {hb} + 1, {hb})) // 2)::BIGINT AS n_frame_bytes,
       sha256(substring(ph, frame_idx * {hb} + 1, {hb})) AS frame_sha
FROM idx WHERE frame_idx % {stride} = 0
"""


def embedding_norms() -> str:
    """P4 L2 norm (benchmark_comparison.py:172 analog)."""
    return """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE) * (x::DOUBLE)))), 6) AS l2_norm
FROM embeddings
"""
