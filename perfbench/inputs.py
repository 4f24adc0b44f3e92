"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed and the size, cached under
the benchmark's own cache directory so that later runs of the same seed
skip generation.  Writes go to a temporary sibling and are renamed into
place, so an interrupted run never leaves a half-written cache entry.

    python3 perfbench/inputs.py SF_DIR

prints the figures below for the ``documents`` and ``embeddings`` tables in
SF_DIR and for tables generated here at the same sizes, side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf ``documents`` and ``embeddings`` tables that
# ``__spark_entry__.queries()`` reads, as measured on the sf0.1 set
# (``describe``; figures in README.md):
# - documents: doc_id 0..n-1, source ``src{doc_id % 20}``, n_chars the
#   text's length, lang en 41% and zh/es/fr/de about 15% each; text is 10-99
#   tokens drawn uniformly from a 30-word vocabulary, except that exactly 5%
#   of the rows are another row's text plus the token "dup";
# - embeddings: 64-d float32 unit vectors in uniformly random directions (no
#   near duplicates: the largest cosine between two vectors is 0.60), label
#   uniform over 0-9.
SF_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
SF_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3
SF_TOKENS = (10, 100)  # [low, high) tokens per text
SF_SOURCES = 20
SF_DUP_EVERY = 20      # one row in 20 is a near duplicate
SF_DIM = 64
SF_LABELS = 10
CORPUS_FILES = 4  # scan partitions of the corpus, whatever the core count


def _publish(tmp: str, final: str) -> str:
    if os.path.isdir(final):  # lost a race with an identical writer
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)
    return final


def corpus_pages(cache_dir: str, seed: int, groups: int) -> str:
    """``web_pages``-shaped parquet of the ``sources.corpus`` generator:
    planted exact / SimHash / MinHash / substring variants per group and one
    hot boilerplate group.  Generated on the driver (``corpus_rows``), which
    yields the same rows as the distributed ``corpus_df``."""
    from webdedup.sources.corpus import corpus_rows

    final = os.path.join(cache_dir, f"corpus-s{seed}-g{groups}")
    if os.path.isdir(final):
        return final
    rows = corpus_rows(seed, groups)
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        # microseconds: Spark reads no nanosecond parquet timestamps
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, CORPUS_FILES + 1).astype(int)
    for i in range(CORPUS_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(tmp, f"part-{i}.parquet"))
    return _publish(tmp, final)


def sf_tables(cache_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """A table directory (``documents.parquet``, ``embeddings.parquet``)
    with the schemas and the figures of the sf tables (see the top of this
    file)."""
    final = os.path.join(cache_dir, f"sf-s{seed}-d{n_docs}-v{n_vecs}")
    if os.path.isdir(final):
        return final
    rng = np.random.default_rng(seed)
    base = [" ".join(rng.choice(SF_VOCAB, size=int(k)))
            for k in rng.integers(*SF_TOKENS, size=n_docs)]
    texts = list(base)
    for i in rng.choice(n_docs, size=n_docs // SF_DUP_EVERY, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([SF_LANGS[int(j)] for j in
                          rng.integers(0, len(SF_LANGS), size=n_docs)]),
        "source": pa.array([f"src{i % SF_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, SF_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, SF_LABELS, size=n_vecs),
                          pa.int32()),
    })
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))
    return _publish(tmp, final)


def stage_drops(pages_dir: str, seed: int, n_drops: int,
                out_dir: str) -> list[str]:
    """Split a corpus into ``n_drops`` parquet drop files in ``out_dir``,
    rows shuffled across groups so that a page's near-duplicates arrive in
    other drops (new x old matches).  Files are written in drop order, so
    their modification times give the stream its arrival order."""
    table = pq.read_table(pages_dir)
    table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_drops + 1).astype(int)
    paths = []
    for i in range(n_drops):
        p = os.path.join(out_dir, f"drop-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


# pair queries whose row counts ``describe`` reports: they scale with the
# near-duplicate and collision rates of the tables
PAIR_QUERIES = ("simhash_pairs_combo", "minhash_lsh_pairs", "jaccard_pairs",
                "substring_pairs", "lsh_cosine_pairs", "ivf2_cosine_pairs")


def describe(sf_dir: str) -> dict:
    """The figures ``sf_tables`` reproduces, measured on a table directory,
    plus the row counts of the pair queries' DuckDB twins on it."""
    import duckdb

    import __spark_entry__ as entry

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    n = len(texts)
    tokens = np.array([len(t.split()) for t in texts])
    langs = Counter(docs.column("lang").to_pylist())
    vecs = np.stack(pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
                    .column("embedding").to_numpy(zero_copy_only=False))
    cos = vecs.astype(np.float64) @ vecs.T.astype(np.float64)
    np.fill_diagonal(cos, -1.0)
    out = {
        "docs": n,
        "tokens_min_p50_max": [int(tokens.min()), float(np.median(tokens)),
                               int(tokens.max())],
        "vocabulary": len({w for t in texts for w in t.split()} - {"dup"}),
        "dup_suffixed_share": sum(t.endswith(" dup") for t in texts) / n,
        "exact_dup_rows": n - len(set(texts)),
        "lang_share": {k: round(v / n, 3) for k, v in sorted(langs.items())},
        "sources": len(set(docs.column("source").to_pylist())),
        "vecs": len(vecs),
        "dim": int(vecs.shape[1]),
        "max_cosine": round(float(cos.max()), 3),
        "pairs_cosine_over_0.5": int((cos > 0.5).sum() // 2),
    }
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for q in PAIR_QUERIES:
            out[f"rows.{q}"] = con.sql(
                f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
    finally:
        con.close()
    return out


def main() -> int:
    p = argparse.ArgumentParser(description="compare an sf table directory "
                                "with tables generated at its sizes")
    p.add_argument("sf_dir")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    cache = os.path.join(here, "_cache")
    os.makedirs(cache, exist_ok=True)
    n_docs = pq.read_metadata(
        os.path.join(args.sf_dir, "documents.parquet")).num_rows
    n_vecs = pq.read_metadata(
        os.path.join(args.sf_dir, "embeddings.parquet")).num_rows
    gen = sf_tables(cache, args.seed, n_docs, n_vecs)
    print(json.dumps({"measured": describe(args.sf_dir),
                      "generated": describe(gen)}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
