"""The driver-contract entry (``__spark_entry__``): its queries share one
signature pass per session, as ``plans.pipeline.run``'s matchers share its
``signatures`` stage table."""

from __future__ import annotations

import sys

from conftest import SF0001

SIGNATURE_QUERIES = ("simhash64", "simhash_pairs_combo", "minhash_lsh_pairs",
                     "minhash_est_jaccard", "jaccard_pairs",
                     "substring_pairs")


def test_signature_queries_run_one_signature_pass(spark, monkeypatch):
    """After ``reset_memo()``, the headline signature queries call
    ``all_signatures`` exactly once, for every kind: each query is a
    projection of the entry's one memoized pass."""
    import __spark_entry__ as entry
    from webdedup.functions import signatures

    real = signatures.all_signatures
    calls = []

    def counted(*args, **kwargs):
        calls.append(kwargs.get("kinds", signatures.KINDS))
        return real(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__dict__", {}).get("all_signatures") is real:
            monkeypatch.setattr(mod, "all_signatures", counted)
    queries = entry.queries()
    entry.reset_memo()
    try:
        for name in SIGNATURE_QUERIES:
            queries[name](spark, SF0001).collect()
    finally:
        entry.reset_memo()
    assert calls == [signatures.KINDS], calls
