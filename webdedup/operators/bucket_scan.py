"""Sorted-bucket scan: score candidate pairs INSIDE each LSH bucket.

One physical shape shared by the SimHash Hamming verify
(``simhash_lsh.blocked_hamming_pairs``, vectorized popcount) and the ANN
cosine verify (``similarity._blocked_cosine_pairs``, one GEMM per
bucket): each kernel supplies only its per-bucket numpy scorer.  This is
the matrix-multiplication-over-buckets alternative to the join-shaped
verify (band self-join -> distinct -> two signature joins), which pays the
quadratic in-bucket candidate volume through four shuffles.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def bucket_scan(rows: DataFrame, keys: list[str],
                score: Callable[[dict], Iterable[tuple]],
                schema: StructType) -> DataFrame:
    """Run ``score`` once per bucket (one ``keys`` group) of ``rows``.

    ``score(cols)`` gets one bucket of two or more rows as a dict of numpy
    arrays, one per non-key column of ``rows``, and yields zero or more
    tuples of equal-length arrays, one array per ``schema`` field.

    Plan shape: hash repartition on ``keys`` WITHOUT a fixed partition
    count (AQE right-sizes the exchange: ~1 partition at bench scale,
    advisory-sized at production scale), sort within partitions, then one
    ``mapInPandas`` pass.  Python is invoked once per Arrow batch, not
    once per bucket as a groupBy-``applyInPandas`` would (tens of millions
    of times at web scale); a vectorized boundary scan splits each batch
    into buckets, so singleton buckets cost nothing.  The bucket that
    straddles an Arrow-batch boundary is carried over into the next batch,
    so every bucket is scored exactly once and whole.
    """
    names = schema.fieldNames()
    values = [c for c in rows.columns if c not in keys]
    arranged = rows.repartition(*keys).sortWithinPartitions(*keys)

    def scan(batches):
        import numpy as np
        import pandas as pd

        def process(region: pd.DataFrame):
            n = len(region)
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for c in keys:
                k = region[c].to_numpy()
                change[1:] |= k[1:] != k[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            multi = ends - starts > 1  # singleton buckets hold no pair
            cols = {c: region[c].to_numpy() for c in values}
            outs = [out for s, e in zip(starts[multi].tolist(),
                                        ends[multi].tolist())
                    for out in score({c: v[s:e] for c, v in cols.items()})]
            if outs:
                yield pd.DataFrame({
                    name: np.concatenate([o[i] for o in outs])
                    for i, name in enumerate(names)})

        pending: pd.DataFrame | None = None
        for b in batches:
            df = pd.concat([pending, b]) if pending is not None else b
            if len(df) == 0:
                pending = None
                continue
            tail = np.ones(len(df), dtype=bool)
            for c in keys:
                tail &= df[c].to_numpy() == df[c].iat[-1]
            if tail.all():  # whole buffer is one bucket — keep accumulating
                pending = df
                continue
            cut = len(df) - int(tail[::-1].argmin())
            head, pending = df.iloc[:cut], df.iloc[cut:]
            yield from process(head)
        if pending is not None and len(pending):
            yield from process(pending)

    return arranged.mapInPandas(scan, schema=schema)
