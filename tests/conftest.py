"""Shared fixtures: one SparkSession for the whole run, small corpora."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from webdedup.config import DEFAULT as CFG  # noqa: E402
from webdedup.session import get_spark  # noqa: E402
from webdedup.sources import corpus  # noqa: E402

N_GROUPS = 40
SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # The session default (32g) lets the heap grow past the RAM of a small
    # test host, where the kernel then kills the JVM late in the run.  The
    # test data needs far less; an explicit WEBDEDUP_DRIVER_MEM still wins.
    os.environ.setdefault("WEBDEDUP_DRIVER_MEM", "4g")
    s = get_spark(app_name="webdedup-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_rows():
    return corpus.corpus_rows(CFG.seed, N_GROUPS)


@pytest.fixture(scope="session")
def corpus_texts(corpus_rows):
    return {r["url"]: r["text"] for r in corpus_rows}


@pytest.fixture(scope="session")
def pages(spark, corpus_rows):
    df = spark.createDataFrame(corpus_rows, schema=corpus.PAGE_KIND_SCHEMA)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def docs(pages):
    from pyspark.sql import functions as F

    d = pages.select(F.col("url").alias("doc_id"), "text").cache()
    d.count()
    return d


@pytest.fixture(scope="session")
def doc_sigs(docs):
    """All-kinds signature frame of ``docs``, materialized once: matcher
    tests pass its projections, as ``plans.pipeline.run`` passes projections
    of its ``signatures`` stage table."""
    from webdedup.functions.signatures import all_signatures

    s = all_signatures(docs, CFG).cache()
    s.count()
    return s
