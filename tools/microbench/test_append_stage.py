"""Spark-free microbenchmarks of the driver append-staging kernel
(streaming/stage.py): tokenize -> bag of words -> frozen-vocabulary
postings -> block encode, on 500 generated source-code docs — the
append-mix benchmark's batch shape.

Run from the repository root (pytest-benchmark is installed):

    python -m pytest tools/microbench -q

No SparkSession starts; the frozen vocabulary comes from a 2,000-doc
base corpus tokenized with the same kernel.
"""

import os
import sys

import numpy as np
import pytest

from textsearch_spark.config import FoldedBM25, TextConfig
from textsearch_spark.functions.udfs import bow_arrays
from textsearch_spark.streaming.stage import block_rows, frozen_postings

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "..", "perfbench"))
import corpora  # noqa: E402

CFG = TextConfig(nlist=[1])
N_BASE, N_BATCH, SPAN = 2000, 500, 512
BM25 = FoldedBM25(k1_plus_1=2.2, k1_mult_1_min_b=0.3, k1_mult_b_div_avgdl=0.005,
                  delta=1.0, collection_size=N_BASE)


@pytest.fixture(scope="module")
def texts():
    return corpora.code_docs(7, N_BATCH, first_id=10**7)["content"].tolist()


@pytest.fixture(scope="module")
def ndocs():
    base = corpora.code_docs(7, N_BASE)["content"].tolist()
    _, toks, _ = bow_arrays(CFG, base)
    uniq, counts = np.unique(toks.astype(str), return_counts=True)
    return dict(zip(uniq.tolist(), counts.tolist()))


@pytest.fixture(scope="module")
def postings(texts, ndocs):
    rows, toks, tfs = bow_arrays(CFG, texts)
    doc_ids = np.arange(N_BASE + 1, N_BASE + 1 + N_BATCH, dtype=np.int64)
    return frozen_postings(doc_ids, rows, toks, tfs, ndocs)


def test_tokenize_bow(benchmark, texts):
    rows, toks, tfs = benchmark(bow_arrays, CFG, texts)
    assert len(rows) == len(toks) == len(tfs) > N_BATCH


def test_frozen_postings(benchmark, texts, ndocs):
    rows, toks, tfs = bow_arrays(CFG, texts)
    doc_ids = np.arange(N_BASE + 1, N_BASE + 1 + N_BATCH, dtype=np.int64)
    out = benchmark(frozen_postings, doc_ids, rows, toks, tfs, ndocs)
    assert 0 < len(out) <= len(rows)


def test_block_encode(benchmark, postings):
    blocks = benchmark(block_rows, postings, BM25, SPAN)
    assert blocks["n"].sum() == len(postings)
