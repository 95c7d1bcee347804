"""Spark-free microbenchmarks of the WAND decode and score layers.

Run from the repository root (pytest-benchmark is installed):

    python -m pytest tools/microbench -q

The tier-1 suite runs ``tests/`` only, so these are never collected
there. No SparkSession starts: the kernel is called directly on a
synthetic candidate frame, so host noise from the JVM cannot hide a
kernel regression.
"""

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from textsearch_spark.config import FoldedBM25
from textsearch_spark.functions.bm25 import max_tokenscore
from textsearch_spark.functions.codec import decode_block, decode_blocks, encode_block
from textsearch_spark.operators.wand import _bucket_kernel

N_DOCS, SPAN, VOCAB, N_QUERIES, K = 3000, 256, 400, 512, 10
BM25 = FoldedBM25(k1_plus_1=2.2, k1_mult_1_min_b=0.3, k1_mult_b_div_avgdl=0.009,
                  delta=1.0, collection_size=N_DOCS)


def _corpus(seed=0):
    """(token, doc ids, tfs, doclens) posting lists over a Zipf vocabulary."""
    rng = np.random.default_rng(seed)
    doclen = rng.integers(5, 200, N_DOCS)
    df = np.maximum(1, (N_DOCS * 0.6 / np.arange(1, VOCAB + 1) ** 1.15).astype(int))
    lists = []
    for t, n in enumerate(df):
        docs = np.sort(rng.choice(N_DOCS, n, replace=False))
        lists.append((f"t{t}", docs, rng.integers(1, 6, n), doclen[docs]))
    return lists


def candidate_frame(seed=0) -> pd.DataFrame:
    """One bucket's candidate rows: every (token, block) of the corpus,
    in the block table's column layout."""
    rows = []
    for tok, docs, tfs, dls in _corpus(seed):
        bids = docs // SPAN
        for b in np.unique(bids):
            m = bids == b
            d, tf, dl = docs[m], tfs[m], dls[m]
            rows.append({
                "token": tok, "block_id": int(b), "n": len(d),
                "first_doc": int(d[0]), "last_doc": int(d[-1]), "ndocs": len(docs),
                "max_impact": max_tokenscore(BM25, float(len(docs)), tf, dl),
                "span": SPAN, "blob": encode_block(d, tf, dl),
                "bucket": 0, "qgrp": 0,
            })
    return pd.DataFrame(rows)


def query_map(seed=0) -> dict:
    rng = np.random.default_rng(seed + 1)
    # Zipf-weighted 3-term queries, like text windows
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.15
    p /= p.sum()
    return {q: tuple(sorted({f"t{t}" for t in rng.choice(VOCAB, 3, p=p)}))
            for q in range(N_QUERIES)}


@pytest.fixture(scope="module")
def frame():
    return candidate_frame()


@pytest.fixture(scope="module")
def blobs(frame):
    return list(frame["blob"])


def test_decode_per_blob(benchmark, blobs):
    out = benchmark(lambda: [decode_block(b) for b in blobs])
    assert len(out) == len(blobs)


def test_decode_batched(benchmark, blobs):
    seg, n, *_ = benchmark(decode_blocks, blobs)
    assert len(seg) == len(blobs)


def test_bucket_kernel(benchmark, frame):
    kernel = _bucket_kernel(BM25, K, SimpleNamespace(value=query_map()), 1)
    out = benchmark(kernel, frame)
    assert out["query_id"].nunique() == N_QUERIES
