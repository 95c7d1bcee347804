"""Tie-break order is PINNED, not merely tolerated.

The engine's rank-determinism claim (SURVEY §2i; WAND docstring
"bounded top-k, docID tie order pinned") is (score desc, doc_id asc)
in every scorer: the naive salted two-phase top-k, the WAND kernel's
argpartition boundary selection, and both final rank windows. The
existing differentials compare the two scorers against each other and
tolerate tied-score permutations (tests/test_wand.py
_assert_rank_identical); this file stresses the tie path directly —
a corpus of IDENTICAL documents makes every BM25 score equal, so the
ENTIRE result set is one tied group at the k boundary and any
ordering slip (an unstable partition, a missed secondary key) changes
the returned doc set or its ranks outright.
"""

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index

from .conftest import WAND_PLANS, wand_plan

N_DOCS = 64
K = 10


@pytest.fixture(scope="module")
def tied_index(spark):
    # identical text => identical tf/doclen/ndocs => identical BM25
    # score for every doc. doc ids start at 5 so "expected = first k
    # ids ascending" cannot pass by accident of a 0-based range.
    rows = [(i + 5, "alpha beta gamma") for i in range(N_DOCS)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_bm25_index(docs, TextConfig(nlist=[1]))
    # span 8 => 9 blocks: ties must survive the cross-bucket merge and
    # the final window, not just a single in-kernel top-k
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=8).cache()
    # materialized, the cache reports its in-memory size to Catalyst —
    # the estimate that lets WAND take its driver plan here
    idx.blocks.count()
    return idx


def _expected():
    return [(r + 1, 5 + r) for r in range(K)]  # (rank, doc_id), doc asc


def _got(rows):
    return [(r.rank, r.doc_id) for r in sorted(rows, key=lambda r: r.rank)]


def test_naive_all_ties_doc_asc(spark, tied_index):
    qdf = spark.createDataFrame([(1, "alpha gamma")], "query_id long, qtext string")
    rows = search_bm25(tied_index, qdf, k=K).collect()
    assert _got(rows) == _expected()
    # one tied group: every score equal
    assert len({round(r.score, 12) for r in rows}) == 1


@pytest.mark.parametrize("n_buckets,query_groups,group_mode", [
    (1, 1, "shuffle"),   # single bucket: pure in-kernel boundary ties
    (4, 1, "shuffle"),   # ties merged across buckets by the final window
    (4, 3, "shuffle"),   # sharded query groups
    (4, 3, "kernel"),    # in-kernel thread split
])
def test_wand_all_ties_doc_asc(spark, tied_index, n_buckets, query_groups,
                               group_mode):
    qdf = spark.createDataFrame(
        [(1, "alpha gamma"), (2, "beta")], "query_id long, qtext string")
    # the driver plan scores every block as one bucket and ignores the
    # scoring-stage knobs; the distributed plan honours them
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            rows = search_bm25_wand(tied_index, qdf, k=K, n_buckets=n_buckets,
                                    query_groups=query_groups,
                                    group_mode=group_mode).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        assert set(by_q) == {1, 2}, plan
        for q, qrows in by_q.items():
            assert _got(qrows) == _expected(), (plan, q, n_buckets, query_groups)


def test_cosine_all_ties_doc_asc(spark):
    # the cosine scorer shares salted_topk with BM25 — same pinned order.
    # binary global weighting: idf over identical docs is log2(1) == 0
    # for every token, which would zero every vector instead of tying it
    from textsearch_spark.functions.weighting import (fit_vector_model,
                                                      vectorize)
    from textsearch_spark.operators.cosine_search import search_cosine

    docs = spark.createDataFrame(
        [(i + 5, "alpha beta gamma") for i in range(N_DOCS)],
        "doc_id long, text string")
    model = fit_vector_model(docs, TextConfig(nlist=[1]),
                             local_weighting="tf", global_weighting="binary")
    vecs = vectorize(model, docs)
    qdf = spark.createDataFrame([(7, "alpha beta")], "query_id long, qtext string")
    rows = search_cosine(model, vecs, qdf, k=K).collect()
    assert [(r.rank, r.doc_id) for r in sorted(rows, key=lambda r: r.rank)] \
        == _expected()
    assert len({round(r.cos, 12) for r in rows}) == 1  # one tied group
