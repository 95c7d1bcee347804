"""Regression tests for the round-4 review pass over the query path
(WAND kernel, naive scorer, posting blocks, approx vocabulary):
non-integral query ids, 64-bit-safe block ids, single-pass compaction
passthrough, and the exact-hit short-circuit in typo lookup."""

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import FoldedBM25, TextConfig
from textsearch_spark.operators.postings import (
    build_posting_blocks, compact_blocks,
)
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index

CFG = TextConfig(nlist=[1])


def _blocked_index(spark, golden_corpus_df, span=4):
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=span)
    return idx


def _rows(df, score_col="score"):
    return sorted(
        (r[0], r[1], r[2], round(float(r[3]), 6))
        for r in df.select("query_id", "rank", "doc_id", score_col).collect()
    )


def test_wand_string_query_ids_parity(spark, golden_corpus_df):
    """search_bm25 accepts any id type; the WAND path is documented as
    rank-identical, so string ids must work there too (dense surrogates
    in the kernel, mapped back after)."""
    idx = _blocked_index(spark, golden_corpus_df)
    queries = spark.createDataFrame(
        [("q-alpha", "la casa"), ("q-beta", "manzana verde"), ("q-gamma", "zzz")],
        "query_id string, qtext string")
    naive = _rows(search_bm25(idx, queries, k=3))
    wand = _rows(search_bm25_wand(idx, queries, k=3))
    assert wand == naive
    assert len(wand) > 0


def test_wand_empty_result_keeps_id_type(spark, golden_corpus_df):
    idx = _blocked_index(spark, golden_corpus_df)
    queries = spark.createDataFrame(
        [("q-x", "zzzz qqqq")], "query_id string, qtext string")  # all OOV
    out = search_bm25_wand(idx, queries, k=3)
    assert out.count() == 0
    assert dict(out.dtypes)["query_id"] == "string"


def test_block_id_integer_division_64bit(spark):
    """(doc_id / span).cast('long') rounds above 2^53: doc 2^60+4095
    belongs to block 2^48 but float division lands it in 2^48+1. The
    DIV expression must keep it exact."""
    big = 2**60 + 4095
    postings = spark.createDataFrame(
        [("tok", big, 1, 3, 1, 0.5)],
        "token string, doc_id long, tf long, doclen long, ndocs long, impact double")
    bm25 = FoldedBM25(k1_plus_1=2.2, k1_mult_1_min_b=0.3, k1_mult_b_div_avgdl=0.3,
                      delta=1.0, collection_size=2)
    row = build_posting_blocks(postings, bm25, span=4096).collect()[0]
    assert row.block_id == big // 4096 == 2**48
    # float division would have produced 2**48 + 1
    assert int((big / 4096)) != big // 4096 or True  # documents the hazard


def test_compact_blocks_passthrough_unfragmented(spark, golden_corpus_df):
    """An unfragmented block table compacts to byte-identical rows
    (the singleton fast path never decodes or re-encodes)."""
    idx = _blocked_index(spark, golden_corpus_df)
    before = {(r.token, r.block_id): (bytes(r.blob), r.max_impact, r.n)
              for r in idx.blocks.collect()}
    after = {(r.token, r.block_id): (bytes(r.blob), r.max_impact, r.n)
             for r in compact_blocks(idx.blocks, idx.bm25).collect()}
    assert after == before


def test_compact_blocks_merges_fragments(spark, golden_corpus_df):
    """Fragmented (token, block_id) groups merge to one row whose
    entries are docID-sorted and whose max_impact is the group max."""
    idx = _blocked_index(spark, golden_corpus_df, span=4)
    # fragment artificially: split postings into two halves and build
    # blocks for each, then union — same (token, block_id) keys twice
    lo = idx.postings.filter("doc_id <= 4")
    hi = idx.postings.filter("doc_id > 4")
    frag = build_posting_blocks(lo, idx.bm25, span=4).unionByName(
        build_posting_blocks(hi, idx.bm25, span=4))
    merged = compact_blocks(frag, idx.bm25)
    clean = build_posting_blocks(idx.postings, idx.bm25, span=4)
    a = {(r.token, r.block_id): (bytes(r.blob), round(r.max_impact, 12), r.n)
         for r in merged.collect()}
    b = {(r.token, r.block_id): (bytes(r.blob), round(r.max_impact, 12), r.n)
         for r in clean.collect()}
    assert a == b


def test_approx_lookup_exact_and_oov(spark, golden_corpus_df):
    """Exact hits resolve at distance 0 without entering the fuzzy
    join; a typo resolves to its nearest vocab token; junk drops."""
    from textsearch_spark.operators.approxvoc import approx_lookup

    idx = build_bm25_index(golden_corpus_df, CFG)
    q = spark.createDataFrame(
        [("casa",), ("cassa",), ("xqwzj",)], "qtoken string")
    out = {r.qtoken: (r.match_token, r.dist)
           for r in approx_lookup(idx.vocab, q, maxdist=0.7).collect()}
    assert out["casa"] == ("casa", 0.0)
    assert out["cassa"][0] == "casa" and out["cassa"][1] > 0.0
    assert "xqwzj" not in out
