"""Persisted typo-lookup q-gram index (r03 verdict item 4): the
vocabulary 3-gram inverted file is built ONCE (build_qgram_index, the
reference's construct-once QgramsLookup, src/approxvoc.jl:25-44), saved
with the index under ``qgrams/``, and every typo-tolerant batch joins
against the persisted table — no vocab-wide explode in the per-batch
plan."""

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.approxvoc import approx_lookup, build_qgram_index
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources.io import load_index, save_index

CFG = TextConfig(nlist=[1])


def _qdf(spark, tokens):
    return spark.createDataFrame([(t,) for t in tokens], "qtoken string")


def test_prebuilt_qgram_index_matches_inline(spark, golden_corpus_df):
    idx = build_bm25_index(golden_corpus_df, CFG)
    q = _qdf(spark, ["cassa", "verde", "mansana", "zzzzqqq"])
    inline = sorted((r.qtoken, r.match_token, round(r.dist, 6))
                    for r in approx_lookup(idx.vocab, q).collect())
    pre = build_qgram_index(idx.vocab)
    viaidx = sorted((r.qtoken, r.match_token, round(r.dist, 6))
                    for r in approx_lookup(idx.vocab, q, qgram_index=pre).collect())
    assert viaidx == inline
    assert inline, "fixture should resolve at least the exact hit"


def test_save_load_roundtrip_and_typo_search_parity(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    save_index(idx, path)

    loaded = load_index(spark, path)
    assert loaded.qgrams is not None, "save_index must persist qgrams/ by default"
    assert set(loaded.qgrams.columns) == {"gram", "vtoken", "vsz"}

    qdf = spark.createDataFrame(
        [(0, "cassa rojja"), (1, "mansana")], "query_id long, qtext string")
    mem = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                 for r in search_bm25(idx, qdf, 5, typo_tolerant=True).collect())
    persisted = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                       for r in search_bm25(loaded, qdf, 5, typo_tolerant=True).collect())
    assert persisted == mem
    assert mem, "typo queries should resolve and retrieve"

    # WAND typo path reads the same persisted table
    from textsearch_spark.operators.wand import search_bm25_wand

    wand = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                  for r in search_bm25_wand(loaded, qdf, 5, n_buckets=2,
                                            typo_tolerant=True).collect())
    assert wand == mem


def test_persisted_plan_has_no_vocab_explode(spark, golden_corpus_df, tmp_path):
    """With index.qgrams persisted, the typo batch's plan reads the
    qgrams parquet and generates q-grams ONLY for the (tiny) query-token
    side — strictly fewer Generate nodes than the inline fallback,
    which explodes the whole vocabulary per batch."""
    path = str(tmp_path / "idx")
    idx = build_bm25_index(golden_corpus_df, CFG)
    save_index(idx, path)
    loaded = load_index(spark, path)

    q = _qdf(spark, ["cassa"])
    persisted_plan = approx_lookup(
        loaded.vocab, q, qgram_index=loaded.qgrams
    )._jdf.queryExecution().executedPlan().toString()
    inline_plan = approx_lookup(
        loaded.vocab, q
    )._jdf.queryExecution().executedPlan().toString()

    # the qgrams FileScan is identifiable by its ReadSchema (paths are
    # abbreviated in the plan string)
    assert "struct<gram:string" in persisted_plan, (
        "persisted plan must scan the qgrams table")
    assert "struct<gram:string" not in inline_plan
    n_gen_persisted = persisted_plan.count("Generate")
    n_gen_inline = inline_plan.count("Generate")
    assert n_gen_persisted < n_gen_inline, (
        f"persisted path should drop the vocab-side explode: "
        f"{n_gen_persisted} vs inline {n_gen_inline}"
    )


def test_pre_r04_index_without_qgrams_still_loads(spark, golden_corpus_df, tmp_path):
    import shutil

    path = str(tmp_path / "idx")
    idx = build_bm25_index(golden_corpus_df, CFG)
    save_index(idx, path)
    shutil.rmtree(f"{path}/qgrams")  # simulate an index saved before r04
    loaded = load_index(spark, path)
    assert loaded.qgrams is None
    # typo search falls back to the inline build, same results
    qdf = spark.createDataFrame([(0, "cassa")], "query_id long, qtext string")
    res = search_bm25(loaded, qdf, 3, typo_tolerant=True).collect()
    assert res
