"""Regression tests for the round-4 second review pass over the build
plans and streaming layers: streaming replay-after-compaction dedupe,
run-scoped epoch guards, auto-id input validation, full-corpus
high-water marks, vocab snapshot reader grace, and filter_lists on
grown (appended) posting lists."""

import os

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.plans.build import build_bm25_index, filter_lists
from textsearch_spark.sources.io import load_index, save_index
from textsearch_spark.streaming.append import (
    append_batch_to_index, high_water_mark,
)

CFG = TextConfig(nlist=[1])


def _base_index(spark, docs_df, path, span=4):
    idx = build_bm25_index(docs_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=span)
    save_index(idx, path)
    return load_index(spark, path)


def _ndocs_indexed(spark, path):
    return load_index(spark, path).doclens.count()


def test_replay_after_compaction_is_noop(spark, golden_corpus_df, tmp_path):
    """The append manifests are the streaming dedupe tokens; compaction
    consumes them. A replayed epoch AFTER its manifest was folded away
    must still be recognized (meta.last_stream_batch), not re-appended
    — the crash window is: batch commits, auto-compaction runs, driver
    dies before the streaming checkpoint records the epoch."""
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([("una casa nueva",)], "text string")
    m1 = append_batch_to_index(spark, path, new, batch_id=0,
                               auto_compact_after=1)  # compacts at once
    assert "compaction" in m1  # manifest consumed
    n_after = _ndocs_indexed(spark, path)

    replay = append_batch_to_index(spark, path, new, batch_id=0,
                                   auto_compact_after=1)
    assert replay.get("replay_of_compacted") is True
    assert replay["n_docs_appended"] == 0
    assert _ndocs_indexed(spark, path) == n_after  # nothing re-appended
    # and the high-water mark still reflects the compacted append
    assert high_water_mark(spark, path) == 8


def test_epoch_reuse_across_runs_raises(spark, golden_corpus_df, tmp_path):
    """A fresh streaming checkpoint restarts epoch ids at 0; treating
    those as replays of the OLD run would silently drop data. Within
    one run the replay stays idempotent."""
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([("la casa gris",)], "text string")
    append_batch_to_index(spark, path, new, batch_id=3, run_id="ckpt-A",
                          auto_compact_after=None)
    # same run: idempotent replay
    m = append_batch_to_index(spark, path, new, batch_id=3, run_id="ckpt-A",
                              auto_compact_after=None)
    assert m["n_docs_appended"] == 1
    # different run reusing the epoch id: loud failure
    with pytest.raises(ValueError, match="DIFFERENT"):
        append_batch_to_index(spark, path, new, batch_id=3, run_id="ckpt-B",
                              auto_compact_after=None)


def test_epoch_reuse_across_runs_raises_after_compaction(
        spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([("la casa gris",)], "text string")
    append_batch_to_index(spark, path, new, batch_id=0, run_id="ckpt-A",
                          auto_compact_after=1)
    with pytest.raises(ValueError, match="DIFFERENT"):
        append_batch_to_index(spark, path, new, batch_id=0, run_id="ckpt-B",
                              auto_compact_after=None)


def test_auto_id_rejects_existing_doc_id_column(
        spark, golden_corpus_df, tmp_path):
    """schema.add would create a duplicate doc_id field and every
    downstream select would die with AMBIGUOUS_REFERENCE — fail with a
    message that names the fix (doc_col='doc_id') instead."""
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([(8, "la casa gris")], "doc_id long, text string")
    with pytest.raises(ValueError, match="doc_col='doc_id'"):
        append_batch_to_index(spark, path, new)  # doc_col=None


def test_with_doc_ids_start_offset_and_guard(spark):
    from textsearch_spark.sources.corpus import with_doc_ids

    df = spark.createDataFrame(
        [("r", f"p{i}", "c") for i in range(5)], "repo string, path string, commit string")
    ids = sorted(r.doc_id for r in with_doc_ids(df, start=100).collect())
    assert ids == [101, 102, 103, 104, 105]
    with pytest.raises(ValueError, match="doc_id column"):
        with_doc_ids(with_doc_ids(df))


def test_last_doc_covers_empty_and_oov_docs(spark, tmp_path):
    """The highest-id doc tokenizes to nothing, so it has no doclens
    row; the high-water mark must still cover it or a later auto-id
    append would REUSE its id."""
    rows = [(i, f"token{i} shared") for i in range(1, 9)] + [(9, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    idx = build_bm25_index(docs, CFG)
    assert idx.last_doc == 9
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    save_index(idx, path)
    # precondition: doc 9 really is absent from doclens
    assert load_index(spark, path).doclens.agg(F.max("doc_id")).collect()[0][0] == 8
    assert high_water_mark(spark, path) == 9
    new = spark.createDataFrame([("texto fresco",)], "text string")
    m = append_batch_to_index(spark, path, new, auto_compact_after=None)
    assert m["first_doc"] == 10  # not 9


def test_filter_lists_uses_actual_list_length(spark, golden_corpus_df, tmp_path):
    """After appends, fit-time ndocs understates the real list length;
    the pruning bound must apply to the GROWN list (the reference's
    filter_lists! operates on length(plist))."""
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    # 'casa' has fit-time ndocs=3; grow its list to 6 postings
    new = spark.createDataFrame(
        [(8, "casa"), (9, "casa"), (10, "casa")], "doc_id long, text string")
    append_batch_to_index(spark, path, new, doc_col="doc_id",
                          auto_compact_after=None)
    idx = load_index(spark, path)
    assert idx.postings.filter("token = 'casa'").count() == 6
    pruned = filter_lists(idx, list_min_length_for_checking=5,
                          list_max_allowed_length=2, doc_min_freq=1,
                          doc_max_freq=128)
    # classified by actual length (6 >= 5) -> bounded to 2; the old
    # ndocs-based classification (3 < 5) left all 6 untouched
    assert pruned.postings.filter("token = 'casa'").count() == 2


def test_vocab_epoch_reuse_across_runs_raises(spark, tmp_path):
    from textsearch_spark.streaming.incremental import (
        merge_vocab_increment, read_corpuslen,
    )

    state = str(tmp_path / "voc")
    d1 = spark.createDataFrame([(1, "uno dos")], "doc_id long, text string")
    d2 = spark.createDataFrame([(2, "dos tres")], "doc_id long, text string")
    merge_vocab_increment(d1, CFG, state, batch_id=0, run_id="ckpt-A")
    merge_vocab_increment(d2, CFG, state, batch_id=1, run_id="ckpt-A")
    assert read_corpuslen(state) == 2
    # same run, replayed epoch: idempotent skip
    merge_vocab_increment(d2, CFG, state, batch_id=1, run_id="ckpt-A")
    assert read_corpuslen(state) == 2
    # new run restarting epochs over the same state: loud failure
    with pytest.raises(ValueError, match="restarted epoch ids"):
        merge_vocab_increment(d1, CFG, state, batch_id=0, run_id="ckpt-B")


def test_vocab_snapshot_reader_grace(spark, tmp_path):
    """The immediately superseded vocabulary snapshot survives one
    commit (reader grace window); older versions are swept."""
    from textsearch_spark.streaming.incremental import merge_vocab_increment

    state = str(tmp_path / "voc")
    for i in range(3):
        d = spark.createDataFrame([(i + 1, f"w{i} shared")],
                                  "doc_id long, text string")
        merge_vocab_increment(d, CFG, state, batch_id=i)
    dirs = {d for d in os.listdir(state) if d.startswith("vocab_v")}
    assert dirs == {"vocab_v2", "vocab_v3"}  # v1 swept, v2 retained
