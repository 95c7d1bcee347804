"""Incremental index append (reference append_items! semantics):
frozen vocab/constants, OOV drop, in-vocab doclen, pure parquet append;
batch and Structured Streaming drivers."""

import math

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.functions.bm25 import tokenscore_py
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25_text
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources.io import load_index, save_index
from textsearch_spark.streaming.append import (
    append_batch_to_index, high_water_mark, stream_append_to_index,
)

CFG = TextConfig(nlist=[1])


def _base_index(spark, golden_corpus_df, path):
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    save_index(idx, path)
    return load_index(spark, path)


def test_append_frozen_semantics(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    base = _base_index(spark, golden_corpus_df, path)
    assert high_water_mark(spark, path) == 7

    # appended doc: 'la casa abcnew' — 'abcnew' is OOV and must drop;
    # doclen counts the in-vocab tokens only (la, casa) = 2
    new = spark.createDataFrame([(8, "la casa abcnew")], "doc_id long, text string")
    metrics = append_batch_to_index(spark, path, new, doc_col="doc_id")
    assert metrics["n_docs_appended"] == 1

    idx = load_index(spark, path)
    dl = {r.doc_id: r.doclen for r in idx.doclens.collect()}
    assert dl[8] == 2
    assert "abcnew" not in {r.token for r in idx.postings.filter("doc_id = 8").collect()}

    # scores use the FROZEN fit-time stats: doc 8's score for query
    # 'casa' must equal tokenscore with the fit-time ndocs('casa')=3,
    # N=7, avgdl(fit) — computed independently here
    res = {r.doc_id: r.score for r in search_bm25_text(idx, "casa", k=8).collect()}
    ndocs_casa = {r.token: r.ndocs for r in idx.vocab.collect()}["casa"]
    expect = tokenscore_py(idx.bm25, float(ndocs_casa), 2.0, 1.0)
    assert res[8] == pytest.approx(expect, rel=1e-12)
    assert idx.n_docs == 7  # N frozen at fit (src/bm25invfile.jl append)


def test_append_wand_naive_parity(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame(
        [(8, "la manzana verde"), (9, "la hoja roja rica")], "doc_id long, text string"
    )
    append_batch_to_index(spark, path, new, doc_col="doc_id")
    idx = load_index(spark, path)

    q = spark.createDataFrame(
        [(0, "la manzana verde rica"), (1, "hoja roja")], "query_id long, qtext string"
    )
    from textsearch_spark.operators.search import search_bm25

    naive = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25(idx, q, 5).collect())
    wand = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                  for r in search_bm25_wand(idx, q, 5, n_buckets=2).collect())
    assert naive == wand
    # appended docs are retrievable
    assert any(d in (8, 9) for (_, _, d, _) in naive)


def test_append_rejects_stale_ids(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    dup = spark.createDataFrame([(3, "la casa")], "doc_id long, text string")
    with pytest.raises(ValueError, match="high-water"):
        append_batch_to_index(spark, path, dup, doc_col="doc_id")


def test_append_idempotent_batch_id(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([(8, "la casa")], "doc_id long, text string")
    append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=0)
    # replayed epoch: skipped, no duplicate postings
    append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=0)
    idx = load_index(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 1


def test_compact_fragmented_blocks(spark, golden_corpus_df, tmp_path):
    """An append whose ids land inside the tail block fragments it
    (two rows per (token, block_id)); compaction merges them and WAND
    results are unchanged."""
    from textsearch_spark.operators.postings import compact_blocks

    path = str(tmp_path / "idx")
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=5)  # block 1 = ids 5..9
    save_index(idx, path)
    new = spark.createDataFrame(
        [(8, "la manzana verde"), (9, "la hoja roja")], "doc_id long, text string"
    )
    append_batch_to_index(spark, path, new, doc_col="doc_id")
    idx = load_index(spark, path)

    frag = idx.blocks.groupBy("token", "block_id").count().filter("count > 1")
    assert frag.filter("token = 'la' AND block_id = 1").count() == 1  # fragmented

    q = spark.createDataFrame([(0, "la manzana verde")], "query_id long, qtext string")
    before = sorted((r.rank, r.doc_id, round(r.score, 10))
                    for r in search_bm25_wand(idx, q, 6, n_buckets=2).collect())

    compacted = compact_blocks(idx.blocks, idx.bm25)
    assert compacted.groupBy("token", "block_id").count().filter("count > 1").count() == 0
    assert compacted.agg(F.sum("n")).collect()[0][0] == idx.blocks.agg(F.sum("n")).collect()[0][0]
    idx.blocks = compacted
    after = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(idx, q, 6, n_buckets=2).collect())
    assert before == after


def test_append_partial_crash_is_invisible_and_retryable(spark, golden_corpus_df, tmp_path):
    """A crash between table writes and the manifest commit must leave
    the index unchanged (reads union only COMMITTED appends), and the
    retry must not double-append (r02 ADVICE item 1)."""
    import os
    import shutil

    from textsearch_spark.sources.io import append_batch_dir, append_manifest_path

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame([(8, "la casa")], "doc_id long, text string")

    # simulate the crash: run a real append, then delete its manifest —
    # equivalent to dying after the three table writes, before commit
    append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=7)
    os.remove(append_manifest_path(path, 7))
    assert os.path.isdir(append_batch_dir(path, 7))  # staged remains

    # uncommitted batch is invisible to every reader
    assert high_water_mark(spark, path) == 7
    idx = load_index(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 0

    # retry of the same epoch: staged leftovers are discarded, the
    # batch appends exactly once
    append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=7)
    idx = load_index(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 1
    assert idx.postings.filter("doc_id = 8 AND token = 'la'").count() == 1

    # half-written staging dir (no parquet _SUCCESS at all) also retries
    shutil.rmtree(append_batch_dir(path, 8), ignore_errors=True)
    os.makedirs(os.path.join(append_batch_dir(path, 8), "blocks"))
    new2 = spark.createDataFrame([(9, "la pera")], "doc_id long, text string")
    append_batch_to_index(spark, path, new2, doc_col="doc_id", batch_id=8)
    assert high_water_mark(spark, path) == 9


def test_auto_compaction_lifecycle(spark, golden_corpus_df, tmp_path):
    """After auto_compact_after committed appends the index folds back
    into single base tables: appends dir drained, (token, block_id)
    fragmentation gone, WAND results identical (r02 verdict item 2)."""
    from textsearch_spark.plans.maintenance import fragmentation
    from textsearch_spark.sources.io import committed_append_ids

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    q = spark.createDataFrame([(0, "la manzana verde rica")], "query_id long, qtext string")
    texts = ["la manzana verde", "la hoja roja", "la pera rica", "la casa verde"]

    results = []
    for i, t in enumerate(texts):
        new = spark.createDataFrame([(8 + i, t)], "doc_id long, text string")
        m = append_batch_to_index(spark, path, new, doc_col="doc_id",
                                  batch_id=i, auto_compact_after=3)
        idx = load_index(spark, path)
        from textsearch_spark.operators.search import search_bm25

        wand = sorted((r.rank, r.doc_id, round(r.score, 10))
                      for r in search_bm25_wand(idx, q, 8, n_buckets=2).collect())
        naive = sorted((r.rank, r.doc_id, round(r.score, 10))
                       for r in search_bm25(idx, q, 8).collect())
        assert wand == naive
        results.append((m.get("compaction") is not None, wand))

    # the 3rd append tripped the threshold; the 4th starts a new epoch
    assert [c for c, _ in results] == [False, False, True, False]
    assert committed_append_ids(path) == ["3"]  # only the post-compaction batch
    frag = fragmentation(spark, path)
    assert frag["n_appends"] == 1
    # compaction merged every fragmented (token, block_id) group that
    # existed at compaction time; only batch 3's boundary fragment remains
    idx = load_index(spark, path)
    assert high_water_mark(spark, path) == 11
    assert idx.doclens.count() == 11


def test_compaction_crash_recovery(spark, golden_corpus_df, tmp_path):
    """A compaction that committed (COMMIT.json renamed in) but crashed
    before the swap must be finished transparently by the next load."""
    import os
    import shutil

    from textsearch_spark.plans.maintenance import compact_index
    from textsearch_spark.sources.io import COMPACT_TMP, committed_append_ids

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    for i, t in enumerate(["la manzana verde", "la hoja roja"]):
        new = spark.createDataFrame([(8 + i, t)], "doc_id long, text string")
        append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=i,
                              auto_compact_after=None)

    idx = load_index(spark, path)
    q = spark.createDataFrame([(0, "la manzana verde")], "query_id long, qtext string")
    before = sorted((r.rank, r.doc_id, round(r.score, 10))
                    for r in search_bm25_wand(idx, q, 8, n_buckets=2).collect())

    # stage + commit a compaction, then simulate the crash by renaming
    # the base tables back the way finish_compaction found them mid-way:
    # easiest faithful simulation — run compact_index fully, then verify
    # idempotence; plus an interrupted-swap replay via a fresh COMMIT dir
    m = compact_index(spark, path)
    assert m["appends_folded"] == 2
    assert committed_append_ids(path) == []
    assert not os.path.isdir(os.path.join(path, COMPACT_TMP))

    # replaying recovery on a clean index is a no-op
    from textsearch_spark.sources.io import finish_compaction

    finish_compaction(path)
    idx = load_index(spark, path)
    after = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(idx, q, 8, n_buckets=2).collect())
    assert before == after
    # an abandoned tmp dir without COMMIT.json is NOT swept by readers
    # (indistinguishable from a live writer's in-progress staging, r03
    # ADVICE item 1) — the next maintenance entry point sweeps it
    os.makedirs(os.path.join(path, COMPACT_TMP, "blocks"))
    load_index(spark, path)
    assert os.path.isdir(os.path.join(path, COMPACT_TMP)), "reader must not delete staging"
    compact_index(spark, path)
    assert not os.path.isdir(os.path.join(path, COMPACT_TMP))

    # genuine interrupted swap: committed tmp staged, base moved aside,
    # crash before the staged table moved in — next load must roll
    # forward and serve identical results
    import json as _json

    tmp = os.path.join(path, COMPACT_TMP)
    os.makedirs(tmp)
    shutil.copytree(os.path.join(path, "blocks"), os.path.join(tmp, "blocks"))
    with open(os.path.join(tmp, "COMMIT.json"), "w") as f:
        _json.dump({"appends": []}, f)
    os.rename(os.path.join(path, "blocks"), os.path.join(path, "blocks__old"))
    idx = load_index(spark, path)
    assert os.path.isdir(os.path.join(path, "blocks"))
    assert not os.path.isdir(os.path.join(path, "blocks__old"))
    assert not os.path.isdir(tmp)
    recovered = sorted((r.rank, r.doc_id, round(r.score, 10))
                       for r in search_bm25_wand(idx, q, 8, n_buckets=2).collect())
    assert recovered == before


def test_compaction_crash_mid_file_move(spark, golden_corpus_df, tmp_path):
    """Committed compaction killed halfway through moving an append's
    postings part-files into the base dir: recovery must move only the
    remaining files — no row lost, none duplicated."""
    import json as _json
    import os
    import shutil

    from textsearch_spark.sources.io import COMPACT_TMP, append_batch_dir

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    new = spark.createDataFrame(
        [(8, "la manzana verde"), (9, "la hoja roja")], "doc_id long, text string"
    )
    append_batch_to_index(spark, path, new, doc_col="doc_id", batch_id=0,
                          auto_compact_after=None)
    idx = load_index(spark, path)
    postings_before = idx.postings.count()
    doclens_before = idx.doclens.count()

    # committed compaction state: staged blocks (faithful copy of the
    # logical table is not needed for this test — reuse base blocks),
    # COMMIT naming append 0, and ONE postings part-file already moved
    tmp = os.path.join(path, COMPACT_TMP)
    os.makedirs(tmp)
    shutil.copytree(os.path.join(path, "blocks"), os.path.join(tmp, "blocks"))
    with open(os.path.join(tmp, "COMMIT.json"), "w") as f:
        _json.dump({"appends": ["0"], "staged": ["blocks"]}, f)
    src = os.path.join(append_batch_dir(path, 0), "postings")
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert parts, "append should have postings part-files"
    os.replace(os.path.join(src, parts[0]),
               os.path.join(path, "postings", f"append-0-{parts[0]}"))

    # crash here; next load rolls the swap forward idempotently
    idx = load_index(spark, path)
    assert idx.postings.count() == postings_before
    assert idx.doclens.count() == doclens_before
    assert idx.postings.select("doc_id", "token").distinct().count() == postings_before
    assert not os.path.isdir(append_batch_dir(path, 0))
    assert not os.path.isdir(tmp)


def test_stream_append_file_source(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    src = str(tmp_path / "src")
    extra = spark.createDataFrame(
        [("la manzana verde",), ("la hoja roja",), ("la pera rica",)], "text string"
    )
    extra.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_to_index(stream, path, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert high_water_mark(spark, path) == 10
    idx = load_index(spark, path)
    res = search_bm25_text(idx, "manzana verde", k=10).collect()
    assert any(r.doc_id > 7 for r in res)
    # WAND over the appended (boundary-split) blocks agrees with naive
    qdf = spark.createDataFrame([(0, "la manzana verde")], "query_id long, qtext string")
    from textsearch_spark.operators.search import search_bm25

    naive = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25(idx, qdf, 6).collect())
    wand = sorted((r.rank, r.doc_id, round(r.score, 10))
                  for r in search_bm25_wand(idx, qdf, 6, n_buckets=3).collect())
    assert naive == wand


def test_maintenance_lock_excludes_cross_process(spark, golden_corpus_df, tmp_path):
    """The maintenance lock is a real cross-process flock: while another
    process holds it, append/compact entry points time out instead of
    racing; when the holder dies (even via SIGKILL) the kernel releases
    the lock and the next acquire succeeds immediately."""
    import os
    import signal
    import subprocess
    import sys
    import time

    import pytest as _pytest

    from textsearch_spark.sources.io import MAINT_LOCK, maintenance_lock

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)

    holder = subprocess.Popen(
        [sys.executable, "-c", (
            "import fcntl, os, sys, time\n"
            f"fd = os.open(os.path.join({path!r}, {MAINT_LOCK!r}), os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('held', flush=True)\n"
            "time.sleep(60)\n"
        )],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with _pytest.raises(TimeoutError, match="maintenance lock busy"):
            with maintenance_lock(path, timeout=0.5):
                pass
        # kernel releases a dead holder's flock: no stale-lock state
        holder.send_signal(signal.SIGKILL)
        holder.wait()
        t0 = time.monotonic()
        with maintenance_lock(path, timeout=5.0):
            assert time.monotonic() - t0 < 2.0
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait()


def test_maintenance_lock_reentrant(spark, golden_corpus_df, tmp_path):
    """append -> auto-compact -> load_index all nest inside one lock
    hold without deadlocking (reentrancy within a process)."""
    from textsearch_spark.sources.io import maintenance_lock

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    with maintenance_lock(path, timeout=1.0):
        new = spark.createDataFrame([(8, "la manzana verde")], "doc_id long, text string")
        m = append_batch_to_index(spark, path, new, doc_col="doc_id",
                                  batch_id="re", auto_compact_after=1)
        assert m["n_docs_appended"] == 1
        assert "compaction" in m  # auto-compaction ran nested
    idx = load_index(spark, path)
    assert idx.doclens.count() == 8


def test_manifest_fold_hwm_and_fragmentation(spark, golden_corpus_df, tmp_path):
    """high_water_mark and fragmentation decisions fold manifests, not
    tables (r03 verdict item 5): they must answer correctly even with
    the doclens/blocks dirs physically hidden — proof no scan runs."""
    import json as _json
    import os

    from textsearch_spark.plans.maintenance import (
        compact_index, fragmentation, fragmentation_estimate,
    )

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)

    # fresh index: estimate exists, zero fragmentation, hwm from meta
    est = fragmentation_estimate(path)
    assert est is not None and est["fragment_extra_rows_max"] == 0
    os.rename(os.path.join(path, "doclens"), os.path.join(path, "doclens__hidden"))
    try:
        assert high_water_mark(spark, path) == 7  # would crash if it scanned
    finally:
        os.rename(os.path.join(path, "doclens__hidden"), os.path.join(path, "doclens"))

    for i, t in enumerate(["la manzana verde", "la hoja roja"]):
        new = spark.createDataFrame([(8 + i, t)], "doc_id long, text string")
        m = append_batch_to_index(spark, path, new, doc_col="doc_id",
                                  batch_id=i, auto_compact_after=None)
        assert m["last_doc"] == 8 + i
        assert m["n_block_rows"] > 0

    os.rename(os.path.join(path, "doclens"), os.path.join(path, "doclens__hidden"))
    try:
        assert high_water_mark(spark, path) == 9  # meta + manifest fold
    finally:
        os.rename(os.path.join(path, "doclens__hidden"), os.path.join(path, "doclens"))

    est = fragmentation_estimate(path)
    exact = fragmentation(spark, path)
    assert est["n_appends"] == 2
    assert est["fragment_extra_rows_max"] >= exact["fragment_extra_rows"]
    assert est["fragment_extra_rows_max"] > 0

    # compaction folds the appends and updates meta atomically: the
    # estimate returns to 0 and hwm still answers scan-free
    compact_index(spark, path)
    est = fragmentation_estimate(path)
    assert est["n_appends"] == 0
    assert est["fragment_extra_rows_max"] == 0
    with open(os.path.join(path, "meta.json")) as f:
        meta = _json.load(f)
    assert meta["last_doc"] == 9
    assert meta["n_block_rows"] == meta["n_block_groups"]

    # auto-ids take over above the folded high-water mark
    new = spark.createDataFrame([("la pera",)], "text string")
    m = append_batch_to_index(spark, path, new, auto_compact_after=None)
    assert m["first_doc"] == 10 and m["last_doc"] == 10

def test_maintenance_lock_is_per_thread_not_per_process(spark, golden_corpus_df,
                                                        tmp_path):
    """Reentrancy is thread-scoped: a SECOND driver thread must block on
    the flock (and time out), never treat the first thread's hold as its
    own — otherwise two threads could run concurrent mutations under
    'the' lock."""
    import threading

    from textsearch_spark.sources.io import maintenance_lock

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)
    outcome = {}

    def second_thread():
        try:
            with maintenance_lock(path, timeout=0.5):
                outcome["entered"] = True
        except TimeoutError:
            outcome["timed_out"] = True

    with maintenance_lock(path, timeout=1.0):
        t = threading.Thread(target=second_thread)
        t.start()
        t.join(timeout=10.0)
    assert outcome == {"timed_out": True}
    # released: the same second thread can now acquire it
    outcome.clear()
    t = threading.Thread(target=second_thread)
    t.start()
    t.join(timeout=10.0)
    assert outcome == {"entered": True}


def test_swap_guard_blocks_load_during_rename_window(spark, golden_corpus_df,
                                                     tmp_path):
    """A reader's load (shared swap guard) and the compaction swap's
    rename window (exclusive guard inside finish_compaction) exclude
    each other — a load never observes a mid-rename table layout; and
    shared holders do not exclude each other."""
    import threading

    from textsearch_spark.sources.io import swap_guard

    path = str(tmp_path / "idx")
    _base_index(spark, golden_corpus_df, path)

    # shared + shared: both enter
    with swap_guard(path, shared=True):
        got = {}

        def reader():
            with swap_guard(path, shared=True, timeout=2.0):
                got["ok"] = True

        t = threading.Thread(target=reader)
        t.start()
        t.join(10.0)
        assert got == {"ok": True}

        # shared held -> exclusive must wait (times out here)
        def swapper():
            try:
                with swap_guard(path, shared=False, timeout=0.5):
                    got["swap"] = True
            except TimeoutError:
                got["swap_blocked"] = True

        t = threading.Thread(target=swapper)
        t.start()
        t.join(10.0)
        assert got.get("swap_blocked") is True

    # exclusive held -> a reader's load blocks until release
    new = spark.createDataFrame([(8, "la manzana verde")], "doc_id long, text string")
    append_batch_to_index(spark, path, new, doc_col="doc_id",
                          auto_compact_after=None)
    res = {}

    def load_under_guard():
        try:
            idx = load_index(spark, path)
            res["n"] = idx.doclens.count()
        except Exception as e:  # noqa: BLE001 — surface to the assert
            res["err"] = repr(e)

    with swap_guard(path, shared=False):
        t = threading.Thread(target=load_under_guard)
        t.start()
        t.join(timeout=3.0)
        assert t.is_alive(), "load must wait out the rename window"
    t.join(timeout=30.0)
    assert res.get("n") == 8, res
