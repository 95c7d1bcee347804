"""Transaction-log backend lifecycle (r03 verdict item 3): the same
save / load / append / compact semantics as the rename-protocol
backend, on a layout whose only storage primitive is atomic
create-if-absent — the object-store (conditional PUT) commit model.
Mirrors the rename backend's lifecycle tests in
tests/test_streaming_append.py."""

import json
import os

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25, search_bm25_text
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources import txnlog as tx

from .conftest import STAGE_PLANS, local_df, stage_plan

CFG = TextConfig(nlist=[1])


def _base(spark, golden_corpus_df, path):
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    tx.save_index_txn(idx, path)
    return tx.load_index_txn(spark, path)


def test_publish_is_create_if_absent(tmp_path):
    p = str(tmp_path / "e.json")
    assert tx._publish(p, {"a": 1}) is True
    assert tx._publish(p, {"a": 2}) is False  # loser must not clobber
    with open(p) as f:
        assert json.load(f)["a"] == 1


def test_txn_frozen_append_semantics_and_parity(spark, golden_corpus_df, tmp_path):
    """Same frozen-vocab semantics as the rename backend: OOV drops,
    in-vocab doclen, frozen stats; naive/WAND parity over the appended
    (multi-dir) snapshot — on both append-staging plans."""
    for plan in STAGE_PLANS:
        path = str(tmp_path / plan)
        _base(spark, golden_corpus_df, path)
        assert tx.high_water_mark_txn(path) == 7

        new = local_df(
            spark, [(8, "la manzana verde abcnew"), (9, "la hoja roja rica")],
            "doc_id long, text string")
        with stage_plan(spark, plan):
            m = tx.append_batch_txn(spark, path, new, doc_col="doc_id",
                                    auto_compact_after=None)
        assert m["n_docs_appended"] == 2 and m["last_doc"] == 9
        assert tx.high_water_mark_txn(path) == 9

        idx = tx.load_index_txn(spark, path)
        dl = {r.doc_id: r.doclen for r in idx.doclens.collect()}
        assert dl[8] == 3  # abcnew is OOV: la, manzana, verde
        assert idx.n_docs == 7  # N frozen at fit

        q = spark.createDataFrame(
            [(0, "la manzana verde rica"), (1, "hoja roja")],
            "query_id long, qtext string")
        naive = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                       for r in search_bm25(idx, q, 5).collect())
        wand = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                      for r in search_bm25_wand(idx, q, 5, n_buckets=2).collect())
        assert naive == wand
        assert any(d in (8, 9) for (_, _, d, _) in naive)


def test_txn_matches_rename_backend_results(spark, golden_corpus_df, tmp_path):
    """Both backends over the identical corpus + appends must serve
    identical search results, on both append-staging plans."""
    from textsearch_spark.sources.io import load_index, save_index
    from textsearch_spark.streaming.append import append_batch_to_index

    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    q = spark.createDataFrame([(0, "la manzana roja")], "query_id long, qtext string")
    for plan in STAGE_PLANS:
        rename_p, txn_p = str(tmp_path / f"rn-{plan}"), str(tmp_path / f"tx-{plan}")
        save_index(idx, rename_p)
        tx.save_index_txn(idx, txn_p)
        new = local_df(
            spark, [(8, "la manzana verde"), (9, "la hoja roja")], "doc_id long, text string")
        with stage_plan(spark, plan):
            append_batch_to_index(spark, rename_p, new, doc_col="doc_id",
                                  auto_compact_after=None)
            tx.append_batch_txn(spark, txn_p, new, doc_col="doc_id",
                                auto_compact_after=None)

        a = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(load_index(spark, rename_p), q, 8,
                                             n_buckets=2).collect())
        b = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(tx.load_index_txn(spark, txn_p), q, 8,
                                             n_buckets=2).collect())
        assert a == b and a, plan


def test_txn_crash_invisible_and_idempotent_retry(spark, golden_corpus_df, tmp_path):
    """Data dirs without a committed log entry are invisible to readers
    and reclaimed by vacuum; a replayed batch_id commits exactly once."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)

    # simulated crash: staged-but-never-committed data dir
    ghost = os.path.join(path, tx.DATA_DIR, "postings", "append-ghost-deadbeef")
    os.makedirs(ghost)
    idx = tx.load_index_txn(spark, path)
    assert idx.doclens.count() == 7  # unreachable garbage ignored
    assert any("append-ghost" in d for d in tx.vacuum_txn(path, min_age_sec=0))
    assert not os.path.isdir(ghost)

    new = local_df(spark, [(8, "la casa")], "doc_id long, text string")
    tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id=0,
                        auto_compact_after=None)
    tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id=0,
                        auto_compact_after=None)  # replayed epoch
    idx = tx.load_index_txn(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 1
    assert len([e for e in tx.read_log(path) if e["op"] == "append"]) == 1


def test_txn_rejects_stale_and_duplicate_ids(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    stale = local_df(spark, [(3, "la casa")], "doc_id long, text string")
    dup = local_df(spark, [(8, "a"), (8, "b")], "doc_id long, text string")
    for plan in STAGE_PLANS:
        with stage_plan(spark, plan), pytest.raises(ValueError, match="high-water"):
            tx.append_batch_txn(spark, path, stale, doc_col="doc_id")
        with stage_plan(spark, plan), pytest.raises(ValueError, match="duplicate"):
            tx.append_batch_txn(spark, path, dup, doc_col="doc_id")


def test_txn_compaction_is_log_transaction_with_snapshot_isolation(
        spark, golden_corpus_df, tmp_path):
    """Compaction adds the merged blocks dir and removes the fragments
    in one entry; a reader holding the PRE-compaction snapshot keeps
    serving identical results (no swap ever happens under it), and
    vacuum then reclaims exactly the superseded dirs."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    for i, t in enumerate(["la manzana verde", "la hoja roja"]):
        new = local_df(spark, [(8 + i, t)], "doc_id long, text string")
        tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id=i,
                            auto_compact_after=None)

    est = tx.fragmentation_estimate_txn(path)
    assert est["n_appends"] == 2 and est["fragment_extra_rows_max"] > 0

    old_idx = tx.load_index_txn(spark, path)  # snapshot N
    q = spark.createDataFrame([(0, "la manzana verde")], "query_id long, qtext string")
    before = sorted((r.rank, r.doc_id, round(r.score, 10))
                    for r in search_bm25_wand(old_idx, q, 8, n_buckets=2).collect())

    m = tx.compact_index_txn(spark, path)
    assert m["appends_folded"] == 2
    est = tx.fragmentation_estimate_txn(path)
    assert est["fragment_extra_rows_max"] == 0 and est["n_appends"] == 0
    assert tx.high_water_mark_txn(path) == 9

    # snapshot isolation: the pre-compaction reader still works and
    # agrees (its dirs are still on disk until vacuum)
    still = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(old_idx, q, 8, n_buckets=2).collect())
    assert still == before

    new_idx = tx.load_index_txn(spark, path)
    after = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25_wand(new_idx, q, 8, n_buckets=2).collect())
    assert after == before
    # exactly one live blocks dir post-compaction; vacuum reclaims the
    # three superseded ones (init + 2 appends) and nothing else
    snap = tx.snapshot(path)
    assert len(snap["blocks"]) == 1
    deleted = tx.vacuum_txn(path, min_age_sec=0)
    assert len([d for d in deleted if d.startswith("data/blocks/")]) == 3
    assert sorted((r.rank, r.doc_id, round(r.score, 10))
                  for r in search_bm25_wand(tx.load_index_txn(spark, path), q, 8,
                                            n_buckets=2).collect()) == before
    # a second compaction is a metadata no-op
    assert tx.compact_index_txn(spark, path).get("skipped") is True


def test_txn_auto_compaction_and_text_search(spark, golden_corpus_df, tmp_path):
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    for i in range(3):
        new = local_df(spark, [(8 + i, "la pera rica")], "doc_id long, text string")
        m = tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id=i,
                                auto_compact_after=2)
    assert any("compaction" in json.dumps(e) or e["op"] == "compact"
               for e in tx.read_log(path))
    idx = tx.load_index_txn(spark, path)
    res = search_bm25_text(idx, "pera rica", k=10).collect()
    assert {r.doc_id for r in res} >= {5, 8, 9, 10}

def _race_once(monkeypatch, rival_entry, on_op):
    """Monkeypatch tx._publish so the FIRST publish attempt for an
    ``on_op`` entry loses the sequence race to ``rival_entry`` (a
    concurrent writer claims that seq first) — the interleaving the
    optimistic-commit validation must handle."""
    real_publish = tx._publish
    state = {"fired": False}

    def racing(p, doc):
        if doc.get("op") == on_op and not state["fired"]:
            state["fired"] = True
            real_publish(p, {**rival_entry, "seq": doc["seq"], "committed_at": 0.0})
        return real_publish(p, doc)

    monkeypatch.setattr(tx, "_publish", racing)
    return state


def test_txn_concurrent_append_conflict_raises(spark, golden_corpus_df, tmp_path,
                                               monkeypatch):
    """A DIFFERENT batch committing between our snapshot and our commit
    moved the high-water mark our doc ids were assigned against — the
    retry must raise TxnConflict, never publish the stale batch."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    state = _race_once(monkeypatch, {
        "op": "append", "batch_id": "rival", "add": {},
        "metrics": {"last_doc": 99, "n_block_rows": 0},
    }, on_op="append")
    new = local_df(spark, [(8, "la casa")], "doc_id long, text string")
    with pytest.raises(tx.TxnConflict, match="high-water"):
        tx.append_batch_txn(spark, path, new, doc_col="doc_id",
                            auto_compact_after=None)
    assert state["fired"]
    # the loser's staged dirs are unreachable garbage, reclaimable
    idx = tx.load_index_txn(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 0
    assert tx.vacuum_txn(path, min_age_sec=0)


def test_txn_append_commutes_with_concurrent_compaction(spark, golden_corpus_df,
                                                        tmp_path, monkeypatch):
    """A compaction entry interleaving with an append does NOT move the
    high-water mark, so the append's retry validates clean and commits."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    hwm = tx.high_water_mark_txn(path)
    snap = tx.snapshot(path)
    # rival no-op compaction: re-adds the same dirs it removes
    state = _race_once(monkeypatch, {
        "op": "compact", "add": {"blocks": snap["blocks"]},
        "remove": {"blocks": snap["blocks"]},
        "metrics": {"last_doc": hwm, "n_block_rows": 7, "n_block_groups": 7},
    }, on_op="append")
    new = local_df(spark, [(8, "la casa rica")], "doc_id long, text string")
    m = tx.append_batch_txn(spark, path, new, doc_col="doc_id",
                            auto_compact_after=None)
    assert state["fired"] and m["n_docs_appended"] == 1
    idx = tx.load_index_txn(spark, path)
    assert idx.doclens.filter("doc_id = 8").count() == 1
    ops = [e["op"] for e in tx.read_log(path)]
    assert ops == ["init", "compact", "append"]


def test_txn_concurrent_compaction_conflict_raises(spark, golden_corpus_df,
                                                   tmp_path, monkeypatch):
    """Two compactions racing: the loser's merge is stale (its removed
    dirs are already gone) — committing it would double-count every
    block row, so it must raise TxnConflict."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    new = local_df(spark, [(8, "la casa")], "doc_id long, text string")
    tx.append_batch_txn(spark, path, new, doc_col="doc_id", auto_compact_after=None)
    snap = tx.snapshot(path)
    state = _race_once(monkeypatch, {
        "op": "compact", "add": {"blocks": ["data/blocks/compact-rival"]},
        "remove": {"blocks": snap["blocks"]},
        "metrics": {"last_doc": 8, "n_block_rows": 9, "n_block_groups": 9},
    }, on_op="compact")
    with pytest.raises(tx.TxnConflict, match="concurrent compaction"):
        tx.compact_index_txn(spark, path)
    assert state["fired"]


def test_txn_vacuum_retention_window_protects_live_staging(spark, golden_corpus_df,
                                                           tmp_path):
    """An unreferenced data dir younger than min_age_sec is an in-flight
    writer's staging, not garbage — vacuum must leave it alone."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    staging = os.path.join(path, tx.DATA_DIR, "postings", "append-live-writer")
    os.makedirs(staging)
    assert tx.vacuum_txn(path) == []          # default 24h window
    assert os.path.isdir(staging)
    assert tx.vacuum_txn(path, min_age_sec=0) == [
        "data/postings/append-live-writer"]   # explicit opt-out reclaims

_CONCURRENT_WRITER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from textsearch_spark.sources import txnlog as tx

path, tag, barrier = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .appName(f"txn-writer-{{tag}}").getOrCreate())
docs = spark.createDataFrame(
    [(f"texto nuevo {{tag}} uno la casa",), (f"texto nuevo {{tag}} dos la pera",)],
    "text string")
# barrier: both writers wait for the flag file so their append windows
# genuinely overlap (session startup jitter would otherwise serialize)
while not os.path.exists(barrier):
    time.sleep(0.02)
conflicts = 0
for attempt in range(6):
    try:
        m = tx.append_batch_txn(spark, path, docs, batch_id=f"{{tag}}-{{attempt}}",
                                auto_compact_after=None)
        print(f"COMMITTED {{tag}} attempt={{attempt}} conflicts={{conflicts}} "
              f"first={{m['first_doc']}} last={{m['last_doc']}}", flush=True)
        break
    except tx.TxnConflict:
        conflicts += 1
else:
    print(f"GAVE-UP {{tag}}", flush=True)
    sys.exit(3)
spark.stop()
"""


def test_txn_two_process_concurrent_appends(spark, golden_corpus_df, tmp_path):
    """Two real OS processes append DIFFERENT batches to the same index
    with overlapping windows (file barrier). Allowed outcomes per
    writer: commit first try (it won) or TxnConflict then commit on a
    retry against the fresh snapshot. Never: both committing against
    the same high-water mark. End state: base + 4 docs, no duplicate
    doc ids, naive == WAND."""
    import subprocess
    import sys as _sys

    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    barrier = str(tmp_path / "go")
    script = _CONCURRENT_WRITER.format(repo=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    procs = [
        subprocess.Popen([_sys.executable, "-c", script, path, tag, barrier],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
        for tag in ("wa", "wb")
    ]
    with open(barrier, "w") as f:
        f.write("go")
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("COMMITTED" in o for o in outs), outs

    idx = tx.load_index_txn(spark, path)
    doc_ids = [r.doc_id for r in idx.doclens.select("doc_id").collect()]
    assert len(doc_ids) == 11 and len(set(doc_ids)) == 11, sorted(doc_ids)
    assert tx.high_water_mark_txn(path) == 11
    appends = [e for e in tx.read_log(path) if e["op"] == "append"]
    assert len(appends) == 2
    # ids must partition cleanly: 8-9 to one winner, 10-11 to the other
    spans = sorted((e["metrics"]["first_doc"], e["metrics"]["last_doc"])
                   for e in appends)
    assert spans == [(8, 9), (10, 11)], spans

    q = spark.createDataFrame([(0, "texto nuevo la casa")],
                              "query_id long, qtext string")
    naive = sorted((r.rank, r.doc_id, round(r.score, 10))
                   for r in search_bm25(idx, q, 8).collect())
    wand = sorted((r.rank, r.doc_id, round(r.score, 10))
                  for r in search_bm25_wand(idx, q, 8, n_buckets=2).collect())
    assert naive == wand and naive

def test_txn_log_checkpoint_and_vacuum(spark, golden_corpus_df, tmp_path):
    """A checkpoint entry folds the complete log state: every fold
    (snapshot, high-water mark, fragmentation, batch dedupe) must be
    identical before and after, search results unchanged, the
    superseded log prefix prunable, and the lifecycle must continue on
    top (append after checkpoint; second checkpoint folds both)."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    for i, t in enumerate(["la manzana verde", "la hoja roja"]):
        new = local_df(spark, [(8 + i, t)], "doc_id long, text string")
        tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id=i,
                            auto_compact_after=None)
    tx.compact_index_txn(spark, path)
    new = local_df(spark, [(10, "la pera rica")], "doc_id long, text string")
    tx.append_batch_txn(spark, path, new, doc_col="doc_id", batch_id="post",
                        auto_compact_after=None)

    q = spark.createDataFrame([(0, "la manzana pera")], "query_id long, qtext string")

    def state():
        return (tx.snapshot(path), tx.high_water_mark_txn(path),
                tx.fragmentation_estimate_txn(path))

    def results():
        return sorted((r.rank, r.doc_id, round(r.score, 10))
                      for r in search_bm25_wand(tx.load_index_txn(spark, path),
                                                q, 8, n_buckets=2).collect())

    before_state, before_res = state(), results()
    cp = tx.checkpoint_txn(path)
    assert cp["op"] == "checkpoint" and cp["metrics"]["last_doc"] == 10
    assert state() == before_state
    assert results() == before_res

    # prune the superseded prefix (init + 2 appends + compact + append)
    pruned = tx.vacuum_log_txn(path, min_age_sec=0)
    assert len(pruned) == 5
    remaining_ops = [e["op"] for e in tx.read_log(path)]
    assert remaining_ops == ["checkpoint"]
    assert state() == before_state
    assert results() == before_res

    # exactly-once dedupe survives the pruned prefix: the replayed
    # batch resolves from the checkpoint's carried history
    m = tx.append_batch_txn(spark, path, new, doc_col="doc_id",
                            batch_id="post", auto_compact_after=None)
    assert m["n_docs_appended"] == 1  # recorded metrics, no re-append
    assert tx.load_index_txn(spark, path).doclens.filter(
        "doc_id = 10").count() == 1

    # lifecycle continues on top: append, then a second checkpoint
    new2 = local_df(spark, [(11, "la casa rica")], "doc_id long, text string")
    tx.append_batch_txn(spark, path, new2, doc_col="doc_id", batch_id="p2",
                        auto_compact_after=None)
    assert tx.high_water_mark_txn(path) == 11
    tx.checkpoint_txn(path)
    tx.vacuum_log_txn(path, min_age_sec=0)
    assert [e["op"] for e in tx.read_log(path)] == ["checkpoint"]
    idx = tx.load_index_txn(spark, path)
    assert idx.doclens.count() == 11
    # both batch histories carried forward
    assert tx._find_append(tx.read_log(path), "post") is not None
    assert tx._find_append(tx.read_log(path), "p2") is not None


def test_txn_checkpoint_refolds_on_interleaved_commit(spark, golden_corpus_df,
                                                      tmp_path, monkeypatch):
    """An entry landing between the checkpoint's fold and its publish
    must NOT be erased: the stale summary is discarded and the fold
    re-runs, so the committed checkpoint includes the rival's effect."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    state = _race_once(monkeypatch, {
        "op": "append", "batch_id": "rival", "add": {},
        "metrics": {"last_doc": 42, "n_block_rows": 3},
    }, on_op="checkpoint")
    cp = tx.checkpoint_txn(path)
    assert state["fired"]
    assert cp["metrics"]["last_doc"] == 42  # refolded over the rival
    assert "rival" in cp["append_metrics"]
    assert cp["metrics"]["n_appends"] == 1


def test_txn_time_travel_snapshots(spark, golden_corpus_df, tmp_path):
    """at_seq reproduces the index exactly as it stood after each
    commit; expired snapshots (log prefix pruned / data dirs vacuumed)
    raise instead of silently serving newer state."""
    path = str(tmp_path / "idx")
    _base(spark, golden_corpus_df, path)
    q = spark.createDataFrame([(1, "hoja roja rica")], "query_id long, qtext string")

    def top(idx):
        return [(r.rank, r.doc_id, round(r.score, 9))
                for r in search_bm25_wand(idx, q, 3).orderBy("rank").collect()]

    snap1 = top(tx.load_index_txn(spark, path))  # docs 1..7
    tx.append_batch_txn(spark, path,
                        local_df(spark, [(8, "la hoja roja rica")],
                                 "doc_id long, text string"),
                        doc_col="doc_id", batch_id="e0", auto_compact_after=None)
    snap2 = top(tx.load_index_txn(spark, path))
    tx.append_batch_txn(spark, path,
                        local_df(spark, [(9, "roja roja hoja")],
                                 "doc_id long, text string"),
                        doc_col="doc_id", batch_id="e1", auto_compact_after=None)
    hist = tx.log_history_txn(path)
    assert [h["op"] for h in hist] == ["init", "append", "append"]
    assert hist[1]["batch_id"] == "e0" and hist[1]["last_doc"] == 8

    # time travel: each seq reproduces its own state exactly
    at1 = tx.load_index_txn(spark, path, at_seq=hist[0]["seq"])
    assert at1.doclens.count() == 7 and at1.last_doc == 7
    assert top(at1) == snap1
    at2 = tx.load_index_txn(spark, path, at_seq=hist[1]["seq"])
    assert at2.doclens.count() == 8 and at2.last_doc == 8
    assert top(at2) == snap2
    assert tx.load_index_txn(spark, path, at_seq=hist[2]["seq"]).doclens.count() == 9

    # compaction keeps old snapshots reproducible (removal is logical)
    tx.compact_index_txn(spark, path)
    assert top(tx.load_index_txn(spark, path, at_seq=hist[1]["seq"])) == snap2

    # ... until vacuum deletes the superseded dirs: expired raises
    tx.vacuum_txn(path, min_age_sec=0)
    with pytest.raises(ValueError, match="expired"):
        tx.load_index_txn(spark, path, at_seq=hist[0]["seq"]).blocks.count()

    # ... and a pruned log prefix expires every pre-checkpoint seq
    tx.checkpoint_txn(path)
    tx.vacuum_log_txn(path, min_age_sec=0)
    with pytest.raises(ValueError, match="expired"):
        tx.load_index_txn(spark, path, at_seq=hist[1]["seq"])
    # the current snapshot is unaffected throughout
    assert tx.load_index_txn(spark, path).doclens.count() == 9
