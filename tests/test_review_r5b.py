"""Pins for the round-5 THIRD review sweep (post-closeout findings).

One test per finding:

1. a BARE (scheme-less) checkpoint path follows ``fs.defaultFS`` —
   Spark checkpoints a bare path to the default filesystem, so the run
   nonce must live there too; minting it machine-locally would silently
   recreate both failure modes the nonce exists to prevent (stale
   identity across a remote delete-and-recreate; per-machine split
   identities). A nonce left machine-locally by the pre-fix code seeds
   the migrated one so the stream's identity survives the upgrade.
2. the txnlog checkpoint floor is dropped when its log directory was
   deleted and recreated even if the (path, inode) key collides
   (filesystems reuse freed inode numbers) — probed via
   ``_any_entry_at_or_above``, which stays True across any legal
   vacuum race of the SAME instance.
3. a replayed catalog-backend append returns the FULL recorded metrics
   dict (``metrics_json`` on the log row), matching the rename/txnlog
   backends' replay contract.
4. ``prebucket_blocks`` materializes the resident blocks and releases
   the cached relation it displaces (opt-out for shared handles).
"""

import os

import pytest

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources import txnlog as tx
from textsearch_spark.streaming import append as ap

CFG = TextConfig(nlist=[1])


def _blocks_index(golden_corpus_df, span=4):
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=span)
    return idx


# ---------------------------------------------------------------- 1

def test_bare_checkpoint_path_follows_default_fs(spark, tmp_path, monkeypatch):
    hconf = spark._jsc.hadoopConfiguration()
    old_fs = hconf.get("fs.defaultFS", "file:///")

    routed = []

    def fake_remote(s, d, seed_nonce=None):
        routed.append((d, seed_nonce))
        return f"{d.rstrip('/')}#{seed_nonce or 'fresh'}"

    monkeypatch.setattr(ap, "_remote_checkpoint_run_id", fake_remote)

    # local defaultFS: a bare path stays machine-local (no remote call)
    ck_local = str(tmp_path / "ck_local")
    rid = ap._checkpoint_run_id(ck_local, spark)
    assert rid.startswith(os.path.abspath(ck_local) + "#") and not routed

    hconf.set("fs.defaultFS", "hdfs://fake-nn:9000")
    try:
        # remote defaultFS: the SAME bare-path spelling now routes to
        # the filesystem the checkpoint actually lives on
        ck = str(tmp_path / "ck_bare")
        rid = ap._checkpoint_run_id(ck, spark)
        assert routed and routed[-1][0] == ck
        assert routed[-1][1] is None  # nothing to migrate
        assert rid.endswith("#fresh")

        # pre-fix migration: a machine-local nonce at the bare path
        # seeds the remote one, so manifests stamped with it keep
        # matching by the same-nonce replay rule
        legacy = tmp_path / "ck_legacy"
        legacy.mkdir()
        (legacy / ap._NONCE_NAME).write_text("cafe1234\n")
        rid = ap._checkpoint_run_id(str(legacy), spark)
        assert routed[-1] == (str(legacy), "cafe1234")
        assert rid.endswith("#cafe1234")
        assert ap.is_replay_of(f"{os.path.abspath(str(legacy))}#cafe1234", rid)

        # an explicit file: URI is still machine-local under any defaultFS
        n = len(routed)
        rid = ap._checkpoint_run_id(f"file://{tmp_path}/ck_file", spark)
        assert len(routed) == n and rid.startswith(str(tmp_path))
    finally:
        hconf.set("fs.defaultFS", old_fs)


# ---------------------------------------------------------------- 2

def test_stale_floor_dropped_on_recreated_log(spark, golden_corpus_df,
                                              tmp_path):
    """Simulated inode reuse: a floor poked in for a FRESH log at the
    same key must not wedge commits — the probe sees no entry at or
    above it and drops it (the 'pathological writer contention' loop
    the review constructed)."""
    path = str(tmp_path / "idx")
    tx.save_index_txn(_blocks_index(golden_corpus_df), path)
    key = tx._floor_key(path)
    tx._CP_FLOOR[key] = 50  # a floor from a deleted prior instance
    try:
        # commits must proceed (previously: 64 futile retries -> raise)
        e = tx.checkpoint_txn(path)
        assert e["seq"] <= 50
        assert key not in tx._CP_FLOOR or tx._CP_FLOOR[key] <= e["seq"]
    finally:
        tx._CP_FLOOR.pop(tx._floor_key(path), None)


def test_any_entry_probe_distinguishes_vacuum_race(tmp_path):
    """Same-instance logs always keep an entry at/above the floor
    (vacuum deletes strictly below its checkpoint), so the probe must
    stay True there — the floor keeps protecting against the
    stale-listing re-claim."""
    d = tmp_path / "idx" / tx.LOG_DIR
    d.mkdir(parents=True)
    for seq in (1, 2, 3):
        (d / f"{seq:020d}.json").write_text("{}")
    assert not tx._any_entry_at_or_above(str(tmp_path / "idx"), 50)
    (d / f"{50:020d}.json").write_text("{}")  # the floor checkpoint
    assert tx._any_entry_at_or_above(str(tmp_path / "idx"), 50)


# ---------------------------------------------------------------- 3

def test_catalog_replay_returns_full_metrics(spark, golden_corpus_df):
    import uuid

    from textsearch_spark.sources import catalog as cat

    prefix = f"tsidx_r5b_{uuid.uuid4().hex[:8]}"
    cat.save_index_catalog(_blocks_index(golden_corpus_df), prefix,
                           with_qgrams=False)
    try:
        new = spark.createDataFrame([(8, "la hoja azul")],
                                    "doc_id long, text string")
        m1 = cat.append_batch_catalog(spark, prefix, new,
                                      doc_col="doc_id", batch_id="b0")
        m2 = cat.append_batch_catalog(spark, prefix, new,
                                      doc_col="doc_id", batch_id="b0")
        assert m2.get("replay") is True
        # the full contract the other two backends honor on replay
        for k in ("n_docs_appended", "first_doc", "last_doc",
                  "n_block_rows", "append_sec", "span", "batch_id"):
            assert m2[k] == m1[k], k
    finally:
        cat._TableIO(spark, prefix).drop_all()


# ---------------------------------------------------------------- 4

def test_prebucket_releases_displaced_relation(spark, golden_corpus_df):
    from textsearch_spark.operators.wand import prebucket_blocks

    idx = _blocks_index(golden_corpus_df)
    old = idx.blocks.persist()
    old.count()
    assert old.storageLevel.useMemory
    prebucket_blocks(idx, n_buckets=2)
    # new relation is materialized resident; the displaced one released
    assert idx.blocks.storageLevel.useMemory or idx.blocks.storageLevel.useDisk
    assert not (old.storageLevel.useMemory or old.storageLevel.useDisk)

    # opt-out for shared handles: the displaced relation stays cached
    idx2 = _blocks_index(golden_corpus_df)
    shared = idx2.blocks.persist()
    shared.count()
    prebucket_blocks(idx2, n_buckets=2, unpersist_displaced=False)
    assert shared.storageLevel.useMemory
    shared.unpersist(blocking=False)
    idx2.blocks.unpersist(blocking=False)
    idx.blocks.unpersist(blocking=False)
