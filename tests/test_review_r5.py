"""Pins for the round-5 adversarial-review fixes.

One test per finding, each exercising the exact failure scenario the
review constructed:

1. time travel to a NONEXISTENT snapshot raises on both backends
   (txnlog at_seq above the top committed seq; catalog as_of predating
   the first commit) instead of silently serving the latest / an empty
   index;
2. the checkpoint run nonce follows the checkpoint dir's own
   filesystem — a file:// URI resolves to the local path, a remote URI
   goes through Hadoop's FileSystem (exercised here via the local
   Hadoop FS), and a remote URI without a session fails loudly;
3. a colliding manifest of UNKNOWN provenance (run_id None — a
   pre-run-id-era stream) raises by default but can be deliberately
   accepted as a replay with on_unknown_run="skip" (the unwedge for
   resuming a pre-upgrade stream over its original checkpoint);
4. search_bm25_wand_chunked inherits a prebucketed index's OWN bucket
   count, so partition residency survives the chunked path.
"""

import shutil

import pytest

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources import catalog as cat
from textsearch_spark.sources import txnlog as tx
from textsearch_spark.streaming.append import (_checkpoint_run_id,
                                               _remote_checkpoint_run_id,
                                               append_batch_to_index)
from textsearch_spark.streaming.incremental import merge_vocab_increment

CFG = TextConfig(nlist=[1])


def _blocks_index(golden_corpus_df):
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    return idx


# ---------------------------------------------------------------- 1

def test_txn_at_seq_beyond_top_raises(spark, golden_corpus_df, tmp_path):
    """at_seq above the top committed seq (a typo'd --at-seq) must NOT
    serve the latest snapshot labeled as time travel."""
    path = str(tmp_path / "idx")
    tx.save_index_txn(_blocks_index(golden_corpus_df), path)
    top = tx.log_history_txn(path)[-1]["seq"]
    # the real top still loads
    assert tx.load_index_txn(spark, path, at_seq=top).doclens.count() == 7
    with pytest.raises(ValueError, match="does not exist"):
        tx.load_index_txn(spark, path, at_seq=top + 96)


def test_catalog_as_of_before_first_commit_raises(spark, golden_corpus_df,
                                                  tmp_path):
    """as_of predating the init commit (typo, or seconds-vs-ms unit
    confusion) must raise, not serve a silently EMPTY index."""
    import uuid

    prefix = f"ts_r5_{uuid.uuid4().hex[:8]}"
    cat.save_index_catalog(_blocks_index(golden_corpus_df), prefix)
    try:
        first = cat.log_history_catalog(spark, prefix)[0]["committed_at"]
        # at the first commit: full index
        assert cat.load_index_catalog(
            spark, prefix, as_of=first).doclens.count() == 7
        with pytest.raises(ValueError, match="predates the first commit"):
            cat.load_index_catalog(spark, prefix, as_of=first - 1000.0)
    finally:
        cat._TableIO(spark, prefix).drop_all()


# ---------------------------------------------------------------- 2

def test_run_nonce_file_uri_is_the_local_path(tmp_path):
    ck = tmp_path / "ckpt"
    plain = _checkpoint_run_id(str(ck))
    via_uri = _checkpoint_run_id(f"file://{ck}")
    assert plain == via_uri  # same dir instance -> same identity
    # delete-and-recreate mints a NEW identity either way
    shutil.rmtree(ck)
    assert _checkpoint_run_id(f"file://{ck}") != plain


def test_run_nonce_remote_uri_requires_session(tmp_path):
    with pytest.raises(ValueError, match="remote URI"):
        _checkpoint_run_id("s3a://bucket/ckpt", None)


def test_run_nonce_remote_fs_protocol(spark, tmp_path):
    """The Hadoop-FS nonce protocol, exercised through the local Hadoop
    filesystem (the same FileSystem API an s3a:// or hdfs:// URI
    resolves): stable across calls, fresh after delete-and-recreate."""
    ck = tmp_path / "remote_ckpt"
    uri = f"file://{ck}"
    rid1 = _remote_checkpoint_run_id(spark, uri)
    assert rid1.startswith(uri) and "#" in rid1
    assert _remote_checkpoint_run_id(spark, uri) == rid1
    # the public entry routes remote URIs here (non-file scheme), and
    # the file:// form must agree with itself across repeat calls
    shutil.rmtree(ck)
    rid2 = _remote_checkpoint_run_id(spark, uri)
    assert rid2 != rid1  # recreate = new instance = new run identity


def test_run_nonce_local_and_remote_readers_agree(spark, tmp_path):
    """One wire format: a nonce written by the local path must read
    identically through the Hadoop-FS path (same store mounted locally
    and reached by URI elsewhere) and vice versa."""
    ck = tmp_path / "both_ways"
    local_id = _checkpoint_run_id(str(ck))
    remote_id = _remote_checkpoint_run_id(spark, f"file://{ck}")
    assert local_id.split("#", 1)[1] == remote_id.split("#", 1)[1]


def test_run_nonce_torn_empty_file_raises(spark, tmp_path):
    """A zero-byte nonce (writer crashed mid-publish on a store without
    atomic rename) must fail with the remediation named, not an opaque
    EOF from deep inside the JVM."""
    ck = tmp_path / "torn"
    ck.mkdir()
    (ck / "_textsearch_run_nonce").write_text("")
    with pytest.raises(ValueError, match="empty"):
        _remote_checkpoint_run_id(spark, f"file://{ck}")


# ---------------------------------------------------------------- 3

def test_unknown_run_manifest_raise_and_skip(spark, golden_corpus_df, tmp_path):
    from textsearch_spark.sources.io import save_index

    path = str(tmp_path / "idx")
    save_index(_blocks_index(golden_corpus_df), path)
    new = spark.createDataFrame([(8, "la hoja roja")], "doc_id long, text string")
    # pre-run-id-era manifest: an append that recorded NO run id
    m0 = append_batch_to_index(spark, path, new, doc_col="doc_id",
                               batch_id=0, run_id=None)
    assert m0["n_docs_appended"] == 1
    # a named run colliding with it raises by default, with the unwedge
    # named in the message
    with pytest.raises(ValueError, match="on_unknown_run"):
        append_batch_to_index(spark, path, new, doc_col="doc_id",
                              batch_id=0, run_id="ckptA#n1")
    # the deliberate unwedge: accept the replay, nothing double-appended
    m = append_batch_to_index(spark, path, new, doc_col="doc_id",
                              batch_id=0, run_id="ckptA#n1",
                              on_unknown_run="skip")
    assert m["batch_id"] == "0" and m["n_docs_appended"] == 1  # cached metrics
    from textsearch_spark.sources.io import load_index
    assert load_index(spark, path).doclens.count() == 8  # still one append
    # skip applies ONLY to unknown provenance: a DIFFERENT named run
    # still raises
    append_batch_to_index(spark, path, new.selectExpr("doc_id + 1 as doc_id",
                                                      "text"),
                          doc_col="doc_id", batch_id=1, run_id="ckptA#n1")
    with pytest.raises(ValueError, match="DIFFERENT"):
        append_batch_to_index(spark, path, new, doc_col="doc_id",
                              batch_id=1, run_id="ckptB#n2",
                              on_unknown_run="skip")


def test_same_nonce_different_spelling_is_a_replay(spark, golden_corpus_df,
                                                   tmp_path):
    """The nonce alone identifies the checkpoint instance: the SAME
    checkpoint resumed under a differently-spelled path/URI (relative
    vs absolute, equivalent URI forms) must be accepted as a replay,
    not killed as a different run."""
    from textsearch_spark.sources.io import save_index

    path = str(tmp_path / "idx")
    save_index(_blocks_index(golden_corpus_df), path)
    new = spark.createDataFrame([(8, "la hoja roja")], "doc_id long, text string")
    append_batch_to_index(spark, path, new, doc_col="doc_id",
                          batch_id=0, run_id="s3a://b/ckpt#nonceX")
    # same nonce, different spelling of the checkpoint location
    m = append_batch_to_index(spark, path, new, doc_col="doc_id",
                              batch_id=0, run_id="s3a://other-spelling#nonceX")
    assert m["n_docs_appended"] == 1  # cached replay metrics, no raise
    # different nonce = genuinely different instance: still raises
    with pytest.raises(ValueError, match="DIFFERENT"):
        append_batch_to_index(spark, path, new, doc_col="doc_id",
                              batch_id=0, run_id="s3a://b/ckpt#nonceY")


def test_unknown_run_vocab_state_raise_and_skip(spark, tmp_path):
    state = str(tmp_path / "vocab_state")
    d1 = spark.createDataFrame([(1, "casa verde")], "doc_id long, text string")
    merge_vocab_increment(d1, CFG, state, batch_id=0, run_id=None)
    with pytest.raises(ValueError, match="on_unknown_run"):
        merge_vocab_increment(d1, CFG, state, batch_id=0, run_id="ckptA#n1")
    v = merge_vocab_increment(d1, CFG, state, batch_id=0, run_id="ckptA#n1",
                              on_unknown_run="skip")
    assert v.count() > 0  # replay accepted: state served, not re-merged
    # stamp a named run, then resume it under a different spelling of
    # the same nonce: a replay, not a conflict
    merge_vocab_increment(d1, CFG, state, batch_id=1, run_id="ckptA#n1")
    v2 = merge_vocab_increment(d1, CFG, state, batch_id=1,
                               run_id="elsewhere#n1")
    assert v2.count() > 0
    with pytest.raises(ValueError, match="run"):
        merge_vocab_increment(d1, CFG, state, batch_id=1, run_id="ckptA#n9")


def test_is_replay_of_forms():
    """The shared replay decision, all accepted forms + the rejections
    (one function, used by both the index-append and vocab guards)."""
    from textsearch_spark.streaming.append import is_replay_of as rep

    assert rep("anything", None)                      # ad-hoc caller
    assert rep("u#n1", "u#n1")                        # exact
    assert rep("/ck", "/ck#n1")                       # pre-nonce path
    assert rep("/abs/ck#n1", "ck#n1")                 # same nonce
    # pre-remote-fix mangled form: the old code abspath'd the URI into
    # a machine-local dir with a locally-minted nonce
    assert rep("/home/u/s3a:/b/ckpt#local9", "s3a://b/ckpt#n2")
    assert rep("/home/u/s3a:/b/ckpt", "s3a://b/ckpt#n2")  # pre-nonce era
    assert not rep("/home/u/s3a:/b/OTHER#local9", "s3a://b/ckpt#n2")
    assert not rep("u#n1", "u#n2")                    # different instance
    assert not rep(None, "u#n1")                      # unknown: raise
    assert rep(None, "u#n1", "skip")                  # ... unless opted in


def test_on_unknown_run_validated_up_front(spark, tmp_path):
    """A misspelled mode must fail at the call, not resurface later as
    the very conflict error the caller believed they opted out of."""
    d = spark.createDataFrame([(1, "casa")], "doc_id long, text string")
    with pytest.raises(ValueError, match="on_unknown_run"):
        merge_vocab_increment(d, CFG, str(tmp_path / "s"), batch_id=0,
                              run_id="r#n", on_unknown_run="Skip")
    with pytest.raises(ValueError, match="on_unknown_run"):
        append_batch_to_index(spark, str(tmp_path / "i"), d,
                              batch_id=0, on_unknown_run="ignore")


# ---------------------------------------------------------------- 4

def test_chunked_inherits_prebucket_n(spark, golden_corpus_df, monkeypatch):
    from textsearch_spark.operators import wand as wandmod

    idx = _blocks_index(golden_corpus_df)
    queries = spark.createDataFrame([(1, "casa verde")],
                                    "query_id long, qtext string")
    seen = {}

    def capture(index, q, k, *, id_col="query_id", **kwargs):
        seen.update(kwargs)
        return q

    monkeypatch.setattr(wandmod, "search_bm25_wand", capture)
    # un-prebucketed: the shared default
    wandmod.search_bm25_wand_chunked(idx, queries, 3)
    assert seen["n_buckets"] == wandmod._default_n_buckets(idx)
    # prebucketed at a NON-default count: residency must be preserved
    seen.clear()
    idx.prebucket_n = wandmod._default_n_buckets(idx) + 3
    wandmod.search_bm25_wand_chunked(idx, queries, 3)
    assert seen["n_buckets"] == idx.prebucket_n
