"""Index persistence: the index *is* a family of parquet tables.

The reference serializes to JLD2 with a static-adjacency freeze
(src/io.jl:6-35); immutable columnar tables make that conversion a
no-op here. Layout under ``<path>/``:

    meta.json          — TextConfig, folded BM25 constants, N, avgdl
    vocab/             — (token, occs, ndocs)
    postings/          — (token, doc_id, tf, doclen, ndocs, impact),
                         repartitioned + sorted by token so a query's
                         terms prune to few files (min/max parquet
                         stats play the posting-fetch role of
                         select_posting_lists)
    doclens/           — (doc_id, doclen)
    blocks/            — compressed block-max postings (optional)

Swap ``.parquet(...)`` for ``writeTo(...).using("iceberg")`` on a
cluster with an Iceberg catalog — the layout and sort orders carry over
unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25Params, FoldedBM25, TextConfig
from ..plans.build import BM25Index

META = "meta.json"
APPENDS_DIR = "appends"
COMPACT_TMP = "_compact_tmp"
MAINT_LOCK = "_maintenance.lock"
SWAP_LOCK = "_swap.lock"
_TABLES = ("blocks", "postings", "doclens")

# locks THIS THREAD already holds, keyed (index realpath, lock file) ->
# exclusive?. Thread-local on purpose: reentrancy must be per-thread —
# a process-global registry would let a second driver thread "reenter"
# a lock the first thread holds and run a concurrent mutation under it.
# A second thread instead opens its own fd and blocks in flock (flock
# treats separately-opened descriptors as independent holders, even in
# one process).
import threading as _threading

_LOCAL = _threading.local()


def _held() -> dict:
    if not hasattr(_LOCAL, "locks"):
        _LOCAL.locks = {}
    return _LOCAL.locks


def _index_lock(index_dir: str, lockname: str, *, exclusive: bool,
                timeout: float, what: str):
    """flock-based per-index lock, reentrant within one THREAD (an
    exclusive hold satisfies a nested shared request; shared->exclusive
    upgrades are refused — that ordering would deadlock two upgraders).
    flock is released by the kernel when the holder dies, so a SIGKILLed
    job never leaves a stale lock. Scope: one host / a POSIX-shared
    mount with working flock; multi-host object-store deployments
    should use the transaction-log backend (sources/txnlog.py), which
    needs no lock at all for readers."""
    import contextlib
    import fcntl
    import time as _time

    @contextlib.contextmanager
    def _lock():
        key = (os.path.realpath(index_dir), lockname)
        held = _held()
        if key in held:
            if exclusive and not held[key]:
                raise RuntimeError(
                    f"lock upgrade (shared->exclusive) on {key} is not "
                    "supported — restructure the caller to take the "
                    "exclusive lock first")
            yield
            return
        path = os.path.join(index_dir, lockname)
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            mode = fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH
            deadline = _time.monotonic() + timeout
            while True:
                try:
                    fcntl.flock(fd, mode | fcntl.LOCK_NB)
                    break
                except (BlockingIOError, InterruptedError):
                    if _time.monotonic() >= deadline:
                        raise TimeoutError(
                            f"{what} busy for {timeout}s: {path}")
                    _time.sleep(0.05)
            if exclusive:
                os.ftruncate(fd, 0)
                os.write(fd, json.dumps({"pid": os.getpid()}).encode())
            held[key] = exclusive
            try:
                yield
            finally:
                del held[key]
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    return _lock()


def maintenance_lock(index_dir: str, *, timeout: float = 120.0):
    """Exclusive per-index maintenance lock (flock on
    ``<index>/_maintenance.lock``): writer-vs-writer exclusion, held by
    every mutating entry point (append_batch_to_index, compact_index)
    for the WHOLE operation. Readers never take it — they take the
    short-lived :func:`swap_guard` instead (see finish_compaction)."""
    return _index_lock(index_dir, MAINT_LOCK, exclusive=True,
                       timeout=timeout, what="maintenance lock")


def swap_guard(index_dir: str, *, shared: bool, timeout: float = 120.0):
    """Second, short-lived lock protecting ONLY the compaction swap's
    rename window (r03 ADVICE item 1, without making readers wait out
    whole appends): ``finish_compaction`` holds it EXCLUSIVELY for the
    few milliseconds of directory renames; ``load_index`` holds it
    SHARED while resolving table paths, so a load sees the table dirs
    either fully pre- or fully post-swap, never mid-rename. Readers
    don't block each other, and never block on the long maintenance
    lock (staging appends/compactions are invisible to them anyway).

    What this cannot give: isolation for a query EXECUTING after
    load_index returned — Spark lists parquet files lazily at job time,
    and a swap between load and execution can still move them. That is
    inherent to a rename-based layout; deployments with concurrent
    queries and compactions belong on the transaction-log backend
    (sources/txnlog.py), whose readers are snapshot-isolated."""
    return _index_lock(index_dir, SWAP_LOCK, exclusive=not shared,
                       timeout=timeout,
                       what="compaction swap guard")


def append_manifest_path(index_dir: str, batch_id) -> str:
    return os.path.join(index_dir, "_manifests", f"append_{batch_id}.json")


def committed_append_manifests(index_dir: str) -> list[tuple[str, dict]]:
    """(batch_id, manifest) of fully-committed appends, in name order.
    An append is committed iff its manifest exists (the manifest rename
    is the atomic commit point — staged table dirs without one are
    crashed attempts and are ignored by every reader). The manifests
    double as the index's METADATA LOG: they carry ``last_doc`` and
    ``n_block_rows``, so high-water-mark and fragmentation questions
    fold over a handful of tiny JSON files instead of scanning
    10^12-row tables (r03 verdict item 5)."""
    import glob

    mdir = os.path.join(index_dir, "_manifests")
    out = []
    for p in sorted(glob.glob(os.path.join(mdir, "append_*.json"))):
        name = os.path.basename(p)[len("append_"):-len(".json")]
        with open(p) as f:
            doc = json.load(f)
        if doc.get("complete"):
            out.append((name, doc))
    return out


def committed_append_ids(index_dir: str) -> list[str]:
    """Batch ids of fully-committed appends, in name order."""
    return [bid for bid, _ in committed_append_manifests(index_dir)]


def append_batch_dir(index_dir: str, batch_id) -> str:
    return os.path.join(index_dir, APPENDS_DIR, str(batch_id))


def table_paths(index_dir: str, table: str) -> list[str]:
    """Base table dir + every committed append's staged dir for it."""
    paths = [os.path.join(index_dir, table)]
    for bid in committed_append_ids(index_dir):
        p = os.path.join(append_batch_dir(index_dir, bid), table)
        if os.path.isdir(p):
            paths.append(p)
    return paths


def parquet_rows(path: str) -> int:
    """Row count of a written parquet directory, summed from its part
    files' footers: no Spark job and no data page read."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.read_metadata(os.path.join(root, f)).num_rows
    return total


def read_table(spark: SparkSession, index_dir: str, table: str) -> DataFrame:
    """The logical table = base parquet UNION committed appends. Readers
    never see a half-written append (its dirs are invisible until the
    manifest commit) and never see a half-swapped compaction
    (finish_compaction below runs before any read)."""
    paths = table_paths(index_dir, table)
    for p in paths:
        spark.catalog.refreshByPath(p)
    return spark.read.parquet(*paths)


def finish_compaction(index_dir: str, *, destructive: bool = False) -> None:
    """Recovery half of the compaction protocol (plans/maintenance.py).

    Compaction stages REWRITTEN tables under ``_compact_tmp/`` (only
    ``blocks`` needs rewriting — fragmented (token, block_id) groups
    are re-encoded) and commits by atomically renaming ``COMMIT.json``
    into it. This function performs the swap and is idempotent — a
    crash anywhere mid-way is finished by the next reader/writer:

    1. each table staged in the tmp dir replaces its base dir
       (old aside -> staged in -> old deleted);
    2. for every consumed append, tables NOT staged (postings,
       doclens) have their parquet part-files MOVED into the base dirs
       — a metadata rename, no rewrite: at 10^12 scale rewriting the
       whole postings table per compaction would be O(index) churn for
       nothing, since row-level parquet files never fragment the way
       block rows do (a dir union and a dir holding the same files are
       the same table);
    3. consumed append dirs + manifests are deleted, then the tmp dir.

    Filenames are prefixed with the batch id on move, so re-running
    after a mid-move crash moves only the files still in the append
    dir.

    A ``_compact_tmp`` WITHOUT a COMMIT.json is either an abandoned
    crashed attempt or a LIVE writer's in-progress staging — the two
    are indistinguishable to a reader, so only maintenance entry
    points (which hold the maintenance lock and thus know no other
    writer is live) may delete it: ``destructive=True``. Readers
    (load_index) call with the default ``destructive=False`` and only
    roll FORWARD a committed swap, never delete an uncommitted tmp
    (r03 ADVICE item 1).

    The rename window runs under the EXCLUSIVE :func:`swap_guard`:
    concurrent roll-forwards (two readers racing a crashed writer's
    committed swap, or a reader racing the live writer's own finish)
    serialize on it, and loads holding the SHARED guard never observe a
    mid-rename state."""
    import shutil

    tmp = os.path.join(index_dir, COMPACT_TMP)
    if not os.path.isdir(tmp):
        return
    with swap_guard(index_dir, shared=False):
        _finish_compaction_under_guard(index_dir, destructive=destructive)


def _finish_compaction_under_guard(index_dir: str, *, destructive: bool) -> None:
    import shutil

    tmp = os.path.join(index_dir, COMPACT_TMP)
    if not os.path.isdir(tmp):
        return  # another roll-forward won while we waited for the guard
    commit_p = os.path.join(tmp, "COMMIT.json")
    if not os.path.exists(commit_p):
        if destructive:
            shutil.rmtree(tmp)
        return
    with open(commit_p) as f:
        commit = json.load(f)
    # default matches the protocol (blocks is always the staged table).
    # Deriving the set from the tmp dirs instead would be wrong on
    # RE-ENTRY: after the blocks swap, tmp/blocks is gone, and treating
    # blocks as unstaged would move the appends' block files into the
    # already-rewritten base — double-counting every appended posting.
    staged_tables = set(commit.get("staged", ["blocks"]))
    for t in _TABLES:
        staged = os.path.join(tmp, t)
        base = os.path.join(index_dir, t)
        old = base + "__old"
        if os.path.isdir(staged):
            if os.path.isdir(base):
                if os.path.isdir(old):
                    shutil.rmtree(old)
                os.rename(base, old)
            os.rename(staged, base)
        if os.path.isdir(old):
            shutil.rmtree(old)
    # fold the compaction's base-metadata update (new last_doc / block
    # counts) into meta.json BEFORE the append manifests are deleted:
    # the update already accounts for the consumed appends, so at any
    # crash point max(meta.last_doc, manifests' last_doc) stays correct
    mu = commit.get("meta_update")
    if mu:
        meta_p = os.path.join(index_dir, META)
        with open(meta_p) as f:
            meta = json.load(f)
        meta.update(mu)
        mtmp = meta_p + ".tmp"
        with open(mtmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(mtmp, meta_p)
    for bid in commit.get("appends", []):
        d = append_batch_dir(index_dir, bid)
        if os.path.isdir(d):
            for t in _TABLES:
                if t in staged_tables:
                    continue  # superseded by the staged rewrite
                src = os.path.join(d, t)
                if not os.path.isdir(src):
                    continue
                dst = os.path.join(index_dir, t)
                os.makedirs(dst, exist_ok=True)
                for fn in os.listdir(src):
                    if not fn.endswith(".parquet"):
                        continue  # skip _SUCCESS/.crc markers
                    os.replace(os.path.join(src, fn),
                               os.path.join(dst, f"append-{bid}-{fn}"))
            shutil.rmtree(d)
        m = append_manifest_path(index_dir, bid)
        if os.path.exists(m):
            os.remove(m)
    shutil.rmtree(tmp)


def save_index(index: BM25Index, path: str, *, postings_partitions: int | None = None,
               with_qgrams: bool = True) -> None:
    """``with_qgrams``: also materialize the typo-lookup q-gram
    inverted file (construct-once, like the reference's QgramsLookup at
    src/approxvoc.jl:25-44) under ``qgrams/`` so typo-tolerant query
    batches never re-derive it from the vocabulary."""
    os.makedirs(path, exist_ok=True)
    meta = {
        "textconfig": json.loads(index.cfg.to_json()),
        "bm25": json.loads(index.bm25.to_json()),
        "params": {"k1": index.params.k1, "b": index.params.b, "delta": index.params.delta},
        "n_docs": index.n_docs,
        "avgdl": index.avgdl,
    }
    # base-table metadata, folded with the append manifests at query
    # time so high_water_mark / fragmentation never scan the tables
    # (r03 verdict item 5): one agg each at save time, O(1) thereafter.
    # Prefer the build-time last_doc (max over the FULL corpus): the
    # doclens fallback understates it when the highest-id docs tokenize
    # empty or all-OOV (no doclens row), and an understated high-water
    # mark would let a later auto-id append REUSE a live doc id.
    if index.last_doc is not None:
        meta["last_doc"] = int(index.last_doc)
    else:
        row = index.doclens.agg(F.max("doc_id")).collect()[0]
        meta["last_doc"] = int(row[0] or 0)
    if index.blocks is not None:
        brow = index.blocks.agg(
            F.count("*").alias("rows"),
            F.count_distinct("token", "block_id").alias("groups"),
        ).collect()[0]
        meta["n_block_rows"] = int(brow.rows)
        meta["n_block_groups"] = int(brow.groups)
    with open(os.path.join(path, META), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)

    index.vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))
    if with_qgrams:
        from ..operators.approxvoc import build_qgram_index

        q = index.qgrams if index.qgrams is not None else build_qgram_index(index.vocab)
        # repartition+sort by gram: a typo batch's gram probes prune to
        # few files via parquet min-max stats, like postings by token
        (
            q.repartition("gram").sortWithinPartitions("gram", "vtoken")
            .write.mode("overwrite").parquet(os.path.join(path, "qgrams"))
        )
    p = index.postings
    if postings_partitions:
        p = p.repartition(postings_partitions, "token").sortWithinPartitions("token", "doc_id")
    index_dir = os.path.join(path, "postings")
    p.write.mode("overwrite").parquet(index_dir)
    index.doclens.write.mode("overwrite").parquet(os.path.join(path, "doclens"))
    if index.blocks is not None:
        (
            index.blocks.repartition("token")
            .sortWithinPartitions("token", "block_id")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "blocks"))
        )


def load_index(spark: SparkSession, path: str,
               prebucket: bool = False, replicas: int = 1) -> BM25Index:
    # prebucket=True: pin the loaded blocks partition-resident by WAND
    # bucket (operators.wand.prebucket_blocks) — the serving shape;
    # queries then score with no exchange. Leave False for few-bucket
    # deep-pruning corpora — or set replicas=G there to trade G× blocks
    # memory for process parallelism (see prebucket_blocks' docstring).
    # roll forward any committed-but-unswapped compaction before
    # reading, so a crash mid-swap is invisible to readers (the rename
    # window inside finish_compaction serializes on the exclusive swap
    # guard); an UNCOMMITTED tmp is left untouched — it may be a live
    # writer's staging (finish_compaction(destructive=False) skips it)
    if os.path.exists(os.path.join(path, COMPACT_TMP, "COMMIT.json")):
        finish_compaction(path)
    # resolve the table paths under the SHARED swap guard so this load
    # never observes a concurrent writer mid-rename — it sees the dirs
    # either fully pre- or fully post-swap. (Jobs executed later against
    # the returned frames re-list files lazily and are NOT covered;
    # concurrent query+compaction deployments belong on sources/txnlog.)
    with swap_guard(path, shared=True):
        # drop any stale cached file listings from a previous load of
        # the same path (tables may have been overwritten by a rebuild);
        # the logical postings/doclens/blocks tables are base UNION
        # committed appends (read_table)
        vocab_p = os.path.join(path, "vocab")
        if os.path.isdir(vocab_p):
            spark.catalog.refreshByPath(vocab_p)
        with open(os.path.join(path, META)) as f:
            meta = json.load(f)
        cfg = TextConfig.from_json(json.dumps(meta["textconfig"]))
        bm25 = FoldedBM25.from_json(json.dumps(meta["bm25"]))
        params = BM25Params(**meta["params"])
        blocks_path = os.path.join(path, "blocks")
        blocks = read_table(spark, path, "blocks") if os.path.isdir(blocks_path) else None
        if blocks is not None:
            from ..operators.postings import validate_blocks_schema

            validate_blocks_schema(blocks, where=f"blocks at {blocks_path}")
        qgrams_p = os.path.join(path, "qgrams")
        if os.path.isdir(qgrams_p):
            spark.catalog.refreshByPath(qgrams_p)
            qgrams = spark.read.parquet(qgrams_p)
        else:
            qgrams = None  # pre-r04 index: typo lookups rebuild inline
        idx = BM25Index(
            cfg=cfg,
            params=params,
            bm25=bm25,
            vocab=spark.read.parquet(vocab_p),
            postings=read_table(spark, path, "postings"),
            doclens=read_table(spark, path, "doclens"),
            n_docs=meta["n_docs"],
            avgdl=meta["avgdl"],
            blocks=blocks,
            qgrams=qgrams,
            last_doc=meta.get("last_doc"),
        )
        if prebucket and idx.blocks is not None:
            from ..operators.wand import prebucket_blocks

            prebucket_blocks(idx, replicas=replicas)
        return idx


def save_model(model, path: str) -> None:
    """Persist a VectorModel — the reference's ``savemodel``
    (src/io.jl:24-29) analogue. Layout: ``meta.json`` (TextConfig,
    weighting names, corpus stats) + ``vocab/`` parquet with the
    precomputed global weights."""
    os.makedirs(path, exist_ok=True)
    meta = {
        "kind": "VectorModel",
        "textconfig": json.loads(model.cfg.to_json()),
        "local_weighting": model.local_weighting,
        "global_weighting": model.global_weighting,
        "corpuslen": model.corpuslen,
        "maxoccs": model.maxoccs,
    }
    with open(os.path.join(path, META), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    model.vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))


def load_model(spark: SparkSession, path: str):
    """Load a persisted VectorModel — ``loadmodel`` (src/io.jl:31-35)."""
    from ..functions.weighting import VectorModel

    with open(os.path.join(path, META)) as f:
        meta = json.load(f)
    if meta.get("kind") != "VectorModel":
        raise ValueError(f"{path} holds {meta.get('kind', 'a BM25 index')}, not a VectorModel")
    vocab_path = os.path.join(path, "vocab")
    spark.catalog.refreshByPath(vocab_path)
    return VectorModel(
        cfg=TextConfig.from_json(json.dumps(meta["textconfig"])),
        local_weighting=meta["local_weighting"],
        global_weighting=meta["global_weighting"],
        vocab=spark.read.parquet(vocab_path),
        corpuslen=meta["corpuslen"],
        maxoccs=meta["maxoccs"],
    )


def content_sha_column(text_col: str = "text") -> F.Column:
    """Per-row sha256 of the document body — the input_hint invariant
    column, enforced against the source table by
    plans/checkpoint.verify_content_integrity."""
    return F.sha2(F.col(text_col), 256)
