"""Object-store-safe index backend: an ordered transaction log over
immutable data directories (r03 verdict item 3).

The default backend (sources/io.py + streaming/append.py) commits by
ATOMIC RENAME — correct on local POSIX filesystems, nonexistent on
S3/GCS where rename is copy+delete. This module provides the same
index lifecycle (save / load / append / compact / search parity) on a
layout whose ONLY required storage primitive is **atomic
create-if-absent** — which object stores provide natively (S3
``If-None-Match: *`` conditional PUT, GCS ``ifGenerationMatch=0``) and
which this local implementation emulates with ``os.link`` (hard-link
publish: fails if the target exists, and the published file appears
fully written or not at all). This is the same commit model as
Delta Lake's ``_delta_log`` / Iceberg's optimistic snapshot commit;
swapping the real table formats in means replacing ~100 lines of this
module with ``writeTo(...).using("iceberg")`` calls — the table
shapes, job structure, and semantics carry over unchanged.

Layout under ``<index>/``::

    meta.json                     — TextConfig, folded constants, N, avgdl
    vocab/ qgrams/                — immutable, written once at save
    _txnlog/00000000000001.json   — ordered commit entries
    data/<table>/<unique-dir>/    — immutable parquet data directories

A commit entry records, per table, data dirs ADDED and REMOVED, plus
metadata (``last_doc``, block-row counts) so high-water-mark and
fragmentation questions fold over the log — never a table scan::

    {"op": "init|append|compact", "batch_id": ...,
     "add": {"postings": ["data/postings/append-0-..."], ...},
     "remove": {"blocks": [...]},
     "metrics": {"last_doc": 9, "n_block_rows": 7, ...}}

Correctness properties (all tested in tests/test_txnlog_backend.py):

- **Readers are snapshot-isolated and lock-free**: a reader folds the
  log entries present at read time; data dirs are immutable and
  removals only ever hide dirs from NEWER snapshots, so a query
  planned against snapshot N is unaffected by concurrent appends or
  compactions. (The rename backend needs a maintenance lock to keep
  readers away from a mid-swap state; here there is no swap.)
- **Any crash point is invisible**: data dirs staged under ``data/``
  without a committed log entry are unreachable garbage, reclaimed by
  ``vacuum`` once older than its retention window (the window is what
  keeps vacuum from eating a LIVE writer's not-yet-committed staging);
  the log entry itself appears atomically.
- **Writers serialize optimistically through the log**: the next
  sequence number is claimed by create-if-absent; a loser re-reads the
  log and RE-VALIDATES its preconditions before retrying the publish —
  appends dedupe on ``batch_id`` (a replayed streaming epoch commits
  exactly once) and raise :class:`TxnConflict` if a different batch
  moved the high-water mark their doc ids were assigned against;
  compactions raise if another compaction already removed a dir they
  merged; concurrent append+compact commute and both commit.
- **Compaction is a pure log transaction**: the merged blocks dir is
  added and the fragmented block dirs are removed in ONE entry —
  postings/doclens dirs are untouched (no file moves at all; the
  rename backend had to physically relocate append part-files).
  Superseded dirs stay on disk for older readers until ``vacuum``.
- **The log itself is checkpointable** (``checkpoint_txn``): one entry
  folds the complete state (live dirs, counters, append batch-id
  histories), after which reads fold O(entries since the checkpoint)
  and ``vacuum_log_txn`` prunes the superseded prefix — the log never
  becomes the metadata bottleneck at 10^6+ appends (Delta
  ``_last_checkpoint`` / Iceberg snapshot-manifest role).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import BM25Params, FoldedBM25, TextConfig
from ..plans.build import BM25Index, block_span
from .io import parquet_rows

LOG_DIR = "_txnlog"
DATA_DIR = "data"
META = "meta.json"
_TABLES = ("postings", "doclens", "blocks")


class TxnConflict(RuntimeError):
    """A concurrent writer committed a conflicting change between this
    operation's snapshot read and its commit attempt (e.g. another
    append moved the high-water mark our doc ids were assigned against,
    or another compaction already removed the block dirs we merged).
    The failed operation left only unreachable data dirs (vacuum
    reclaims them); the caller should retry the WHOLE operation against
    a fresh snapshot — same contract as an Iceberg/Delta commit
    conflict."""


# --------------------------------------------------------------- log I/O

def _log_path(index_dir: str, seq: int) -> str:
    return os.path.join(index_dir, LOG_DIR, f"{seq:020d}.json")


# Per-process monotone floor: the highest checkpoint seq this process
# has EVER observed per index. A vacuum with min_age_sec=0 can race a
# writer whose listing predates the checkpoint — the writer would then
# see a coherent-but-stale prefix {1..k} and re-claim the just-pruned
# seq k+1 via create-if-absent, producing a permanently gapped log.
# _commit refuses to claim any seq at or below this floor, turning that
# corruption into a retry against a fresh listing. (Cross-PROCESS, the
# 24 h default retention window remains the guard: a fresh process that
# never observed the checkpoint has no floor — documented limitation of
# delete-based pruning; tombstones would close it at the cost of the
# LIST-size win vacuuming exists for.)
#
# Keyed by (abspath, log-dir inode): deleting and recreating an index
# at the same path is a NEW log instance whose seqs legitimately
# restart at 1 — a path-keyed floor would block every commit to the
# fresh index forever ("pathological writer contention" after 64
# stale-listing retries). A recreate USUALLY changes the inode, but
# filesystems reuse freed inode numbers, so the key is only the fast
# path — the ground truth is _any_entry_at_or_above: a same-instance
# log always retains at least one entry file at or above any floor
# this process observed (the checkpoint that set the floor is only
# ever deleted by the vacuum of a LATER checkpoint, which itself
# survives that vacuum), so an empty probe proves the directory was
# recreated and _commit drops the stale floor instead of spinning.
_CP_FLOOR: dict[tuple, int] = {}


def _floor_key(index_dir: str) -> tuple:
    try:
        ino = os.stat(os.path.join(index_dir, LOG_DIR)).st_ino
    except OSError:
        ino = None
    return (os.path.abspath(index_dir), ino)


def _any_entry_at_or_above(index_dir: str, seq: int) -> bool:
    """Direct (listing-free-of-cache) probe: does ANY committed entry
    file exist at or above ``seq``? See the _CP_FLOOR note — False for
    a floor this process observed proves the log directory was deleted
    and recreated since (same-instance logs always retain their latest
    checkpoint's entry), while a mere vacuum race keeps this True."""
    import glob

    for p in glob.glob(os.path.join(index_dir, LOG_DIR, "*.json")):
        try:
            if int(os.path.basename(p).split(".")[0]) >= seq:
                return True
        except ValueError:
            continue
    return False


def _observe_checkpoint_floor(index_dir: str, log: list[dict]) -> None:
    cps = [e["seq"] for e in log if e.get("op") == "checkpoint"]
    if cps:
        key = _floor_key(index_dir)
        _CP_FLOOR[key] = max(_CP_FLOOR.get(key, 0), max(cps))


def _publish(path: str, doc: dict) -> bool:
    """Atomically publish ``doc`` at ``path`` iff nothing is there —
    the create-if-absent commit primitive. Local emulation: write a
    private temp file, then ``os.link`` it into place (link fails with
    EEXIST if another writer won; the linked file is complete by
    construction). On an object store this maps to one conditional PUT
    of the JSON body."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _log_is_coherent(entries: list[dict]) -> bool:
    """A readable log is a DENSE run of sequence numbers whose first
    entry is either seq 1 (never vacuumed) or a checkpoint (a vacuumed
    prefix is only valid if what remains is rooted at the checkpoint
    that superseded it). Anything else is a torn read — e.g. a listing
    taken just before a checkpoint committed, opened while the vacuum
    deleted the prefix: folding the surviving baseless suffix would
    silently produce a wrong snapshot."""
    if not entries:
        return True
    seqs = [e["seq"] for e in entries]
    if seqs != list(range(seqs[0], seqs[0] + len(seqs))):
        return False
    return seqs[0] == 1 or entries[0].get("op") == "checkpoint"


def _checkpoint_rooted_suffix(entries: list[dict]) -> Optional[list[dict]]:
    """If the listing contains a checkpoint whose suffix {cp..top} is
    dense, that suffix alone is a complete, valid fold base — the
    checkpoint summarizes every earlier entry, so whatever the vacuum
    did to the prefix is irrelevant. This is exactly the shape a
    mid-vacuum listing has (survivors {1..k} ∪ {cp..top}), so readers
    racing a perfectly legal vacuum recover immediately instead of
    retrying against a moving target."""
    cps = [i for i, e in enumerate(entries) if e.get("op") == "checkpoint"]
    if not cps:
        return None
    cp_seq = entries[cps[-1]]["seq"]
    suffix = [e for e in entries if e["seq"] >= cp_seq]
    seqs = [e["seq"] for e in suffix]
    if seqs == list(range(cp_seq, cp_seq + len(seqs))):
        return suffix
    return None


def read_log(index_dir: str) -> list[dict]:
    """Committed entries in sequence order. The sequence may have a
    truncated PREFIX (``vacuum_log_txn`` deletes entries superseded by
    a checkpoint) but never holes — seq N+1 is only ever claimed after
    N exists. Entries deleted between listing and open (a concurrent
    log vacuum) are tolerated two ways, never by silently folding a
    baseless suffix: (a) if the surviving set contains a checkpoint
    whose suffix {cp..top} is dense, that suffix is returned directly
    (it is a complete fold base — the exact mid-vacuum shape); (b)
    otherwise RE-LIST, with a retry budget proportional to observed
    progress: attempts only count against the budget while the
    surviving seq set is UNCHANGED between listings — a vacuum that is
    still deleting (set shrinking) resets it, so a slow vacuum over a
    10^6-entry prefix can't exhaust a fixed sleep budget and fail a
    legal concurrent reader. Backfills ``seq`` from the filename so
    ordering never depends on the entry body."""
    import glob

    prev_seqs: Optional[tuple] = None
    stalled = 0
    # hard cap on TOTAL attempts: progress-proportional retries exist
    # for a legal concurrent vacuum, whose deletions terminate. A
    # genuinely torn log (mid-log file deleted outside vacuum_log_txn)
    # with active appenders changes the seq set every listing, so the
    # stall counter alone would never fire and the reader would spin
    # forever — 200 listings is far beyond any real vacuum and cheap
    # to exhaust when the log truly is corrupt.
    for _ in range(200):
        out = []
        for p in sorted(glob.glob(os.path.join(index_dir, LOG_DIR, "*.json"))):
            try:
                with open(p) as f:
                    e = json.load(f)
            except FileNotFoundError:
                continue  # pruned by a concurrent vacuum_log_txn
            e.setdefault("seq", int(os.path.basename(p).split(".")[0]))
            out.append(e)
        if _log_is_coherent(out):
            _observe_checkpoint_floor(index_dir, out)
            return out
        suffix = _checkpoint_rooted_suffix(out)
        if suffix is not None:
            _observe_checkpoint_floor(index_dir, suffix)
            return suffix
        seqs = tuple(e["seq"] for e in out)
        stalled = stalled + 1 if seqs == prev_seqs else 0
        prev_seqs = seqs
        if stalled >= 5:
            raise RuntimeError(
                f"torn transaction log at {index_dir}/{LOG_DIR}: entries "
                f"{[e['seq'] for e in out]} are not a dense run rooted at "
                "seq 1 or a checkpoint, contain no checkpoint-rooted dense "
                "suffix, and stopped changing across retries — mid-log "
                "files were deleted outside vacuum_log_txn")
        time.sleep(0.05 * (stalled + 1))
    raise RuntimeError(
        f"torn transaction log at {index_dir}/{LOG_DIR}: no coherent "
        "listing in 200 attempts while the entry set kept changing — "
        "mid-log files are being deleted outside vacuum_log_txn while "
        "writers keep appending")


def _commit(index_dir: str, doc: dict, *, validate=None,
            max_retries: int = 64) -> dict:
    """Append ``doc`` as the next log entry (optimistic): claim
    len(log)+1; on collision re-read and retry. Every retry re-runs
    ``validate(log)`` against the FRESH log — losing the sequence race
    means another writer committed something, and "retry the publish"
    is only sound if that something doesn't conflict with this entry.
    ``validate`` may raise :class:`TxnConflict` (caller must redo the
    whole operation) or return a previously committed entry to
    short-circuit (idempotent replay — the append batch_id dedupe).
    Returns the committed (or deduped) entry."""
    os.makedirs(os.path.join(index_dir, LOG_DIR), exist_ok=True)
    for _ in range(max_retries):
        log = read_log(index_dir)
        if validate is not None:
            prior = validate(log)
            if prior is not None:
                return prior
        # max seq + 1, NOT len(log) + 1: the prefix may be truncated by
        # a log vacuum, and lengths would then re-claim taken numbers
        doc["seq"] = (log[-1]["seq"] + 1) if log else 1
        # never claim at or below a checkpoint this process has
        # observed: a zero-retention vacuum racing our listing can make
        # the log LOOK shorter than a checkpoint we already saw —
        # claiming there would re-create a pruned seq and gap the log
        floor = _CP_FLOOR.get(_floor_key(index_dir), 0)
        if doc["seq"] <= floor:
            if not _any_entry_at_or_above(index_dir, floor):
                # no surviving entry at/above the floor: this is a NEW
                # log instance at a recycled (path, inode) key — the
                # floor describes a deleted directory, drop it
                _CP_FLOOR.pop(_floor_key(index_dir), None)
                continue
            time.sleep(0.05)
            continue  # stale listing — re-read against the fresh log
        doc["committed_at"] = time.time()
        if _publish(_log_path(index_dir, doc["seq"]), doc):
            return doc
    raise RuntimeError(
        f"could not commit to {index_dir}/{LOG_DIR} after {max_retries} "
        "attempts — pathological writer contention"
    )


def snapshot(index_dir: str, log: Optional[list] = None) -> dict[str, list[str]]:
    """Fold the log: {table: [live data dirs, in add order]}. A
    ``checkpoint`` entry REPLACES the folded state with its stored
    snapshot (it summarizes every earlier entry), so the fold is
    O(entries since the last checkpoint) once one exists."""
    live: dict[str, list[str]] = {t: [] for t in _TABLES}
    for e in log if log is not None else read_log(index_dir):
        if e.get("op") == "checkpoint":
            live = {t: list(dirs) for t, dirs in e["snapshot"].items()}
            for t in _TABLES:
                live.setdefault(t, [])
            continue
        for t, dirs in e.get("add", {}).items():
            live.setdefault(t, []).extend(dirs)
        for t, dirs in e.get("remove", {}).items():
            live[t] = [d for d in live.get(t, []) if d not in set(dirs)]
    return live


def _new_data_dir(index_dir: str, table: str, tag: str) -> tuple[str, str]:
    """(relative, absolute) path of a fresh immutable data dir."""
    rel = os.path.join(DATA_DIR, table, f"{tag}-{uuid.uuid4().hex[:12]}")
    return rel, os.path.join(index_dir, rel)


# ------------------------------------------------------------ save / load

def save_index_txn(index: BM25Index, path: str, *,
                   postings_partitions: Optional[int] = None,
                   with_qgrams: bool = True) -> None:
    """Persist a BM25Index in the transaction-log layout. meta.json /
    vocab / qgrams are written once and never mutated; the three
    lifecycle tables land under ``data/`` and entry 1 publishes them."""
    assert index.blocks is not None, "txnlog backend expects a block index"
    os.makedirs(path, exist_ok=True)
    q = None
    if with_qgrams:
        from ..operators.approxvoc import build_qgram_index

        q = index.qgrams if index.qgrams is not None else build_qgram_index(index.vocab)
        q = q.repartition("gram").sortWithinPartitions("gram", "vtoken")
    p = index.postings
    if postings_partitions:
        p = p.repartition(postings_partitions, "token").sortWithinPartitions("token", "doc_id")
    blocks = index.blocks.repartition("token").sortWithinPartitions("token", "block_id")
    tables = {"vocab": index.vocab, "qgrams": q, "postings": p,
              "doclens": index.doclens, "blocks": blocks}
    meta = {
        "backend": "txnlog",
        "textconfig": json.loads(index.cfg.to_json()),
        "bm25": json.loads(index.bm25.to_json()),
        "params": {"k1": index.params.k1, "b": index.params.b,
                   "delta": index.params.delta},
        "n_docs": index.n_docs,
        "avgdl": index.avgdl,
        "span": block_span(index),  # loads then skip the span probe
        # loads then skip schema inference (and its jobs)
        "schemas": {t: _read_schema(df) for t, df in tables.items() if df is not None},
    }
    with open(os.path.join(path, META), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    index.vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))
    if q is not None:
        q.write.mode("overwrite").parquet(os.path.join(path, "qgrams"))

    add = {}
    for t in _TABLES:
        rel, absd = _new_data_dir(path, t, "init")
        tables[t].write.parquet(absd)
        add[t] = [rel]

    # build-time last_doc covers empty/all-OOV docs with no doclens
    # row; the doclens max is only a legacy-handle fallback (an
    # understated high-water mark would let auto-id appends reuse ids)
    if index.last_doc is not None:
        last_doc_val = int(index.last_doc)
    else:
        row = index.doclens.agg(F.max("doc_id")).collect()[0]
        last_doc_val = int(row[0] or 0)
    n_rows = parquet_rows(os.path.join(path, add["blocks"][0]))
    brow = index.blocks.agg(
        F.count_distinct("token", "block_id").alias("groups")).collect()[0]
    def _must_be_first(log):
        if log:
            raise TxnConflict(f"{path} already has a committed log")

    _commit(path, {
        "op": "init", "add": add,
        "metrics": {"last_doc": last_doc_val,
                    "n_block_rows": int(n_rows),
                    "n_block_groups": int(brow.groups)},
    }, validate=_must_be_first)


def log_history_txn(index_dir: str) -> list[dict]:
    """The index's committed snapshot history, oldest first — one row
    per log entry: ``{seq, op, committed_at, batch_id?, last_doc?}``.
    Every listed ``seq`` is a valid ``load_index_txn(at_seq=...)``
    target while (a) the log prefix reaching it survives
    ``vacuum_log_txn`` and (b) its data dirs survive ``vacuum_txn`` —
    the same snapshot-expiry contract as Iceberg's expire_snapshots."""
    out = []
    for e in read_log(index_dir):
        row = {"seq": e["seq"], "op": e.get("op"),
               "committed_at": e.get("committed_at")}
        if e.get("batch_id") is not None:
            row["batch_id"] = e["batch_id"]
        if "last_doc" in e.get("metrics", {}):
            row["last_doc"] = int(e["metrics"]["last_doc"])
        out.append(row)
    return out


def load_index_txn(spark: SparkSession, path: str,
                   log: Optional[list] = None,
                   at_seq: Optional[int] = None) -> BM25Index:
    """Snapshot-isolated load: folds the log once; the returned frames
    read only the dirs live at THIS snapshot, so concurrent appends,
    compactions, or vacuums of newer garbage never change its results.
    No lock, no recovery step — there is nothing to roll forward.

    ``at_seq`` time-travels: fold only log entries with seq <= at_seq,
    reproducing the index exactly as it stood after that commit
    (``log_history_txn`` lists the targets). Data dirs are immutable
    and removals are logical (a compact entry's ``remove`` list), so an
    old snapshot stays byte-reproducible until ``vacuum_txn`` deletes
    its unreferenced dirs / ``vacuum_log_txn`` prunes its log prefix —
    past that the load raises a snapshot-expired error instead of
    silently serving a newer state (Iceberg expire_snapshots
    semantics)."""
    with open(os.path.join(path, META)) as f:
        meta = json.load(f)
    if at_seq is not None:
        full = log if log is not None else read_log(path)
        # the target must EXIST as a committed entry: a seq above the
        # TOP of the log (a typo'd --at-seq, a seq from a different
        # index) would otherwise keep the whole log and silently serve
        # the LATEST snapshot labeled as time travel — the exact
        # "silently serving a newer state" this contract forbids.
        # (A seq BELOW the surviving entries is different: it once
        # existed and was pruned — the expired branch below raises
        # with the vacuum_log_txn explanation.)
        # O(1)-sized messages: an append-heavy unvacuumed log holds
        # thousands of entries — print the surviving RANGE, not the list
        lo_hi = (f"{min(e['seq'] for e in full)}..{max(e['seq'] for e in full)}"
                 if full else "none")
        if not full or int(at_seq) > max(e["seq"] for e in full):
            raise ValueError(
                f"snapshot seq {at_seq} at {path} does not exist: "
                f"committed entries are {lo_hi} (see log_history_txn)")
        log = [e for e in full if e["seq"] <= int(at_seq)]
        if not log or not _log_is_coherent(log):
            raise ValueError(
                f"snapshot seq {at_seq} at {path} has expired: the log "
                f"prefix reaching it was pruned by vacuum_log_txn "
                f"(surviving entries: {lo_hi})")
    if log is None:
        log = read_log(path)
    snap = snapshot(path, log)
    schemas = meta.get("schemas", {})

    def read(dirs: list, name: str) -> DataFrame:
        for d in dirs:
            spark.catalog.refreshByPath(d)
        reader = spark.read
        if schemas.get(name) is not None:
            reader = reader.schema(StructType.fromJson(schemas[name]))
        return reader.parquet(*dirs)

    def table(name: str) -> DataFrame:
        dirs = [os.path.join(path, d) for d in snap[name]]
        if at_seq is not None:
            gone = [d for d in dirs if not os.path.isdir(d)]
            if gone:
                raise ValueError(
                    f"snapshot seq {at_seq} at {path} has expired: "
                    f"vacuum_txn deleted its data dirs {gone}")
        return read(dirs, name)

    blocks = table("blocks")
    from ..operators.postings import validate_blocks_schema

    validate_blocks_schema(blocks, where=f"txnlog blocks at {path}")
    qgrams_p = os.path.join(path, "qgrams")
    qgrams = read([qgrams_p], "qgrams") if os.path.isdir(qgrams_p) else None
    return BM25Index(
        cfg=TextConfig.from_json(json.dumps(meta["textconfig"])),
        params=BM25Params(**meta["params"]),
        bm25=FoldedBM25.from_json(json.dumps(meta["bm25"])),
        vocab=read([os.path.join(path, "vocab")], "vocab"),
        postings=table("postings"),
        doclens=table("doclens"),
        n_docs=meta["n_docs"],
        avgdl=meta["avgdl"],
        blocks=blocks,
        span=meta.get("span"),
        qgrams=qgrams,
        last_doc=high_water_mark_txn(path, log),
    )


def _read_schema(df: DataFrame) -> dict:
    """``df``'s schema as a parquet read of its written files reports it
    (file sources read every field as nullable), in JSON form — what
    meta.json records per table."""
    def relax(t):
        if isinstance(t, dict):
            t = {k: relax(v) for k, v in t.items()}
            for flag in ("nullable", "containsNull", "valueContainsNull"):
                if flag in t:
                    t[flag] = True
        elif isinstance(t, list):
            t = [relax(v) for v in t]
        return t

    return relax(json.loads(df.schema.json()))


def _conform(df: DataFrame, like: DataFrame) -> DataFrame:
    """``df`` cast to the columns and types of the table ``like`` it is
    added to, so every dir of a table has the schema meta.json records."""
    if sorted(df.columns) != sorted(like.columns):
        raise ValueError(f"columns {df.columns} do not match the table's {like.columns}")
    return df.select(*[F.col(f.name).cast(f.dataType) for f in like.schema.fields])


# ----------------------------------------------------- metadata folds

def high_water_mark_txn(index_dir: str, log: Optional[list] = None) -> int:
    """Max last_doc over the log — no table scan, ever (the field is
    mandatory in this layout, unlike the rename backend's retrofit)."""
    return max(
        (int(e["metrics"]["last_doc"])
         for e in (log if log is not None else read_log(index_dir))
         if "last_doc" in e.get("metrics", {})),
        default=0,
    )


def fragmentation_estimate_txn(index_dir: str, log: Optional[list] = None) -> dict:
    """Same fold as plans.maintenance.fragmentation_estimate, from the
    log: init/compact entries reset the base block stats, append
    entries accumulate potential fragments."""
    base_rows = base_groups = append_rows = n_appends = 0
    for e in (log if log is not None else read_log(index_dir)):
        m = e.get("metrics", {})
        if e["op"] in ("init", "compact"):
            base_rows = int(m.get("n_block_rows", 0))
            base_groups = int(m.get("n_block_groups", base_rows))
            append_rows = n_appends = 0
        elif e["op"] == "append":
            append_rows += int(m.get("n_block_rows", 0))
            n_appends += 1
        elif e["op"] == "checkpoint":
            base_rows = int(m.get("n_block_rows", 0))
            base_groups = int(m.get("n_block_groups", base_rows))
            append_rows = int(m.get("append_block_rows", 0))
            n_appends = int(m.get("n_appends", 0))
    return {
        "n_appends": n_appends,
        "base_block_rows": base_rows,
        "base_block_groups": base_groups,
        "append_block_rows": append_rows,
        "fragment_extra_rows_max": base_rows - base_groups + append_rows,
    }


def _find_append(log: list, batch_id: str) -> Optional[dict]:
    """Committed metrics for ``batch_id``, or None. Checkpoint entries
    carry the append histories of the entries they summarize, so the
    dedupe guarantee survives log vacuuming."""
    found = None
    for e in log:
        if e["op"] == "append" and e.get("batch_id") == batch_id:
            found = e["metrics"]
        elif e["op"] == "checkpoint":
            m = e.get("append_metrics", {}).get(batch_id)
            if m is not None:
                found = m
    return found


# ------------------------------------------------------------- append

def append_batch_txn(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    doc_col: Optional[str] = None,
    text_col: str = "text",
    batch_id=None,
    auto_compact_after: Optional[int] = 8,
) -> dict:
    """One append batch as a log transaction: write fresh data dirs,
    publish ONE entry adding them. Identical frozen-vocab semantics to
    streaming/append.py (the shared streaming.stage.stage_batch). A
    replayed ``batch_id`` whose entry is already in the log returns its
    recorded metrics without re-appending (exactly-once for streaming
    retries); a crash before the commit leaves only unreachable data
    dirs for vacuum.

    Staging plan: a batch whose text and id columns are at most
    ``spark.sql.autoBroadcastJoinThreshold`` and at most
    ``streaming.stage.DRIVER_BATCH_BYTES`` (Catalyst's estimate before
    the collect, Arrow size after it) is staged on the driver — one
    Arrow collect, tokenize and block encode in numpy, Arrow-built
    relations written: 6 Spark jobs and no Python-worker stage (the
    load before it starts none on an index whose schemas are recorded).
    Larger batches, or every batch with the threshold at ``-1``, are
    staged by distributed Spark jobs; the stage module states the
    driver memory bound. Both plans write identical tables, cast to the
    schemas the loaded tables have, so loads keep reading every dir
    with the schemas meta.json records."""
    from ..streaming.stage import stage_batch

    if batch_id is None:
        batch_id = f"adhoc-{uuid.uuid4().hex[:12]}"
    batch_id = str(batch_id)
    log0 = read_log(index_dir)
    prior = _find_append(log0, batch_id)
    if prior is not None:
        return prior

    t0 = time.time()
    idx = load_index_txn(spark, index_dir, log0)
    span = block_span(idx)
    hwm = high_water_mark_txn(index_dir, log0)
    batch = stage_batch(spark, idx, new_docs, doc_col=doc_col, text_col=text_col, hwm=hwm)
    frames = {"blocks": _conform(batch.blocks, idx.blocks),
              "postings": _conform(batch.postings, idx.postings),
              "doclens": _conform(batch.doclens, idx.doclens)}
    add = {}
    for t, df in frames.items():
        rel, absd = _new_data_dir(index_dir, t, f"append-{batch_id}")
        df.write.parquet(absd)
        add[t] = [rel]
    batch.release()
    metrics = {
        "n_docs_appended": batch.n_new,
        "first_doc": batch.first_doc,
        "last_doc": batch.last_doc,
        "n_block_rows": batch.count_blocks(os.path.join(index_dir, add["blocks"][0])),
        "append_sec": round(time.time() - t0, 3),
        "span": span,
        "batch_id": batch_id,
    }
    def _dedupe_or_conflict(log):
        # losing the seq race means ANOTHER entry committed; publishing
        # again is only sound if it doesn't conflict with this batch
        m = _find_append(log, batch_id)
        if m is not None:
            return {"metrics": m}  # concurrent retry of the SAME epoch won
        if high_water_mark_txn(index_dir, log) != hwm:
            raise TxnConflict(
                f"concurrent append moved the high-water mark past {hwm} "
                f"while batch {batch_id!r} staged; its doc ids were "
                "assigned against the stale snapshot — retry the append "
                "(the staged dirs are unreachable; vacuum reclaims them)")
        return None  # only compactions interleaved: commute with appends

    entry = _commit(index_dir, {"op": "append", "batch_id": batch_id,
                                "add": add, "metrics": metrics},
                    validate=_dedupe_or_conflict)
    metrics = entry["metrics"]

    if auto_compact_after:
        if fragmentation_estimate_txn(index_dir)["n_appends"] >= auto_compact_after:
            metrics["compaction"] = compact_index_txn(spark, index_dir)
    return metrics


# ------------------------------------------------------------ compact

def compact_index_txn(spark: SparkSession, index_dir: str) -> dict:
    """Fold the appends' block fragments into one merged blocks dir and
    publish a single add+remove entry. Postings/doclens dirs are NOT
    touched — the log simply keeps owning them (the rename backend had
    to physically move their part-files). Old block dirs stay on disk
    for snapshot-isolated readers until ``vacuum``."""
    from ..operators.postings import BLOCKS_COLUMNS, compact_blocks

    est = fragmentation_estimate_txn(index_dir)
    if est["fragment_extra_rows_max"] == 0 and est["n_appends"] == 0:
        return {**est, "skipped": True}
    t0 = time.time()
    log = read_log(index_dir)
    snap = snapshot(index_dir, log)
    idx = load_index_txn(spark, index_dir)
    merged = _conform(compact_blocks(idx.blocks, idx.bm25).select(*BLOCKS_COLUMNS), idx.blocks)
    rel, absd = _new_data_dir(index_dir, "blocks", "compact")
    (merged.repartition("token").sortWithinPartitions("token", "block_id")
     .write.parquet(absd))
    n_rows = parquet_rows(absd)
    metrics = {
        "last_doc": high_water_mark_txn(index_dir),
        "n_block_rows": int(n_rows),
        "n_block_groups": int(n_rows),  # compact_blocks: one row per group
        "appends_folded": est["n_appends"],
        "compact_sec": round(time.time() - t0, 3),
    }
    def _removed_still_live(log):
        # Iceberg RewriteFiles-style validation: concurrent APPENDS
        # commute with this rewrite (their block dirs are not in our
        # remove list and stay live as fragments — the fragmentation
        # fold under-counts them until the next append, which is fine
        # for a trigger heuristic); a concurrent COMPACTION does not —
        # if any dir we merged was already removed, committing would
        # double-count every block row in a second merged dir.
        live_blocks = set(snapshot(index_dir, log).get("blocks", []))
        gone = [d for d in snap["blocks"] if d not in live_blocks]
        if gone:
            raise TxnConflict(
                f"concurrent compaction already removed {gone[:3]}... — "
                "this merge is stale; retry against a fresh snapshot "
                "(the staged merged dir is unreachable; vacuum reclaims it)")
        return None

    _commit(index_dir, {"op": "compact", "add": {"blocks": [rel]},
                        "remove": {"blocks": snap["blocks"]},
                        "metrics": metrics},
            validate=_removed_still_live)
    return metrics


# ---------------------------------------------------------- checkpoint

def checkpoint_txn(index_dir: str) -> dict:
    """Write a log CHECKPOINT: one entry holding the fully folded state
    (live data dirs per table, metadata counters, and the append
    batch-id histories) — the same role as Delta's ``_last_checkpoint``
    / an Iceberg snapshot manifest list. After it commits, every fold
    (snapshot / high-water mark / fragmentation / batch dedupe) is
    O(entries since this checkpoint), and the superseded prefix becomes
    prunable by :func:`vacuum_log_txn`. Without checkpoints the log —
    and with it every reader's fold and every commit's LIST — grows one
    JSON entry per append forever.

    Optimistic like every commit: if ANY entry lands between the fold
    and the publish, the stale summary is discarded and the fold
    re-runs against the fresh log (a checkpoint must summarize a log
    PREFIX exactly — committing a stale one would erase the interleaved
    entry's effect from every later fold). Returns the committed entry.

    ``append_metrics`` retention: the checkpoint carries every batch
    id it has ever seen (~200 B each), which keeps exactly-once replay
    airtight at any age; a production deployment with 10^7+ lifetime
    batches would age them out past the stream's replay horizon (the
    Delta ``setTransaction`` retention knob) — not needed at the scales
    demonstrated here."""
    for _ in range(64):
        log = read_log(index_dir)
        if not log:
            raise ValueError(f"{index_dir} has no committed log to checkpoint")
        if log[-1]["op"] == "checkpoint":
            # nothing committed since the last checkpoint: a new one
            # would be byte-identical and only churn the log (idle
            # maintenance crons must be true no-ops)
            return log[-1]
        top = log[-1]["seq"]
        est = fragmentation_estimate_txn(index_dir, log)
        am: dict = {}
        for e in log:
            if e["op"] == "append":
                am[e["batch_id"]] = e["metrics"]
            elif e["op"] == "checkpoint":
                am.update(e.get("append_metrics", {}))
        doc = {
            "op": "checkpoint",
            "snapshot": snapshot(index_dir, log),
            "append_metrics": am,
            "metrics": {
                "last_doc": high_water_mark_txn(index_dir, log),
                "n_block_rows": est["base_block_rows"],
                "n_block_groups": est["base_block_groups"],
                "append_block_rows": est["append_block_rows"],
                "n_appends": est["n_appends"],
            },
        }

        def _log_unchanged(fresh, _top=top):
            # an empty fresh log is NOT "unchanged": the non-empty log
            # we folded cannot legitimately vanish, and committing here
            # would re-claim seq 1 with a summary of state through _top
            # — an out-of-order entry that breaks the fold invariant
            if not fresh or fresh[-1]["seq"] != _top:
                raise TxnConflict("log advanced during checkpoint fold")
            return None

        try:
            return _commit(index_dir, doc, validate=_log_unchanged)
        except TxnConflict:
            continue  # refold against the fresh log and try again
    raise RuntimeError(
        f"checkpoint of {index_dir} lost the commit race 64 times — "
        "pathological writer contention")


def vacuum_log_txn(index_dir: str, *, min_age_sec: float = 86400.0) -> list[str]:
    """Delete log entries strictly OLDER than the last checkpoint (it
    summarizes them all).

    The retention window gates on the AGE OF THE CHECKPOINT, not of the
    pruned entries: the prefix became superseded the moment the
    checkpoint committed, so what protects a concurrent reader is that
    every log listing taken in the last ``min_age_sec`` already
    contains the checkpoint — an entry's own mtime says nothing (an
    idle log's entries are all old the instant a fresh checkpoint
    lands). Deletion runs in DESCENDING sequence order as a second
    defense: a reader holding a pre-checkpoint listing then sees a
    consistent historical prefix shrink from the top, never a baseless
    suffix, and ``read_log``'s coherence check re-lists on any torn
    read. Pass ``min_age_sec=0`` only when externally certain no reader
    holds a pre-checkpoint listing. Returns the deleted filenames."""
    log = read_log(index_dir)
    cps = [e for e in log if e["op"] == "checkpoint"]
    if not cps:
        return []
    last_cp = cps[-1]["seq"]
    try:
        cp_age = time.time() - os.path.getmtime(_log_path(index_dir, last_cp))
    except OSError:
        return []  # checkpoint entry raced away — nothing safe to do
    if cp_age < min_age_sec:
        return []  # readers may still hold pre-checkpoint listings
    deleted = []
    for e in sorted(log, key=lambda e: -e["seq"]):
        if e["seq"] >= last_cp:
            continue
        p = _log_path(index_dir, e["seq"])
        try:
            os.remove(p)
            deleted.append(os.path.basename(p))
        except OSError:
            continue  # already pruned by a concurrent vacuum
    return deleted


# -------------------------------------------------------------- vacuum

def vacuum_txn(index_dir: str, *, min_age_sec: float = 86400.0) -> list[str]:
    """Delete data dirs no longer referenced by the CURRENT snapshot:
    compaction leftovers and crashed writers' never-committed staging.

    An unreferenced dir is NOT necessarily garbage — a live writer's
    staged-but-not-yet-committed batch looks identical until its log
    entry publishes. ``min_age_sec`` (default 24 h, the Delta/Iceberg
    retention-window contract) is what distinguishes them: only dirs
    untouched for that long are reclaimed, so any writer that stages
    and commits within the window is safe, as is any reader holding a
    snapshot younger than the window. Pass ``min_age_sec=0`` only when
    externally certain no writer is in flight and no reader holds an
    old snapshot (tests, single-process maintenance). Returns the
    deleted dirs."""
    import shutil

    live = {d for dirs in snapshot(index_dir).values() for d in dirs}
    cutoff = time.time() - min_age_sec
    deleted = []
    for t in _TABLES:
        tdir = os.path.join(index_dir, DATA_DIR, t)
        if not os.path.isdir(tdir):
            continue
        for name in sorted(os.listdir(tdir)):
            rel = os.path.join(DATA_DIR, t, name)
            full = os.path.join(tdir, name)
            try:
                young = os.path.getmtime(full) > cutoff
            except OSError:
                continue  # concurrently deleted
            if rel not in live and not young:
                shutil.rmtree(full)
                deleted.append(rel)
    return deleted
