"""Catalog-table index backend: the save / load / append / compact
lifecycle against tables resolved through ``spark.catalog`` (r04
verdict item 2; north rule: "over Iceberg tables"; reference lifecycle
src/io.jl:6-35).

The repo's other two backends commit through filesystem primitives
(rename manifests, ``sources/io.py``; an ordered create-if-absent
transaction log, ``sources/txnlog.py``). This one stores every index
table as a CATALOG TABLE, so the index is visible to every
catalog-aware engine (Spark SQL, Trino, Flink) by name, and on an ACID
table format the format's own snapshot machinery replaces the
hand-rolled commit protocols:

- **V2 path** (an Iceberg/Delta catalog configured via
  ``spark.sql.catalog.<name>`` — the production target): all writes go
  through the DataFrameWriterV2 — ``writeTo(t).create()`` at save,
  ``writeTo(t).append()`` per append batch (one atomic snapshot
  commit), ``writeTo(t).replace()`` for compaction (atomic
  REPLACE TABLE AS SELECT — Iceberg's RewriteFiles shape). Snapshot
  isolation, conflict detection, and time travel come from the format.
- **V1 path** (no such jar on the classpath — this container): the
  SAME lifecycle through the session catalog as managed parquet tables
  (``saveAsTable`` append / staged-swap overwrite). Functionally
  complete and conformance-tested, but NOT concurrency-safe: the
  session catalog gives no multi-writer atomicity (the compact swap is
  drop+rename). Single-writer / test use; concurrent production use
  belongs on the V2 path or the txnlog backend.

The two paths are picked per table identifier: a multipart name whose
first part matches a configured ``spark.sql.catalog.*`` entry uses V2.

Layout: one namespace prefix owns six tables —
``{p}_meta`` (single JSON row: TextConfig, folded BM25, N, avgdl),
``{p}_vocab``, ``{p}_qgrams``, ``{p}_postings``, ``{p}_doclens``,
``{p}_blocks``, plus ``{p}_log`` — an append-only commit-log table
(op, batch_id, commit_id, last_doc, n_block_rows, committed_at)
serving the high-water-mark fold and streaming batch dedupe exactly
like the txnlog's entries (metadata folds over the log, never a table
scan).

**Cross-table atomicity (write-audit-publish).** An append touches
three data tables; neither the session catalog nor Iceberg gives a
transaction spanning tables, so the multi-table commit point is the
LOG ROW: every data row carries a ``commit_id`` stamp, readers filter
each data table to commit_ids the log publishes (a broadcast
left-semi against the metadata-sized log), and an append writes data
first, log row last. A crash mid-append leaves orphan rows that no
reader ever sees; the retry re-writes under a FRESH commit_id and
publishes exactly once (the batch_id replay check). Because log
appends never conflict — not even on Iceberg — a slow original racing
its own retry can land TWO log rows for one batch; readers resolve
that deterministically by honoring only the earliest append log row
per batch_id (``_TableIO.published_ids``), demoting the loser to an
ordinary orphan. Compaction inverts the write order — log row first,
then the atomic blocks REPLACE — so its crash window shows readers
the old, still-published rows. ``vacuum_catalog`` rewrites
unpublished orphans out.
"""

from __future__ import annotations

import json
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import BM25Params, FoldedBM25, TextConfig
from ..plans.build import BM25Index, block_span

_LOG_SCHEMA = ("op string, batch_id string, commit_id string, "
               "last_doc long, n_block_rows long, committed_at double, "
               "metrics_json string")

# data tables whose rows carry the commit_id stamp (vocab/qgrams/meta
# are written once at save and never appended — no stamp needed)
_STAMPED = ("blocks", "postings", "doclens")


def _is_v2_identifier(spark: SparkSession, name: str) -> bool:
    """True when ``name``'s leading part names a configured V2 catalog
    (e.g. ``spark.sql.catalog.lake = ...iceberg.SparkCatalog``) — those
    tables take the DataFrameWriterV2 operations; session-catalog
    parquet tables are V1 and reject them (probed empirically)."""
    head = name.split(".", 1)[0]
    try:
        spark.conf.get(f"spark.sql.catalog.{head}")
        return True
    except Exception:
        return False


class _TableIO:
    """The V1/V2 seam: create / append / replace / read / drop on one
    catalog, chosen once per index prefix."""

    def __init__(self, spark: SparkSession, prefix: str, using: Optional[str] = None):
        self.spark = spark
        self.prefix = prefix
        self.v2 = _is_v2_identifier(spark, prefix)
        # V2 catalogs pick their own default format (an Iceberg catalog
        # creates iceberg tables with no USING clause; a JDBC catalog
        # has no notion of a provider at all), so ``using`` stays None
        # unless the caller names one; the V1 session catalog gets
        # parquet managed tables.
        self.using = using or (None if self.v2 else "parquet")

    def t(self, suffix: str) -> str:
        return f"{self.prefix}_{suffix}"

    def _staging(self) -> bool:
        """True when the V2 catalog implements StagingTableCatalog —
        its REPLACE TABLE AS SELECT is atomic and may read the table it
        replaces (Iceberg's RewriteFiles shape). Non-staging catalogs
        (e.g. Spark's built-in JDBC V2 catalog) fall back to
        drop-then-write, so the input plan must be pinned first."""
        head = self.prefix.split(".", 1)[0]
        try:
            jvm = self.spark._jvm
            jcat = (self.spark._jsparkSession.sessionState()
                    .catalogManager().catalog(head))
            klass = jvm.java.lang.Class.forName(
                "org.apache.spark.sql.connector.catalog.StagingTableCatalog")
            return bool(klass.isInstance(jcat))
        except Exception:
            return False

    def _writer(self, df: DataFrame, name: str):
        w = df.writeTo(name)
        return w.using(self.using) if self.using else w

    def create(self, df: DataFrame, suffix: str) -> None:
        name = self.t(suffix)
        if self.v2:
            self._writer(df, name).createOrReplace()
        else:
            df.write.format(self.using).mode("overwrite").saveAsTable(name)

    def append(self, df: DataFrame, suffix: str) -> None:
        name = self.t(suffix)
        if self.v2:
            df.writeTo(name).append()  # one atomic snapshot commit
        else:
            df.write.format(self.using).mode("append").saveAsTable(name)

    def replace(self, df: DataFrame, suffix: str) -> None:
        """Atomic on a staging V2 catalog (REPLACE TABLE AS SELECT —
        Iceberg commits the swap as one snapshot and the input may read
        the table being replaced); on a NON-staging V2 catalog Spark's
        fallback is drop-then-write, so the input is pinned
        (localCheckpoint) first or the post-drop scan of the replaced
        table would fail mid-write. Staged-swap on V1 — the input plan
        reads the table being replaced, so V1 must materialize into a
        staging table first (Spark refuses to overwrite a table into
        which the running query reads), then drop+rename. The V1 swap
        window is the documented single-writer limitation."""
        name = self.t(suffix)
        if self.v2:
            if not self._staging():
                df = df.localCheckpoint(eager=True)
            self._writer(df, name).replace()
            return
        staged = f"{name}__staged"
        self.spark.sql(f"DROP TABLE IF EXISTS {staged}")
        df.write.format(self.using).saveAsTable(staged)
        self.spark.sql(f"DROP TABLE {name}")
        self.spark.sql(f"ALTER TABLE {staged} RENAME TO {name}")

    def read(self, suffix: str) -> DataFrame:
        return self.spark.table(self.t(suffix))

    def published_ids(self, as_of: Optional[float] = None) -> DataFrame:
        """The set of commit_ids readers treat as published. ``as_of``
        restricts to log rows committed at or before that timestamp
        (time travel — see load_index_catalog).

        One batch_id admits ONE winner: the earliest (committed_at,
        commit_id) append log row per batch_id. Appends to the log
        table never conflict — not even on Iceberg — so two writers
        racing the same batch (a slow original vs its retry) can BOTH
        land data rows and log rows; without winner selection every
        document in that batch would double-count. Picking the winner
        at read time is deterministic for every reader, and the loser's
        rows become ordinary unpublished orphans for vacuum_catalog.
        (Racing DISTINCT batches remain the caller's coordination
        problem: two appends computing the same high-water mark assign
        overlapping auto doc ids — run one appender per index, exactly
        like the txnlog backend's conflict rule enforces.)"""
        from pyspark.sql.window import Window

        log = self.read("log").where(F.col("commit_id").isNotNull())
        if as_of is not None:
            log = log.filter(F.col("committed_at") <= float(as_of))
        appends = log.filter((F.col("op") == "append")
                             & F.col("batch_id").isNotNull())
        w = Window.partitionBy("batch_id").orderBy("committed_at", "commit_id")
        winners = (appends.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1))
        others = log.filter((F.col("op") != "append")
                            | F.col("batch_id").isNull())
        return (winners.select("commit_id")
                .unionByName(others.select("commit_id")).distinct())

    def read_published(self, suffix: str,
                       as_of: Optional[float] = None) -> DataFrame:
        """The stamped table restricted to rows whose commit_id the
        log has published — the ONLY correct read of a stamped table
        (unpublished rows are crashed-append orphans; a lost
        duplicate-publish race is demoted to orphan by the per-batch
        winner rule, see published_ids). The log is metadata-sized, so
        the semi-join broadcasts."""
        return (self.read(suffix)
                .join(F.broadcast(self.published_ids(as_of)),
                      "commit_id", "left_semi")
                .drop("commit_id"))

    def exists(self, suffix: str) -> bool:
        return self.spark.catalog.tableExists(self.t(suffix))

    def drop_all(self) -> None:
        for s in ("meta", "vocab", "qgrams", "postings", "doclens",
                  "blocks", "log"):
            self.spark.sql(f"DROP TABLE IF EXISTS {self.t(s)}")


def configure_jdbc_v2_catalog(spark: SparkSession, name: str = "jdbccat",
                              url: Optional[str] = None) -> str:
    """Configure (idempotently) a REAL DataFrameWriterV2 catalog with
    zero extra jars: Spark's built-in JDBC TableCatalog over in-memory
    Derby. Useful to exercise / demo the V2 ``writeTo`` lifecycle where
    no Iceberg/Delta jar is on the classpath — the same `_TableIO`
    code path a production Iceberg catalog takes (an Iceberg catalog
    additionally implements StagingTableCatalog, so its REPLACE is
    atomic). Derby maps Spark strings to CLOB, which Derby itself
    cannot compare, so every operator pushdown is disabled —
    predicates/aggregates evaluate Spark-side (orthogonal to the
    lifecycle seam). Returns ``name``."""
    import uuid

    base = f"spark.sql.catalog.{name}"
    if spark.conf.get(base, None) is None:
        spark.conf.set(base, "org.apache.spark.sql.execution."
                             "datasources.v2.jdbc.JDBCTableCatalog")
        spark.conf.set(base + ".url", url or
                       f"jdbc:derby:memory:tscat_{uuid.uuid4().hex[:8]};create=true")
        spark.conf.set(base + ".driver", "org.apache.derby.jdbc.EmbeddedDriver")
        for k in ("pushDownPredicate", "pushDownAggregate",
                  "pushDownLimit", "pushDownOffset"):
            spark.conf.set(f"{base}.{k}", "false")
    return name


def save_index_catalog(index: BM25Index, prefix: str, *,
                       using: Optional[str] = None,
                       with_qgrams: bool = True) -> None:
    """Persist a block BM25Index as catalog tables under ``prefix``
    (reference save lifecycle src/io.jl:6-18). Postings/blocks are
    written token-clustered (repartition+sortWithinPartitions) so the
    format's file/row-group statistics give token min-max pruning at
    query time — same physical layout as the filesystem backends."""
    import uuid

    assert index.blocks is not None, "catalog backend expects a block index"
    spark = index.spark
    io = _TableIO(spark, prefix, using)
    commit_id = f"init-{uuid.uuid4().hex[:12]}"
    stamp = F.lit(commit_id).alias("commit_id")
    meta = {
        "backend": "catalog",
        "textconfig": json.loads(index.cfg.to_json()),
        "bm25": json.loads(index.bm25.to_json()),
        "params": {"k1": index.params.k1, "b": index.params.b,
                   "delta": index.params.delta},
        "n_docs": index.n_docs,
        "avgdl": index.avgdl,
        "span": block_span(index),  # loads then skip the span probe
    }
    io.create(spark.createDataFrame([(json.dumps(meta, sort_keys=True),)],
                                    "meta_json string"), "meta")
    io.create(index.vocab, "vocab")
    if with_qgrams:
        from ..operators.approxvoc import build_qgram_index

        q = index.qgrams if index.qgrams is not None else build_qgram_index(index.vocab)
        io.create(q.repartition("gram").sortWithinPartitions("gram", "vtoken"),
                  "qgrams")
    io.create(index.postings.select("*", stamp).repartition("token")
              .sortWithinPartitions("token", "doc_id"), "postings")
    io.create(index.doclens.select("*", stamp), "doclens")
    io.create(index.blocks.select("*", stamp).repartition("token")
              .sortWithinPartitions("token", "block_id"), "blocks")

    if index.last_doc is not None:
        last_doc = int(index.last_doc)
    else:
        last_doc = int(index.doclens.agg(F.max("doc_id")).collect()[0][0] or 0)
    n_rows = io.read("blocks").count()
    io.create(spark.createDataFrame(
        [("init", None, commit_id, last_doc, n_rows, time.time(), None)],
        _LOG_SCHEMA), "log")


def log_history_catalog(spark: SparkSession, prefix: str) -> list[dict]:
    """The index's commit history, oldest first — one dict per log row.
    Every row's ``committed_at`` is a valid
    ``load_index_catalog(as_of=...)`` target, subject to the
    compaction floor documented there."""
    io = _TableIO(spark, prefix)
    return [r.asDict() for r in io.read("log").orderBy("committed_at").collect()]


def load_index_catalog(spark: SparkSession, prefix: str,
                       as_of: Optional[float] = None) -> BM25Index:
    """Load the index from catalog tables. On an ACID V2 format every
    table read is a snapshot; on V1 parquet tables the read is
    whatever files are live (single-writer contract).

    ``as_of`` (a ``committed_at`` timestamp from ``log_history_catalog``)
    time-travels: only batches published at or before it are visible —
    appends are pure table-appends of commit-stamped rows, so an older
    snapshot is served by filtering publication to the log prefix.
    LIMIT: a later COMPACTION physically replaced the blocks table, so
    snapshots older than the newest compaction are unreachable through
    this backend's own log (the load raises); on an Iceberg/Delta
    catalog the format's snapshot time travel (VERSION AS OF) serves
    those — compaction there is one RTAS snapshot and old snapshots
    expire by retention policy, exactly like the txnlog backend's
    vacuum."""
    io = _TableIO(spark, prefix)
    meta = json.loads(io.read("meta").collect()[0][0])
    if as_of is not None:
        # a later compaction bars the snapshot ONLY if it actually
        # materialized (blocks rows stamped with its commit_id exist):
        # compaction publishes its log row BEFORE the REPLACE, so a
        # crash between the two leaves a phantom compact entry that
        # replaced nothing — the older snapshot is still fully served
        # and must not be rejected for it
        later_cmp = (io.read("log")
                     .filter((F.col("op") == "compact")
                             & (F.col("committed_at") > float(as_of)))
                     .select("commit_id"))
        materialized = (io.read("blocks")
                        .join(F.broadcast(later_cmp), "commit_id",
                              "left_semi").limit(1).count())
        if materialized:
            raise ValueError(
                f"snapshot as_of={as_of} at {prefix} predates a later "
                "compaction: the pre-compaction block rows were replaced "
                "and are not reproducible from this backend's commit log "
                "(use the table format's own time travel on an "
                "Iceberg/Delta catalog)")
        # the target must be at or after the FIRST commit: an as_of
        # predating the init save (a typo'd timestamp, or milliseconds
        # where committed_at is seconds) filters publication to zero
        # commits, and the load would otherwise serve a silently EMPTY
        # index — zero hits for every query, no error. Iceberg rejects
        # before-first-snapshot timestamps the same way. One min() over
        # the log table answers this — the init row is always published,
        # so "any log row at or before as_of" == "any published commit"
        # (no need to evaluate the full published_ids window plan here)
        first = io.read("log").agg(F.min("committed_at")).first()[0]
        if first is None or float(as_of) < float(first):
            raise ValueError(
                f"snapshot as_of={as_of} at {prefix} predates the first "
                f"commit ({first}): no published snapshot exists at that "
                "time (committed_at is UNIX seconds — see "
                "log_history_catalog for valid targets)")
    blocks = io.read_published("blocks", as_of)
    from ..operators.postings import validate_blocks_schema

    validate_blocks_schema(blocks, where=f"catalog blocks at {prefix}")
    qgrams = io.read("qgrams") if io.exists("qgrams") else None
    return BM25Index(
        cfg=TextConfig.from_json(json.dumps(meta["textconfig"])),
        params=BM25Params(**meta["params"]),
        bm25=FoldedBM25.from_json(json.dumps(meta["bm25"])),
        vocab=io.read("vocab"),
        postings=io.read_published("postings", as_of),
        doclens=io.read_published("doclens", as_of),
        n_docs=meta["n_docs"],
        avgdl=meta["avgdl"],
        blocks=blocks,
        span=meta.get("span"),
        qgrams=qgrams,
        last_doc=high_water_mark_catalog(spark, prefix, as_of),
    )


def high_water_mark_catalog(spark: SparkSession, prefix: str,
                            as_of: Optional[float] = None) -> int:
    """Max last_doc over the commit-log TABLE — one tiny aggregate over
    a metadata-sized relation, never a doclens scan."""
    io = _TableIO(spark, prefix)
    log = io.read("log")
    if as_of is not None:
        log = log.filter(F.col("committed_at") <= float(as_of))
    row = log.agg(F.max("last_doc")).collect()[0]
    return int(row[0] or 0)


def _write_batch_data(io: _TableIO, batch) -> tuple:
    """Write a staged batch (streaming.stage.StagedBatch) into the three
    data tables under a fresh commit_id WITHOUT publishing it (the
    caller's log row does that). Split out so the crash-window tests
    can stop exactly here."""
    import uuid

    commit_id = f"att-{uuid.uuid4().hex[:12]}"
    stamp = F.lit(commit_id).alias("commit_id")
    blocks = batch.blocks
    if batch.n_block_rows is None:
        # Spark plan: count the blocks once, cached for their append
        blocks = blocks.cache()
        batch.cached += (blocks,)
        batch.n_block_rows = blocks.count()
    io.append(blocks.select("*", stamp), "blocks")
    io.append(batch.postings.select(
        *[c for c in io.read("postings").columns if c != "commit_id"], stamp),
        "postings")
    io.append(batch.doclens.select("*", stamp), "doclens")
    return commit_id, int(batch.n_block_rows)


def append_batch_catalog(
    spark: SparkSession,
    prefix: str,
    new_docs: DataFrame,
    *,
    doc_col: Optional[str] = None,
    text_col: str = "text",
    batch_id=None,
) -> dict:
    """One append batch: frozen-vocab postings (the shared
    streaming.stage.stage_batch — identical semantics and staging
    plans to the other two backends), appended to the three data
    tables plus one log row. A ``batch_id`` already present in the log
    returns its recorded metrics without re-appending (streaming
    replay dedupe) — the full metrics dict rides the log row's
    ``metrics_json``, so the replay return matches the other two
    backends' contract (a log written before that column existed falls
    back to the fields the row itself carries, with ``replay: True``
    marking the shape).

    Write-audit-publish: the batch's rows land stamped with a fresh
    ``commit_id`` (one per physical attempt), and the log row —
    written LAST — is the publish point. A crash anywhere before it
    leaves only unpublished orphans; the retry stamps a new commit_id,
    so the eventual single publish exposes exactly one copy."""
    import uuid

    from ..streaming.stage import stage_batch

    if batch_id is None:
        batch_id = f"adhoc-{uuid.uuid4().hex[:12]}"
    batch_id = str(batch_id)
    io = _TableIO(spark, prefix)
    prior = (io.read("log").filter(F.col("batch_id") == batch_id)
             .orderBy(F.desc("committed_at")).limit(1).collect())
    if prior:
        r = prior[0].asDict()  # .asDict: pre-metrics_json logs lack the column
        if r.get("metrics_json"):
            return {**json.loads(r["metrics_json"]), "replay": True}
        return {"batch_id": batch_id, "replay": True,
                "n_block_rows": int(r["n_block_rows"] or 0),
                "last_doc": int(r["last_doc"] or 0)}

    t0 = time.time()
    idx = load_index_catalog(spark, prefix)
    span = block_span(idx)
    hwm = high_water_mark_catalog(spark, prefix)
    batch = stage_batch(spark, idx, new_docs, doc_col=doc_col, text_col=text_col, hwm=hwm)
    commit_id, n_block_rows = _write_batch_data(io, batch)
    batch.release()
    last_doc = batch.last_doc
    metrics = {
        "batch_id": batch_id,
        "n_docs_appended": batch.n_new,
        "first_doc": batch.first_doc,
        "last_doc": last_doc,
        "n_block_rows": int(n_block_rows),
        "append_sec": round(time.time() - t0, 3),
        "span": span,
    }
    # the publish point: readers see this batch only from here on
    io.append(spark.createDataFrame(
        [("append", batch_id, commit_id, int(last_doc), int(n_block_rows),
          time.time(), json.dumps(metrics, sort_keys=True))],
        _LOG_SCHEMA), "log")
    return metrics


def compact_index_catalog(spark: SparkSession, prefix: str) -> dict:
    """Fold append-fragmented (token, block_id) groups into one block
    row each and REPLACE the blocks table (V2: atomic RTAS — the
    Iceberg RewriteFiles shape; V1: staged swap). Postings/doclens
    tables are already long-form unions and need no rewrite.

    Publish order is INVERTED vs append: the log row lands BEFORE the
    replace. Between the two, the blocks table still holds only the
    old (published) rows, so readers stay on the pre-compaction
    snapshot; the replace then atomically swaps in rows carrying the
    pre-published commit_id. Data-first here would strand readers on
    an all-unpublished table during the window."""
    import uuid

    from ..operators.postings import BLOCKS_COLUMNS, compact_blocks

    t0 = time.time()
    idx = load_index_catalog(spark, prefix)
    # persist before the count: the count's log row must precede the
    # rewrite (publish-order invariant above), and without the pin the
    # replace would re-run the whole decode/merge/re-encode pandas-UDF
    # plan a second time — doubling the dominant compaction cost.
    # persist, not localCheckpoint: a lost partition recomputes from
    # lineage (the published snapshot, stable for the single-compactor)
    merged = (compact_blocks(idx.blocks, idx.bm25).select(*BLOCKS_COLUMNS)
              .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        io = _TableIO(spark, prefix)
        commit_id = f"cmp-{uuid.uuid4().hex[:12]}"
        # count on the input side so the log row can precede the rewrite
        n_rows = merged.count()
        io.append(spark.createDataFrame(
            [("compact", None, commit_id, high_water_mark_catalog(spark, prefix),
              int(n_rows), time.time(), None)], _LOG_SCHEMA), "log")
        io.replace(merged.select("*", F.lit(commit_id).alias("commit_id"))
                   .repartition("token")
                   .sortWithinPartitions("token", "block_id"), "blocks")
    finally:
        merged.unpersist(blocking=False)
    return {"n_block_rows": int(n_rows),
            "compact_sec": round(time.time() - t0, 3)}


def vacuum_catalog(spark: SparkSession, prefix: str) -> dict:
    """Rewrite crashed-append orphans (rows whose commit_id the log
    never published) out of the stamped data tables. Orphans are
    invisible to every reader already — this reclaims their storage.
    Uses the same replace seam as compaction (V2: atomic RTAS; V1:
    staged swap, single-writer)."""
    io = _TableIO(spark, prefix)
    # published_ids, not the raw log: a commit that LOST the per-batch
    # winner race is published-looking in the log but orphaned to every
    # reader — vacuum reclaims its rows too
    ids = io.published_ids()
    # survivors are rewritten with the same physical clustering the
    # save laid down (token-clustered, sorted) — a vacuum must not
    # silently degrade the row-group min-max pruning every query-time
    # IN-pushdown relies on
    cluster = {"blocks": ("token", "block_id"),
               "postings": ("token", "doc_id")}
    removed = {}
    for suffix in _STAMPED:
        tbl = io.read(suffix)
        orphans = tbl.join(F.broadcast(ids), "commit_id", "left_anti").count()
        removed[suffix] = int(orphans)
        if orphans:
            keep = tbl.join(F.broadcast(ids), "commit_id", "left_semi")
            keys = cluster.get(suffix)
            if keys:
                keep = keep.repartition(keys[0]).sortWithinPartitions(*keys)
            io.replace(keep, suffix)
    return removed
