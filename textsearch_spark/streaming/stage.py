"""One append batch staged as its three tables — blocks, postings and
doclens — by a plan chosen by size. The three index backends (the
transaction log, the rename protocol and the catalog tables) all call
:func:`stage_batch`, then write the frames and commit their own way.

Semantics are the reference's ``append_items!`` (streaming/append.py):
ids above the high-water mark, the vocabulary, ``ndocs``, N and avgdl
frozen at fit time, OOV tokens dropped, and ``doclen`` counting the
in-vocabulary tokens.

**Plan rule.** The batch, projected to its text (and id) column, is
*small* when it is at most ``min(spark.sql.autoBroadcastJoinThreshold,
DRIVER_BATCH_BYTES)`` twice over: by Catalyst's size estimate before it
is collected (the plan statistics the WAND serving plan also reads,
plans/sizing.py), and by its Arrow size after. A string text column and
an integral id column are also required.

- **Driver plan** (small): one Arrow collect of the batch; ids assigned
  in ``sources.corpus.with_doc_ids`` order (ascending text, nulls
  first) above the high-water mark, or caller ids validated with the
  same errors as the Spark plan; the same ``tokenize(cfg, ...)`` on the
  driver; frozen ``ndocs`` from one broadcast join of an Arrow-built
  term relation with the vocabulary; blocks built in numpy by
  ``encode_block`` and ``max_tokenscore``. The three tables come back
  as Arrow-built relations, so writing them runs no Python worker.
  ``impact`` is added by ``tokenscore_expr`` inside the postings write,
  as on the Spark plan. Spark jobs: the collect, two for the ``ndocs``
  lookup (the broadcast and its collect) and one per table written.
- **Spark plan** (otherwise, and always with the threshold at ``-1``):
  :func:`compute_batch_postings` then ``build_posting_blocks`` and the
  doclens ``groupBy``, all distributed.

Both plans produce identical tables (tests/test_append_stage.py).

``DRIVER_BATCH_BYTES`` sits just below where the driver plan stops
being faster. The driver plan tokenizes in one Python thread, about
0.8 s per MB of code text; the Spark plan starts about 2 s slower and
tokenizes in parallel. Appending generated code batches to a 2k-doc
index on a 4-CPU host (tools/append_plan_crossover.py, medians of
three), the driver plan took 2.6 s and the Spark plan 3.1 s at 2.1 MB
of text, and 3.9 s against 3.2 s at 3.2 MB. More cores cannot pull
the crossover much lower: the driver plan's 2 s head start lasts for
2.5 MB of tokenizing.

Driver memory: a batch stays on the driver only when its Arrow size is
at most ``DRIVER_BATCH_BYTES``; it is then held with its postings and
block rows. The collect itself is bounded only by the estimate, like
a broadcast join's: for a file source that is the compressed file size
scaled to the projected columns, and text decodes to several times it
(a parquet batch of code text estimated at 72 KB holds 535 KB). A batch
that decodes above the bound is dropped and staged by the Spark plan.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegralType, LongType, StringType, StructField, StructType,
)
from pyspark.sql.window import Window

from ..functions.bm25 import max_tokenscore, tokenscore_expr
from ..functions.codec import encode_block
from ..functions.udfs import bow_arrays, bow_long
from ..operators.postings import BLOCKS_COLUMNS, build_posting_blocks
from ..plans.build import POSTING_COLS, block_span
from ..plans.sizing import broadcast_threshold, size_estimate
from ..sources.io import parquet_rows

_log = logging.getLogger(__name__)
# one debug record per staged batch: plan, estimate bytes, threshold,
# Arrow bytes of the collected batch (None when it was not collected)
_PLAN_RECORD = "append plan=%s estimate_bytes=%d threshold=%d arrow_bytes=%s"

# the largest batch (Arrow bytes of its text and id columns) the driver
# plan stages; above it the Spark plan is as fast (module docstring)
DRIVER_BATCH_BYTES = 2 << 20


@dataclass
class StagedBatch:
    """An append batch's three tables, not yet written."""

    blocks: DataFrame
    postings: DataFrame
    doclens: DataFrame
    n_new: int
    first_doc: int
    last_doc: int
    # known on the driver plan; None on the Spark plan until
    # count_blocks reads the written footers
    n_block_rows: Optional[int]
    cached: tuple = ()

    def count_blocks(self, blocks_dir: str) -> int:
        """Block rows of the batch: known on the driver plan, else summed
        from the footers of the blocks written to ``blocks_dir``."""
        if self.n_block_rows is None:
            self.n_block_rows = parquet_rows(blocks_dir)
        return self.n_block_rows

    def release(self) -> None:
        """Unpersist what the Spark plan cached; call after the writes."""
        for df in self.cached:
            df.unpersist()


def stage_batch(spark: SparkSession, idx, new_docs: DataFrame, *,
                doc_col: Optional[str], text_col: str, hwm: int) -> StagedBatch:
    """Stage ``new_docs`` against the loaded index handle ``idx`` (frozen
    cfg, vocabulary and constants; its span) with ids above ``hwm``.
    ``doc_col`` names caller-assigned ids; None assigns them."""
    if doc_col is None and "doc_id" in new_docs.columns:
        raise ValueError(
            "appended batch already has a doc_id column — pass "
            "doc_col='doc_id' to append under the existing ids "
            "(auto-id would create a duplicate field)")
    cols = [text_col] if doc_col is None else [doc_col, text_col]
    batch = new_docs.select(*cols)
    types = {f.name: f.dataType for f in batch.schema.fields}
    estimate, threshold = size_estimate(batch), broadcast_threshold(spark)
    bound = min(threshold, DRIVER_BATCH_BYTES)
    tbl = None
    if (0 <= estimate <= bound and isinstance(types[text_col], StringType)
            and (doc_col is None or isinstance(types[doc_col], IntegralType))):
        tbl = batch.toArrow()
    on_driver = tbl is not None and tbl.nbytes <= bound
    _log.debug(_PLAN_RECORD, "driver" if on_driver else "spark", estimate, threshold,
               None if tbl is None else tbl.nbytes)
    if on_driver:
        return _stage_on_driver(spark, idx, tbl, doc_col=doc_col,
                                text_col=text_col, hwm=hwm)
    del tbl  # decoded above the bound: not kept while the Spark plan runs
    postings, n_new, first_doc, last_doc, docs = compute_batch_postings(
        spark, idx, new_docs, doc_col=doc_col, text_col=text_col, hwm=hwm)
    postings = postings.cache()
    return StagedBatch(
        blocks=build_posting_blocks(postings, idx.bm25, span=block_span(idx)),
        postings=postings,
        doclens=postings.groupBy("doc_id").agg(F.first("doclen").alias("doclen")),
        n_new=n_new, first_doc=first_doc, last_doc=last_doc,
        n_block_rows=None, cached=(postings, docs))


def _checked_ids(low, high, n: int, n_distinct: int, hwm: int) -> tuple[int, int]:
    """(first_doc, last_doc) of a batch with caller ids, after the two
    checks both plans make: every id above the high-water mark, and no
    duplicate (or null) id."""
    if low is not None and low <= hwm:
        raise ValueError(f"appended doc_id {low} <= high-water mark {hwm}")
    if n != n_distinct:
        # duplicate ids within a batch would double-count in both
        # scorers; concurrent appends are unsupported (single writer)
        raise ValueError(
            f"appended batch has duplicate doc_ids ({n} rows, "
            f"{n_distinct} distinct)"
        )
    return (int(low) if low is not None else hwm,
            int(high) if high is not None else hwm)


def compute_batch_postings(
    spark: SparkSession,
    idx,
    new_docs: DataFrame,
    *,
    doc_col: Optional[str],
    text_col: str,
    hwm: int,
):
    """The Spark plan's postings: assign doc ids above the high-water
    mark and score the batch against the FROZEN vocabulary/constants.
    Returns ``(postings, n_new, first_doc, last_doc, docs)`` — postings
    in POSTING_COLS long form; ``docs`` is the id-assigned batch (CACHED
    on the auto-id path — the caller must ``unpersist()`` it after
    materializing postings)."""
    if doc_col is None:
        # scale-safe auto-id: sources.corpus.with_doc_ids (range-
        # partition + local sort by the text, then zipWithIndex) offset
        # by the high-water mark — contiguous cross-partition ids in
        # one consistent computation, never a single-task global sort.
        # n_new comes from a count over the RAW batch (row count is
        # id-assignment-invariant), so the shuffle+sort+zipWithIndex
        # lineage never re-runs for the count; caching ``docs`` keeps
        # the downstream BOW from re-running it either.
        from ..sources.corpus import with_doc_ids

        n_new = new_docs.count()
        docs = with_doc_ids(new_docs, order_cols=(text_col,), start=hwm).cache()
        first_doc, last_doc = hwm + 1, hwm + n_new
    else:
        docs = new_docs.withColumnRenamed(doc_col, "doc_id") if doc_col != "doc_id" else new_docs
        agg = docs.agg(
            F.min("doc_id").alias("low"),
            F.max("doc_id").alias("high"),
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
        ).collect()[0]
        first_doc, last_doc = _checked_ids(agg.low, agg.high, agg.n, agg.nd, hwm)
        n_new = int(agg.n)

    bow = bow_long(docs, idx.cfg, text_col=text_col)
    # frozen-vocab join: OOV drops; ndocs = fit-time values
    bow_f = bow.join(idx.vocab.select("token", "ndocs"), "token")
    # appended doclen counts in-vocabulary tokens (src/bm25invfile.jl:143-152)
    wdoc = Window.partitionBy("doc_id")
    bow_f = bow_f.withColumn("doclen", F.sum("tf").over(wdoc))
    return _with_impact(bow_f, idx.bm25), n_new, first_doc, last_doc, docs


def _with_impact(postings: DataFrame, bm25) -> DataFrame:
    """POSTING_COLS, ``impact`` computed by Catalyst — on both plans."""
    return postings.withColumn(
        "impact",
        tokenscore_expr(
            bm25,
            F.col("ndocs").cast("double"),
            F.col("doclen").cast("double"),
            F.col("tf").cast("double"),
        ),
    ).select(*POSTING_COLS)


# ------------------------------------------------ the driver plan

def frozen_postings(doc_ids: np.ndarray, rows: np.ndarray, toks: np.ndarray,
                    tfs: np.ndarray, ndocs: dict) -> pd.DataFrame:
    """(token, doc_id, tf, doclen, ndocs) of the BOW entries whose token
    is in the frozen vocabulary ``ndocs`` (token -> fit-time ndocs);
    ``doclen`` counts a doc's in-vocabulary tokens."""
    nd = np.fromiter((ndocs.get(t, -1) for t in toks), dtype=np.int64, count=len(toks))
    keep = nd >= 0
    rows, toks, tfs, nd = rows[keep], toks[keep], tfs[keep], nd[keep]
    doclen = np.zeros(len(doc_ids), dtype=np.int64)
    np.add.at(doclen, rows, tfs)
    return pd.DataFrame({"token": toks, "doc_id": doc_ids[rows], "tf": tfs,
                         "doclen": doclen[rows], "ndocs": nd})


def block_rows(postings: pd.DataFrame, bm25, span: int) -> pd.DataFrame:
    """The block table's rows (all of BLOCKS_COLUMNS but ``span``) of a
    postings frame: one row per (token, doc_id DIV span), entries in doc
    order, encoded by ``encode_block`` with ``max_tokenscore`` as the
    bound — what ``build_posting_blocks`` computes per group."""
    codes, _ = pd.factorize(postings["token"])
    doc = postings["doc_id"].to_numpy(dtype=np.int64)
    bid = doc // span  # ids are above the high-water mark: no negatives
    order = np.lexsort((doc, bid, codes))
    codes, doc, bid = codes[order], doc[order], bid[order]
    tok = postings["token"].to_numpy(dtype=object)[order]
    tf = postings["tf"].to_numpy(dtype=np.uint64)[order]
    dl = postings["doclen"].to_numpy(dtype=np.uint64)[order]
    nd = postings["ndocs"].to_numpy(dtype=np.int64)[order]
    brk = np.flatnonzero((codes[1:] != codes[:-1]) | (bid[1:] != bid[:-1])) + 1
    starts = np.concatenate([[0], brk]).astype(np.int64) if len(doc) else brk
    ends = np.concatenate([brk, [len(doc)]]).astype(np.int64) if len(doc) else brk
    blobs, maxes = [], []
    for s, e in zip(starts, ends):
        blobs.append(encode_block(doc[s:e].astype(np.uint64), tf[s:e], dl[s:e]))
        maxes.append(max_tokenscore(bm25, float(nd[s]), tf[s:e], dl[s:e]))
    return pd.DataFrame({
        "token": tok[starts], "block_id": bid[starts], "n": ends - starts,
        "first_doc": doc[starts], "last_doc": doc[ends - 1], "ndocs": nd[starts],
        "max_impact": np.asarray(maxes, dtype=np.float64),
        "blob": pd.Series(blobs, dtype=object),
    })


def _frozen_ndocs(spark: SparkSession, vocab: DataFrame, terms: list) -> dict:
    """token -> fit-time ndocs for the batch's distinct ``terms``: one
    broadcast join of an Arrow-built term relation with the vocabulary."""
    if not terms:
        return {}
    rel = spark.createDataFrame(pd.DataFrame({"token": pd.Series(terms, dtype=object)}),
                                "token string")
    got = vocab.select("token", "ndocs").join(F.broadcast(rel), "token").toArrow()
    return dict(zip(got.column("token").to_pylist(), got.column("ndocs").to_pylist()))


def _longs(*names: str) -> list:
    return [StructField(c, LongType()) for c in names]


def _stage_on_driver(spark: SparkSession, idx, tbl, *,
                     doc_col: Optional[str], text_col: str, hwm: int) -> StagedBatch:
    """Stage the collected batch ``tbl`` (a pyarrow Table)."""
    texts = tbl.column(text_col).to_pylist()
    n_new = len(texts)
    if doc_col is None:
        # with_doc_ids order: ascending text, nulls first; equal texts
        # stage identical postings whichever id each one gets
        texts.sort(key=lambda t: (t is not None, t or ""))
        first_doc, last_doc = hwm + 1, hwm + n_new
        doc_ids = np.arange(first_doc, first_doc + n_new, dtype=np.int64)
    else:
        ids = tbl.column(doc_col).to_pylist()
        present = [i for i in ids if i is not None]
        first_doc, last_doc = _checked_ids(
            min(present, default=None), max(present, default=None),
            n_new, len(set(present)), hwm)
        doc_ids = np.asarray(ids, dtype=np.int64)

    rows, toks, tfs = bow_arrays(idx.cfg, texts)
    ndocs = _frozen_ndocs(spark, idx.vocab, sorted(set(toks.tolist())))
    post = frozen_postings(doc_ids, rows, toks, tfs, ndocs)
    span = block_span(idx)
    blocks = block_rows(post, idx.bm25, span)
    doclens = post.drop_duplicates("doc_id")[["doc_id", "doclen"]]

    nd_type = idx.vocab.schema["ndocs"].dataType
    post_df = spark.createDataFrame(post, StructType(
        [StructField("token", StringType())] + _longs("doc_id", "tf", "doclen")
        + [StructField("ndocs", nd_type)]))
    blocks_df = spark.createDataFrame(blocks, StructType(
        [StructField("token", StringType())]
        + _longs("block_id", "n", "first_doc", "last_doc")
        + [StructField("ndocs", nd_type), StructField("max_impact", DoubleType()),
           StructField("blob", BinaryType())]))
    # one part file per table: the batch is below the threshold, and a
    # local relation would otherwise write one file per default slice
    return StagedBatch(
        blocks=blocks_df.withColumn("span", F.lit(span)).select(*BLOCKS_COLUMNS).coalesce(1),
        postings=_with_impact(post_df, idx.bm25).coalesce(1),
        doclens=spark.createDataFrame(doclens, StructType(_longs("doc_id", "doclen"))).coalesce(1),
        n_new=n_new, first_doc=first_doc, last_doc=last_doc,
        n_block_rows=len(blocks))
