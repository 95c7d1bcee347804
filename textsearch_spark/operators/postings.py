"""Compressed posting-block construction (the north rule's at-scale path).

The reference stores postings as docID-sorted in-memory adjacency lists
(src/bm25invfile.jl:61-71, add_edge! at :133-139). Here postings become
**doc-range-aligned compressed blocks**:

    blocks(token, block_id, n, first_doc, last_doc, ndocs, max_impact, blob)

with ``block_id = doc_id div span``. Design properties, chosen for
10^12-doc scale:

- **bounded groups, no term skew**: the groupBy key is (token,
  block_id); a group holds at most ``span`` postings, no matter how
  frequent the term. A stop-wordish term that appears in 10^11 docs
  simply produces many block rows spread over the cluster — no giant
  single-reducer list, which is the salted two-phase pattern the north
  rule requires. Sorted runs are built per shuffle partition and the
  block table is itself the hierarchically-merged result.
- **aligned ranges across terms**: every term's block b covers the same
  doc interval [b*span, (b+1)*span). The WAND scorer exploits this: the
  upper bound of a doc range is the sum of the participating terms'
  block maxima, and a document's full score is computable within one
  range — block-max pruning without cross-range state.
- **doclen inlined**: each posting carries (delta docID, tf, doclen)
  (codec.py), so query-time scoring never needs a random lookup into a
  10^12-row doclens table.
- **block-max metadata**: max_impact = max BM25 contribution within the
  block, delta term included (it is part of every match's score).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ..functions.codec import decode_blocks, encode_block

DEFAULT_BLOCK_SPAN = 4096

# Bump whenever the block table's schema or blob encoding changes; the
# checkpoint fingerprint folds this in so stale persisted block tables
# rebuild instead of crashing the WAND kernel at query time.
BLOCKS_FORMAT = 2
BLOCKS_COLUMNS = (
    "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
    "max_impact", "span", "blob",
)


def validate_blocks_schema(blocks: DataFrame, where: str = "blocks table") -> None:
    missing = [c for c in BLOCKS_COLUMNS if c not in blocks.columns]
    if missing:
        raise ValueError(
            f"{where} is missing columns {missing} (format v{BLOCKS_FORMAT}); "
            "it was built by an older version — rebuild with "
            "build_posting_blocks / build_bm25_index_checkpointed."
        )


def _encode_with_max_udf(bm25):
    """pandas UDF: (entries, ndocs) -> struct(blob, max_impact), one
    block per row. The per-block BM25 bound is computed here from (tf,
    doclen, ndocs) with the folded constants by ``max_tokenscore`` —
    the ONE producer of ``max_impact`` (the driver append plan and
    compaction call it too), and the same numpy formula the WAND kernel
    re-scores with, so a bound is never below a recomputed score. It is
    NOT bit-identical to the Catalyst ``impact`` column: the two can
    differ in the last bit (see functions/bm25.tokenscore_np).

    The struct array is split JVM-side (``entries.doc_id`` etc.) so
    Arrow ships list<int64> columns that surface as numpy arrays —
    never 10^7 per-entry Python dicts."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.bm25 import max_tokenscore

    rt = StructType([
        StructField("blob", BinaryType()),
        StructField("max_impact", DoubleType()),
    ])

    @pandas_udf(rt)
    def enc(docs: pd.Series, tfs: pd.Series, dls: pd.Series,
            ndocs: pd.Series) -> pd.DataFrame:
        blobs, maxes = [], []
        for d, t, l, nd in zip(docs, tfs, dls, ndocs):
            du = np.asarray(d, dtype=np.uint64)
            tu = np.asarray(t, dtype=np.uint64)
            lu = np.asarray(l, dtype=np.uint64)
            blobs.append(encode_block(du, tu, lu))
            # the ONE block-max formula (functions/bm25.py) — WAND bound
            # safety requires every producer of max_impact to agree
            maxes.append(max_tokenscore(bm25, float(nd), tu, lu))
        return pd.DataFrame({"blob": blobs, "max_impact": maxes})

    return enc


def build_posting_blocks_from_bow(bow: DataFrame, bm25, *, span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """BOW (doc_id, token, tf, doclen) -> block table with ONE shuffle.

    The classic path (build_bm25_index -> build_posting_blocks) carries
    per-posting ``ndocs`` and ``impact`` through the (token, block_id)
    exchange; at 10^12 scale those 16 bytes/posting are pure shuffle
    waste. Here only (doc_id, tf, doclen) cross the wire; ``ndocs`` is
    recovered from the aggregated block table itself (sum of block ``n``
    per token — one window over the SMALL block relation) and
    ``max_impact`` is computed inside the encode kernel. Output is
    column-identical to :func:`build_posting_blocks`.
    """
    from pyspark.sql.window import Window

    # integer DIV, not float division: (doc_id / span).cast('long')
    # loses exactness above 2^53 and would assign boundary doc_ids to
    # the wrong block — the WAND kernel then reconstructs ids from a
    # wrong block offset with no error
    p = bow.withColumn("block_id", F.expr(f"doc_id DIV {int(span)}"))
    agg = p.groupBy("token", "block_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf", "doclen"))).alias("entries"),
        F.count("*").alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    # ndocs == total postings of the token (one row per (doc, token));
    # the window runs over block rows, ~span x smaller than postings
    agg = agg.withColumn("ndocs", F.sum("n").over(Window.partitionBy("token")))
    enc = _encode_with_max_udf(bm25)
    return agg.select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
        F.lit(span).alias("span"),
        enc(F.col("entries.doc_id"), F.col("entries.tf"),
            F.col("entries.doclen"), F.col("ndocs")).alias("__e"),
    ).select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
        F.col("__e.max_impact").alias("max_impact"), "span",
        F.col("__e.blob").alias("blob"),
    )


def compact_blocks(blocks: DataFrame, bm25) -> DataFrame:
    """Merge fragmented block rows — maintenance after streaming appends.

    Appends never rewrite existing rows, so a (token, block_id) whose
    doc range straddles an append boundary accumulates multiple rows.
    The WAND kernel scores fragmented blocks correctly (it accumulates
    every row of a block id), at the cost of per-fragment decode and
    weaker block-max pruning (per-fragment maxima). Compaction decodes
    each fragmented group once, merges the entries in docID order, and
    re-encodes a single row; singleton groups pass their blob and
    max_impact through the kernel untouched (no decode/re-encode).
    ONE bounded groupBy over the block table — never wider than
    ``span`` entries per group, and never more than one scan: the
    previous two-branch design (window count, then separate
    singles/fragments filters unioned) read and shuffled the whole
    table twice per compaction."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.bm25 import max_tokenscore

    rt = StructType([
        StructField("blob", BinaryType()),
        StructField("max_impact", DoubleType()),
    ])

    # the two collect_lists are position-aligned: Spark feeds every
    # aggregate in one groupBy from the same per-group row stream
    @pandas_udf(rt)
    def merge(blob_lists: pd.Series, max_lists: pd.Series,
              ndocs: pd.Series) -> pd.DataFrame:
        blobs_out, maxes = [], []
        for blobs, mx, nd in zip(blob_lists, max_lists, ndocs):
            if len(blobs) == 1:  # unfragmented: pure passthrough
                blobs_out.append(bytes(blobs[0]))
                maxes.append(float(mx[0]))
                continue
            # one vectorized decode of the group's fragments, already
            # concatenated in fragment order
            _, _, docs, tfs, dls = decode_blocks(list(blobs))
            # fragments hold disjoint doc sets (a doc's posting for a
            # token is appended once), so the doc sort is deterministic
            # regardless of collect_list order
            order = np.argsort(docs, kind="stable")
            docs, tfs, dls = docs[order], tfs[order], dls[order]
            blobs_out.append(encode_block(docs, tfs, dls))
            # the ONE block-max formula (functions/bm25.py)
            maxes.append(max_tokenscore(bm25, float(nd), tfs, dls))
        return pd.DataFrame({"blob": blobs_out, "max_impact": maxes})

    g = blocks.groupBy("token", "block_id", "span").agg(
        F.collect_list("blob").alias("__blobs"),
        F.collect_list("max_impact").alias("__maxes"),
        F.sum("n").alias("n"),
        F.min("first_doc").alias("first_doc"),
        F.max("last_doc").alias("last_doc"),
        F.max("ndocs").alias("ndocs"),  # fit-frozen; rows agree
    )
    return g.select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs", "span",
        merge(F.col("__blobs"), F.col("__maxes"), F.col("ndocs")).alias("__m"),
    ).select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
        F.col("__m.max_impact").alias("max_impact"), "span",
        F.col("__m.blob").alias("blob"),
    )


def build_posting_blocks(postings: DataFrame, bm25, *,
                         span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """postings (token, doc_id, tf, doclen, ndocs, ...) -> block table.

    One shuffle on (token, block_id); sort_array produces the docID
    order inside each block (the reference's IdOrder insert,
    src/bm25invfile.jl:133-139), and the vbyte encode and the block-max
    bound run vectorized per block in one Arrow UDF. ``bm25`` is the
    index's folded constants (``max_impact`` is recomputed from them,
    not taken from the postings' ``impact`` column).
    """
    # integer DIV (see build_posting_blocks_from_bow: float division is
    # inexact above 2^53 doc ids)
    p = postings.withColumn("block_id", F.expr(f"doc_id DIV {int(span)}"))
    agg = p.groupBy("token", "block_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf", "doclen"))).alias("entries"),
        F.count("*").alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.first("ndocs").alias("ndocs"),
    )
    enc = _encode_with_max_udf(bm25)
    return agg.select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
        enc(F.col("entries.doc_id"), F.col("entries.tf"),
            F.col("entries.doclen"), F.col("ndocs")).alias("__e"),
    ).select(
        "token", "block_id", "n", "first_doc", "last_doc", "ndocs",
        F.col("__e.max_impact").alias("max_impact"), F.lit(span).alias("span"),
        F.col("__e.blob").alias("blob"),
    )
