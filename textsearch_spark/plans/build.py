"""BM25 inverted-index build pipeline (reference lifecycle B, SURVEY §3B).

docs -> tokenize UDF -> explode -> BOW groupBy -> vocabulary groupBy ->
optional doc-freq pruning -> doclens / avgdl / N aggregates -> scoring
table. Mirrors BM25InvertedFile fit+append semantics exactly
(src/bm25invfile.jl:49-59, :118-154):

- ``avgdl`` is the mean of **unfiltered** per-doc token counts
  (src/bm25invfile.jl:55-56), while ``doclen`` used in scoring counts
  only in-vocabulary tokens (src/bm25invfile.jl:141-154);
- N is the corpus size at fit time, including docs that tokenize empty;
- posting entries are (doc_id, tf) per token, docID-sorted on read.

Scale design: the postings stay in long form ``(token, doc_id, tf,
doclen, ndocs, impact)`` — Spark's idiom for sparse data — partitioned
by token hash. The per-posting BM25 contribution (``impact``) is
precomputed at build time, so the query path is a broadcast semi-join +
sum-aggregate that never touches Python. The compressed block path
(operators/postings.py) adds delta+VByte blocks with block-max metadata
on top of the same long form.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25Params, FoldedBM25, TextConfig
from ..functions.bm25 import tokenscore_expr
from ..functions.udfs import bow_long
from ..operators.vocab import filter_vocab, vocab_from_bow

POSTING_COLS = ["token", "doc_id", "tf", "doclen", "ndocs", "impact"]


@dataclass
class BM25Index:
    """Handle over the index tables. The index *is* a family of
    DataFrames (parquet/Iceberg tables when persisted, see sources/io.py)
    — the reference's JLD2 serialization (src/io.jl) has no analogue
    because columnar tables are already the storage format."""

    cfg: TextConfig
    params: BM25Params
    bm25: FoldedBM25
    vocab: DataFrame      # (token, occs, ndocs) — post-filter vocabulary
    postings: DataFrame   # (token, doc_id, tf, doclen, ndocs, impact)
    doclens: DataFrame    # (doc_id, doclen) — in-vocab token count per doc
    n_docs: int
    avgdl: float
    blocks: Optional[DataFrame] = None  # compressed block-max postings
    # max doc_id over the FULL fit corpus — including docs that
    # tokenize empty or all-OOV, which have no doclens/postings row, so
    # max(doclens.doc_id) can UNDERSTATE it and a later auto-id append
    # would reuse a live id. Set by build_bm25_index; None on handles
    # from legacy paths (save_index then falls back to the doclens max)
    last_doc: Optional[int] = None
    # set by operators.wand.prebucket_blocks: the bucket count the
    # blocks table is hash-partition-resident under (None = postings
    # shuffle to buckets per query batch instead), and the replica
    # count (G > 1 = G process-parallel copies per bucket, query shard
    # g routed to replica g — the few-bucket high-QPS serving shape)
    prebucket_n: Optional[int] = None
    prebucket_replicas: Optional[int] = None
    # persisted typo-lookup q-gram inverted file (gram, vtoken, vsz) —
    # built once per index lifetime (operators.approxvoc.build_qgram_index),
    # saved under qgrams/; None falls back to an inline per-batch build
    qgrams: Optional[DataFrame] = None
    # the blocks table's doc-id span: set at build/load, else memoized
    # by block_span(); code swapping in blocks of another span sets it
    span: Optional[int] = None

    @property
    def spark(self) -> SparkSession:
        return self.vocab.sparkSession


def block_span(index: BM25Index) -> int:
    """The blocks table's span — one ``limit(1)`` probe on a handle's
    first call, none after. An empty table reports the build default."""
    if index.span is None:
        from ..operators.postings import DEFAULT_BLOCK_SPAN

        row = index.blocks.select("span").limit(1).collect()
        index.span = int(row[0][0]) if row else DEFAULT_BLOCK_SPAN
    return index.span


def build_bm25_index(
    df: DataFrame,
    cfg: TextConfig,
    *,
    doc_col: str = "doc_id",
    text_col: str = "text",
    multi: bool = False,
    vocab_filter: Optional[str] = None,
    params: BM25Params = BM25Params(),
    cache: bool = True,
) -> BM25Index:
    """Fit + append in one distributed pipeline.

    ``vocab_filter`` is a SQL predicate over (token, occs, ndocs), e.g.
    ``"ndocs > 1 AND ndocs < 5"`` (the reference golden's pruning,
    test/search.jl:31-33).
    """
    # BOW straight from the Arrow kernel: no (doc, token) shuffle at all
    # (the per-doc aggregation happens where the doc lives). ``doclen``
    # here is the doc's total pre-filter token count.
    bow = bow_long(df, cfg, doc_col=doc_col, text_col=text_col, multi=multi)
    if doc_col != "doc_id":
        bow = bow.withColumnRenamed(doc_col, "doc_id")
    if cache:
        bow = bow.cache()

    # fit-time scalars: one small aggregate + one count.
    # total token occurrences == sum of tf over the *unfiltered* BOW,
    # so avgdl never needs a second tokenization pass. last_doc rides
    # the same job as the count: it must cover empty/all-OOV docs
    # (absent from doclens), or the append high-water mark would reuse
    # their ids.
    crow = df.agg(F.count("*").alias("n"),
                  F.max(doc_col).alias("last_doc")).collect()[0]
    n_docs = int(crow.n)
    # non-integral doc ids (supported by the in-memory naive path only
    # — the block codec and appends require int64) leave last_doc None
    last_doc = int(crow.last_doc) if isinstance(crow.last_doc, int) else (
        0 if crow.last_doc is None else None)
    total_tokens = bow.agg(F.sum("tf")).collect()[0][0] or 0
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    bm25 = params.fold(avgdl, n_docs)

    vocab = vocab_from_bow(bow)
    if vocab_filter:
        vocab = filter_vocab(vocab, vocab_filter)
    if cache:
        vocab = vocab.cache()

    # in-vocabulary BOW: broadcast-or-shuffle semi join on token; AQE
    # picks broadcast when the pruned vocabulary is small
    bow_f = bow.join(vocab.select("token", "ndocs"), "token")

    # scoring doclen counts only in-vocabulary tokens
    # (src/bm25invfile.jl:141-154). Without a vocab filter that is the
    # kernel-computed doclen (zero shuffles); with one, recompute via a
    # single doc_id window.
    if vocab_filter:
        from pyspark.sql.window import Window

        wdoc = Window.partitionBy("doc_id")
        bow_f = bow_f.withColumn("doclen", F.sum("tf").over(wdoc))

    postings = (
        bow_f
        .withColumn(
            "impact",
            tokenscore_expr(
                bm25,
                F.col("ndocs").cast("double"),
                F.col("doclen").cast("double"),
                F.col("tf").cast("double"),
            ),
        )
        .select(*POSTING_COLS)
    )
    if cache:
        postings = postings.cache()
    # doclens: one small groupBy over the (cached) postings — its own
    # doc_id exchange, but the output is one row per doc
    doclens = postings.groupBy("doc_id").agg(F.first("doclen").alias("doclen"))

    return BM25Index(
        cfg=cfg, params=params, bm25=bm25, vocab=vocab,
        postings=postings, doclens=doclens, n_docs=n_docs, avgdl=avgdl,
        last_doc=last_doc,
    )


def build_bm25_index_direct(
    df: DataFrame,
    cfg: TextConfig,
    *,
    doc_col: str = "doc_id",
    text_col: str = "text",
    multi: bool = False,
    params: BM25Params = BM25Params(),
    span: int = 4096,
    cache: bool = True,
) -> BM25Index:
    """Build straight to compressed block-max postings — the at-scale
    path: ONE wide shuffle total (the BOW keyed by (token, block_id)),
    with ndocs/impact recovered post-aggregation instead of being
    carried per posting (operators/postings.build_posting_blocks_from_bow).

    ``postings``/``doclens``/``vocab`` remain lazy derived plans for the
    naive scorer and maintenance ops; materializing them costs the
    classic path's extra passes, but a WAND-only consumer (the scaling
    bench, a production query tier) never does.

    No vocab_filter variant: pruning composes downstream
    (``filter_lists`` / vocabulary predicates) — the direct path exists
    to keep the hot build minimal.
    """
    bow = bow_long(df, cfg, doc_col=doc_col, text_col=text_col, multi=multi)
    if doc_col != "doc_id":
        bow = bow.withColumnRenamed(doc_col, "doc_id")
    if cache:
        bow = bow.cache()

    # count + last_doc in one job; last_doc must cover empty/all-OOV
    # docs absent from doclens (see BM25Index.last_doc)
    crow = df.agg(F.count("*").alias("n"),
                  F.max(doc_col).alias("last_doc")).collect()[0]
    n_docs = int(crow.n)
    # non-integral doc ids (supported by the in-memory naive path only
    # — the block codec and appends require int64) leave last_doc None
    last_doc = int(crow.last_doc) if isinstance(crow.last_doc, int) else (
        0 if crow.last_doc is None else None)
    total_tokens = bow.agg(F.sum("tf")).collect()[0][0] or 0
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    bm25 = params.fold(avgdl, n_docs)

    from ..operators.postings import build_posting_blocks_from_bow

    blocks = build_posting_blocks_from_bow(bow, bm25, span=span)
    if cache:
        blocks = blocks.cache()

    vocab = vocab_from_bow(bow)
    postings = (
        bow.join(vocab.select("token", "ndocs"), "token")
        .withColumn(
            "impact",
            tokenscore_expr(
                bm25,
                F.col("ndocs").cast("double"),
                F.col("doclen").cast("double"),
                F.col("tf").cast("double"),
            ),
        )
        .select(*POSTING_COLS)
    )
    doclens = bow.groupBy("doc_id").agg(F.first("doclen").alias("doclen"))
    return BM25Index(
        cfg=cfg, params=params, bm25=bm25, vocab=vocab,
        postings=postings, doclens=doclens, n_docs=n_docs, avgdl=avgdl,
        blocks=blocks, last_doc=last_doc, span=span,
    )


def filter_lists(
    index: BM25Index,
    *,
    list_min_length_for_checking: int = 96,
    list_max_allowed_length: int = 1024,
    doc_min_freq: int = 1,
    doc_max_freq: int = 128,
    salt_buckets: int = 32,
) -> BM25Index:
    """Posting-list pruning (reference: filter_lists!,
    src/bm25invfile.jl:77-116, defaults :79-83).

    Lists shorter than ``list_min_length_for_checking`` are untouched.
    Longer lists keep entries with tf in [doc_min_freq, doc_max_freq],
    then the top ``list_max_allowed_length`` by tf (ties broken by
    ascending docID — the reference's unstable sort leaves ties
    unspecified; we pin them deterministically).

    "List length" is the ACTUAL posting count per token (one count
    aggregate + a join back), matching the reference's
    ``length(plist)`` — NOT the fit-time ``ndocs`` column: on an index
    that has absorbed appends, ndocs is frozen while lists grow, and
    classifying by ndocs would let grown hot lists silently escape the
    bound. On a fresh index the two are equal. The count groupBy is
    map-side-partial (skew-safe); Catalyst broadcasts the per-token
    lengths when the vocabulary is small and AQE's skew-join split
    covers the sort-merge case.

    The vocabulary (and therefore ndocs/idf and each entry's impact)
    is intentionally *not* recomputed — the reference prunes only the
    adjacency lists and keeps fit-time statistics.

    Expressed as a salted two-phase top-k-per-group: phase 1 keeps each
    (token, salt) partition's local top ``list_max_allowed_length`` (the
    global top-k is a subset of the union of local top-ks), phase 2
    ranks the bounded survivors. No single task ever holds a hot term's
    full list — the worst-case final-window partition is
    ``salt_buckets * list_max_allowed_length`` rows regardless of how
    many documents contain the term (the north rule's stop-word skew
    guard).
    """
    from pyspark.sql.window import Window

    lengths = index.postings.groupBy("token").agg(
        F.count("*").alias("__list_len"))
    p = index.postings.join(lengths, "token")
    short = p.filter(F.col("__list_len") < list_min_length_for_checking) \
        .drop("__list_len")
    long_f = (
        p.filter(F.col("__list_len") >= list_min_length_for_checking)
        .drop("__list_len")
        .filter((F.col("tf") >= doc_min_freq) & (F.col("tf") <= doc_max_freq))
    )
    order = (F.desc("tf"), F.asc("doc_id"))
    w_local = Window.partitionBy("token", "__salt").orderBy(*order)
    w_final = Window.partitionBy("token").orderBy(*order)
    pruned = (
        long_f.withColumn("__salt", F.pmod(F.col("doc_id"), F.lit(salt_buckets)))
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= list_max_allowed_length)
        .withColumn("__rn", F.row_number().over(w_final))
        .filter(F.col("__rn") <= list_max_allowed_length)
        .drop("__salt", "__lrn", "__rn")
    )
    return replace(index, postings=short.unionByName(pruned), blocks=None)
