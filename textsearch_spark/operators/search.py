"""Top-k BM25 retrieval — the query path (reference lifecycle C, SURVEY §3C).

Both BM25 scorers share one driver-side query front end,
:func:`query_term_map`: ONE collect of the (id, text) batch, tokenized
on the driver by the kernel the build's Arrow UDFs run — no
Python-worker job, no shuffle. Query-side term frequency is ignored
(the reference, src/bm25.jl:29).

Two physical strategies over that map, rank-identical by construction:

- ``search_bm25`` (this module): the reference differential and oracle
  scorer. The map becomes a frozen local ``(id, token)`` relation
  broadcast-joined against the long-form postings; the per-posting
  ``impact`` column is pre-folded BM25, so scoring is a sum-aggregate
  and top-k is a window — all whole-stage-codegen, no Python.
- ``search_bm25_wand`` (operators/wand.py): block-max WAND over the
  compressed posting blocks inside ``applyInPandas``, the serving
  path. Differential-tested against this one.

Tie order is pinned to ascending docID (the reference's KnnResult scans
in ascending docID and keeps the earlier doc on equal scores,
src/bm25invfilesearch.jl:23,43; golden test/search.jl:36-38).
"""

from __future__ import annotations

import numbers
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from ..functions.tokenizer import tokenize
from ..plans.build import BM25Index


def materialize_query_relation(df: DataFrame) -> tuple[DataFrame, list]:
    """Evaluate a (bounded) query relation EXACTLY ONCE — one collect —
    and return it as a local-rows DataFrame plus its sorted distinct
    ``token`` list for the IN-pushdown. Every consumer reads the frozen
    rows, so a non-deterministic queries source (sample(), unordered
    limit()) can never be re-evaluated into an inconsistent term set.
    The cosine scorer freezes its query vectors this way; the BM25
    scorers build theirs from :func:`query_term_map`'s one collect."""
    rows = df.collect()
    return (df.sparkSession.createDataFrame(rows, df.schema),
            sorted({r.token for r in rows}))


def query_term_map(index: BM25Index, queries: DataFrame, *, query_col: str = "qtext",
                   id_col: str = "query_id", typo_tolerant: bool = False,
                   maxdist: float = 0.7) -> dict:
    """{query_id: tuple(sorted distinct tokens)} — ONE ``collect`` of
    ``(id_col, query_col)``, tokenized on the driver with ``index.cfg``
    by the kernel the build's Arrow UDFs wrap. Rows sharing an id pool
    their terms; queries with no terms are absent. OOV terms stay and
    drop at the postings join (token2id -> 0 -> skipped in the
    reference, src/voc.jl:21, src/bow.jl:14-23).

    ``typo_tolerant=True`` swaps the exact token2id for the reference's
    QgramsLookup-as-token2id (src/approxvoc.jl:46-57): the batch's
    distinct terms resolve in ONE ``approx_lookup`` join against the
    persisted vocabulary q-gram table (``index.qgrams``; derived inline
    for a never-persisted index) to their nearest vocabulary token
    under 3-gram Jaccard distance, terms past ``maxdist`` drop, and the
    matches map back to queries on the driver."""
    raw: dict = {}
    for qid, text in queries.select(id_col, query_col).collect():
        toks = tokenize(index.cfg, text)
        if toks:
            raw.setdefault(qid, set()).update(toks)
    if typo_tolerant and raw:
        from .approxvoc import approx_lookup

        terms = sorted(set().union(*raw.values()))
        qtok = index.spark.createDataFrame(pd.DataFrame({"qtoken": terms}), "qtoken string")
        match: dict = {}
        for r in approx_lookup(index.vocab, qtok, maxdist=maxdist,
                               qgram_index=index.qgrams).select("qtoken", "match_token").collect():
            match.setdefault(r.qtoken, set()).add(r.match_token)
        raw = {qid: set().union(*(match.get(t, ()) for t in ts)) for qid, ts in raw.items()}
    return {qid: tuple(sorted(ts)) for qid, ts in raw.items() if ts}


def in_list(col: str, values) -> Column:
    """``F.col(col).isin(values)`` built in ONE JVM call.

    ``isin`` makes one py4j round trip per literal: 0.64 s for a
    ~500-term batch, tens of seconds for a 65k-id list. This parses one
    SQL expression instead. Strings travel as hex-encoded UTF-8
    (``CAST(X'...' AS STRING)``), so no quoting or escaping rule can
    misread a token; Catalyst folds the casts back to literals, so the
    predicate is the same ``In``/``InSet`` ``isin`` builds and still
    reaches a parquet scan's pushed filters.

    ``col`` names a top-level column; ``values`` are all ints or all
    strs. Nulls are dropped: ``x IN (NULL)`` keeps no row either."""
    vals = [v for v in values if v is not None]
    if not vals:
        return F.lit(False)
    if all(isinstance(v, str) for v in vals):
        lits = (f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)" for v in vals)
    elif all(isinstance(v, numbers.Integral) and not isinstance(v, bool) for v in vals):
        lits = (str(int(v)) for v in vals)
    else:
        raise TypeError(f"in_list takes ints or strs, got {sorted({type(v).__name__ for v in vals})}")
    name = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({','.join(lits)})")


PRUNE_MAX_TERMS = 500


def prune_postings_to(postings: DataFrame, terms: list) -> DataFrame:
    """Push the distinct query-term set down to the postings scan as an
    IN filter. On a persisted index (parquet/Iceberg sorted by token)
    this prunes row groups / files via min-max statistics — the
    distributed analogue of the reference fetching only the query
    terms' lists (select_posting_lists, src/bm25invfilesearch.jl:38).

    Skipped for batches with many distinct terms: a thousands-of-literals
    Catalyst expression costs seconds of SERIAL planning time while
    pruning almost nothing (a dense batch touches most row groups
    anyway), and the downstream broadcast join restricts tokens
    regardless — results are identical either way. 500 keeps the
    pushdown for the common small-batch case."""
    if 0 < len(terms) <= PRUNE_MAX_TERMS:
        return postings.filter(in_list("token", terms))
    return postings


def search_bm25(
    index: BM25Index,
    queries: DataFrame,
    k: int = 10,
    *,
    query_col: str = "qtext",
    id_col: str = "query_id",
    accept_min_ndocs: Optional[int] = None,
    accept_max_ndocs: Optional[int] = None,
    typo_tolerant: bool = False,
    maxdist: float = 0.7,
) -> DataFrame:
    """Returns (query_id, rank, doc_id, score) with rank 1..k by
    descending BM25 (the reference stores negated scores so its
    "smallest distance" == our largest score).

    ``accept_min_ndocs``/``accept_max_ndocs`` express the reference's
    ``accept_posting_list`` veto (src/bm25invfilesearch.jl:32-38) as a
    pushed-down predicate on list length — e.g. skipping stop-wordish
    very long lists at query time.
    """
    qmap = query_term_map(index, queries, query_col=query_col, id_col=id_col,
                          typo_tolerant=typo_tolerant, maxdist=maxdist)
    # FROZEN driver-side rows from the map: the IN-pushdown and the join
    # see one evaluation of a (possibly non-deterministic) source. Built
    # from pandas, the relation is Arrow-backed and the JVM reads it
    # with no Python worker; object dtype keeps null and 64-bit ids exact
    q = index.spark.createDataFrame(
        pd.DataFrame({
            id_col: pd.Series([qid for qid, ts in qmap.items() for _ in ts], dtype=object),
            "token": pd.Series([t for ts in qmap.values() for t in ts], dtype=object),
        }),
        StructType([queries.schema[id_col], StructField("token", StringType())]))

    p = index.postings
    if accept_min_ndocs is not None:
        p = p.filter(F.col("ndocs") >= accept_min_ndocs)
    if accept_max_ndocs is not None:
        p = p.filter(F.col("ndocs") <= accept_max_ndocs)
    p = prune_postings_to(p, sorted({t for ts in qmap.values() for t in ts}))

    # queries are the tiny side: broadcast them so the big postings
    # relation is never shuffled — the join degenerates to a hash-probe
    # per postings partition (the distributed select_posting_lists)
    joined = p.join(F.broadcast(q), "token")
    scored = joined.groupBy(id_col, "doc_id").agg(F.sum("impact").alias("score"))
    return salted_topk(scored, id_col, "score", k)


def salted_topk(scored: DataFrame, id_col: str, score_col: str,
                k: int) -> DataFrame:
    """Salted two-phase top-k over ``(id_col, doc_id, score_col)`` rows
    — shared by the BM25 and cosine scorers so the tie-order argument
    below can never diverge between them.

    The final per-query window alone would shuffle EVERY scored
    (query, doc) row of one query into a single task — a query
    containing a stop-wordish term scores a large fraction of the
    corpus, so at 100× that one straggler task holds millions of rows.
    Phase 1 takes the top-k per (query, input partition) — any row in
    the global top-k beats fewer than k rows globally, hence fewer
    than k within its own partition, so the local top-k is a superset
    of the global answer and ranks are identical by construction.
    Phase 2's window then sees at most k × shuffle_partitions rows per
    query. Tie order (score desc, doc_id asc) is applied in BOTH
    phases — the superset argument needs the IDENTICAL total order, so
    a tie-break change must land in both or ranks break."""
    order = (F.desc(score_col), F.asc("doc_id"))
    w_local = Window.partitionBy(id_col, "_pid").orderBy(*order)
    pre = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrank", F.row_number().over(w_local))
        .filter(F.col("_lrank") <= k)
        .drop("_pid", "_lrank")
    )
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "doc_id", score_col)
    )


def search_bm25_text(index: BM25Index, qtext: str, k: int = 10) -> DataFrame:
    """One-off single-query convenience (reference: search entry,
    src/bm25invfilesearch.jl:32-35)."""
    spark = index.spark
    q = spark.createDataFrame([(0, qtext)], "query_id long, qtext string")
    return search_bm25(index, q, k).select("rank", "doc_id", "score")
