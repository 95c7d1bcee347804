"""Cosine retrieval over weighted sparse vectors — the reference's
WeightedInvertedFile path (test/search.jl:2-14, examples/invindex.jl:80-82).

The "index" is the vectorized corpus in long form (doc_id, token,
weight), L2-normalized, i.e. the same postings machinery as BM25 with a
weight payload instead of tf; the score is the dot product, so top-k by
cosine similarity. Query vectors come from the same VectorModel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.weighting import EMPTY_SENTINEL, VectorModel, vectorize
from .search import materialize_query_relation, prune_postings_to, salted_topk


def search_cosine(
    model: VectorModel,
    corpus_vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    query_col: str = "qtext",
    id_col: str = "query_id",
) -> DataFrame:
    """(query_id, rank, doc_id, cos) — top-k by dot product of
    L2-normalized vectors. ``corpus_vectors`` is the output of
    ``vectorize(model, docs)`` (kept normalized)."""
    qv = vectorize(model, queries, doc_col=id_col, text_col=query_col)
    qv = qv.filter(F.col("token") != EMPTY_SENTINEL).select(
        F.col(id_col), F.col("token"), F.col("weight").alias("__qw")
    )
    # evaluate ONCE, freeze on the driver: qv feeds both the
    # IN-pushdown and the scoring join (see search_bm25 — same
    # double-consumption and non-deterministic-source hazard).
    qv, terms = materialize_query_relation(qv)
    p = prune_postings_to(corpus_vectors.filter(F.col("token") != EMPTY_SENTINEL), terms)
    scored = (
        p.join(F.broadcast(qv), "token")
        .groupBy(id_col, "doc_id")
        .agg(F.sum(F.col("weight") * F.col("__qw")).alias("cos"))
    )
    # salted two-phase top-k — same skew bound and tie order as
    # search_bm25 (one stop-wordy query can't pin all its scored rows
    # on one task); shared helper so the two scorers cannot diverge
    return salted_topk(scored, id_col, "cos", k)
