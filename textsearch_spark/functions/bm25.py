"""BM25+ scoring math as native Spark column expressions.

Formulas mirror the reference exactly (src/bm25.jl:14-40):

    idf_t   = ln(1 + (N - ndocs_t + 0.5) / (ndocs_t + 0.5))
    score_t = idf_t * (tf*(k1+1) / (tf + k1*(1-b) + doclen*k1*b/avgdl) + delta)

with defaults k1=1.2, b=0.75, delta=1.0. The constants are folded once
at fit time (FoldedBM25) and become Catalyst literals, so the whole
per-posting score stays inside whole-stage codegen — no Python in the
scoring hot path.

Numerics note: the reference computes in Float32; we compute in Float64
(column doubles / numpy float64) for cross-path determinism and compare
against the reference goldens with the tolerance its own tests use
(SqL2 <= 1e-4, test/search.jl:38).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import FoldedBM25


def idf_expr(bm25: FoldedBM25, ndocs: Column) -> Column:
    n = float(bm25.collection_size)
    return F.log(1.0 + (F.lit(n) - ndocs + 0.5) / (ndocs + 0.5))


def tokenscore_expr(bm25: FoldedBM25, ndocs: Column, doclen: Column, tf: Column) -> Column:
    """Per-(token, doc) BM25+ contribution (src/bm25.jl:35-40)."""
    num = tf * F.lit(bm25.k1_plus_1)
    den = tf + F.lit(bm25.k1_mult_1_min_b) + doclen * F.lit(bm25.k1_mult_b_div_avgdl)
    return idf_expr(bm25, ndocs) * (num / den + F.lit(bm25.delta))


def tokenscore_np(bm25: FoldedBM25, ndocs, doclen, tf):
    """Same formula, in the same operation order, over numpy arrays.

    NOT bit-identical to :func:`tokenscore_expr`: Catalyst's ``log``
    (Java StrictMath) and numpy's can differ in the last bit, so the
    Catalyst ``impact`` of a posting and this value can be one ulp
    apart. What must agree exactly does: the WAND kernel re-scores with
    this function and every ``max_impact`` producer takes its bound
    from :func:`max_tokenscore`, so a block's bound is never below a
    score the kernel recomputes. Scores compared across the two scorer
    paths are compared after rounding."""
    ndocs = np.asarray(ndocs, dtype=np.float64)
    doclen = np.asarray(doclen, dtype=np.float64)
    tf = np.asarray(tf, dtype=np.float64)
    # written as log(1+x), matching the Catalyst expression in
    # tokenscore_expr, to keep the two scorer paths numerically aligned
    idf = np.log(1.0 + (bm25.collection_size - ndocs + 0.5) / (ndocs + 0.5))
    num = tf * bm25.k1_plus_1
    den = tf + bm25.k1_mult_1_min_b + doclen * bm25.k1_mult_b_div_avgdl
    return idf * (num / den + bm25.delta)


def tokenscore_py(bm25: FoldedBM25, ndocs: float, doclen: float, tf: float) -> float:
    idf = math.log(1.0 + (bm25.collection_size - ndocs + 0.5) / (ndocs + 0.5))
    return idf * (tf * bm25.k1_plus_1 / (tf + bm25.k1_mult_1_min_b + doclen * bm25.k1_mult_b_div_avgdl) + bm25.delta)


def max_tokenscore(bm25: FoldedBM25, ndocs: float, tfs, doclens) -> float:
    """Upper bound of the token's contribution over a set of postings —
    the block-max metadata for WAND. The delta term is included since
    every match adds idf*delta (SURVEY §3C)."""
    scores = tokenscore_np(bm25, np.full(len(tfs), ndocs), doclens, tfs)
    return float(scores.max()) if len(scores) else 0.0
