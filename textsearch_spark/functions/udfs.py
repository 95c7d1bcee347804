"""Vectorized Arrow/pandas UDF wrappers around the pure tokenizer kernel.

The reference parallelizes tokenization with ``Threads.@threads`` over an
in-memory corpus (src/tokenize.jl:92-105); here Spark's partition/task
parallelism plays that role and the kernel runs over Arrow batches, never
per-row Python on the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..config import TextConfig
from .tokenizer import tokenize


def with_tokens(df: DataFrame, cfg: TextConfig, *, text_col: str = "text",
                out_col: str = "tokens", multi: bool = False) -> DataFrame:
    """Adds an ``array<string>`` token column: a pandas UDF over the
    tokenizer kernel, ``cfg`` captured in the closure and shipped once
    per task. ``multi=True`` tokenizes an ``array<string>``
    multi-message document into one token stream (reference:
    src/tokenize.jl:50-61)."""

    @pandas_udf(ArrayType(StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        if multi:
            return texts.map(lambda a: tokenize(cfg, None if a is None else list(a)))
        return texts.map(lambda t: tokenize(cfg, t))

    return df.withColumn(out_col, _tok(F.col(text_col)))


def bow_arrays(cfg: TextConfig, texts) -> tuple:
    """Bag of words of each text: ``(row, token, tf)`` arrays with one
    entry per distinct token of ``texts[row]``; texts with no token
    contribute none. The BOW kernel of :func:`bow_long` and of the
    driver append plan (streaming/stage.py)."""
    from collections import Counter

    import numpy as np

    rows, toks, tfs = [], [], []
    for i, text in enumerate(texts):
        c = Counter(tokenize(cfg, text))
        rows.extend([i] * len(c))
        toks.extend(c.keys())
        tfs.extend(c.values())
    return (np.asarray(rows, dtype=np.int64), np.asarray(toks, dtype=object),
            np.asarray(tfs, dtype=np.int64))


def bow_long(df: DataFrame, cfg: TextConfig, *, doc_col: str = "doc_id",
             text_col: str = "text", multi: bool = False) -> DataFrame:
    """(doc_id, token, tf, doclen) computed entirely inside the Arrow
    batch: the per-doc bag-of-words is a Counter where the doc already
    lives, so the (doc_id, token) aggregation needs NO shuffle — the
    reference's per-thread BOW accumulation (src/bow.jl:14-23) without
    the shared-dict locks. ``doclen`` is the doc's total (pre-filter)
    token count."""
    import numpy as np

    schema = f"{doc_col} long, token string, tf long, doclen long"

    def gen(batches):
        for pdf in batches:
            texts = [None if t is None else (list(t) if multi else t) for t in pdf[text_col]]
            rows, toks, tfs = bow_arrays(cfg, texts)
            doclen = np.zeros(len(texts), dtype=np.int64)
            np.add.at(doclen, rows, tfs)
            yield pd.DataFrame({
                doc_col: pdf[doc_col].to_numpy()[rows].astype(np.int64),
                "token": toks,
                "tf": tfs,
                "doclen": doclen[rows],
            })

    return df.select(doc_col, text_col).mapInPandas(gen, schema)


def exploded_tokens(df: DataFrame, cfg: TextConfig, *, doc_col: str = "doc_id",
                    text_col: str = "text", multi: bool = False) -> DataFrame:
    """Long-form ``(doc_id, token)`` rows — Spark's idiom for the
    reference's per-doc token vectors. Docs that tokenize to nothing
    contribute no rows (they still count toward corpus size, which is
    taken from the source DataFrame)."""
    tok = with_tokens(df, cfg, text_col=text_col, multi=multi)
    return tok.select(F.col(doc_col), F.explode("tokens").alias("token"))
