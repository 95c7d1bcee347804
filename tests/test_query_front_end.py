"""The driver-side BM25 query front end (operators/search.query_term_map).

Both BM25 scorers tokenize a query batch on the driver with the pure
tokenizer kernel. The map must equal the distributed relation the same
kernel gives inside Spark's Arrow UDF — ``exploded_tokens`` then
``distinct`` — for any batch: null and empty texts, emoji, punctuation
runs, repeated terms, repeated ids and non-integral ids.
"""

import decimal
import types

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.functions.udfs import exploded_tokens
from textsearch_spark.operators.search import query_term_map
from textsearch_spark.plans.build import build_bm25_index

CONFIGS = [TextConfig(nlist=[1]), TextConfig(nlist=[1, 2], qlist=[3])]

PIECES = ["casa", "verde", "casa", "La", "🙂", "👍🏽", "!!!", "...", "?!", ";)",
          "#tag", "@user", "a_b", "", "  ", "x", "ÁRBOL", "\t"]

texts = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from(PIECES), max_size=6).map(" ".join),
    st.lists(st.sampled_from(PIECES), max_size=6).map("".join),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=10),
)

ID_TYPES = {
    "long": (lambda i: i, "long"),
    "string": (lambda i: f"q{i}", "string"),
    "decimal": (lambda i: decimal.Decimal(i) / 4, "decimal(10,2)"),
}


def _relation_map(df, cfg, id_col, text_col) -> dict:
    """The distributed reference: the Arrow-UDF token relation."""
    out: dict = {}
    for qid, tok in (exploded_tokens(df, cfg, doc_col=id_col, text_col=text_col)
                     .select(id_col, "token").distinct().collect()):
        out.setdefault(qid, set()).add(tok)
    return {q: tuple(sorted(ts)) for q, ts in out.items()}


# each example costs two Spark jobs, so few examples of wide batches
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.tuples(st.integers(0, 5), texts), max_size=16),
    id_type=st.sampled_from(sorted(ID_TYPES)),
    cfg_i=st.integers(0, len(CONFIGS) - 1),
)
def test_query_term_map_equals_token_relation(spark, rows, id_type, cfg_i):
    make_id, sql_type = ID_TYPES[id_type]
    cfg = CONFIGS[cfg_i]
    df = spark.createDataFrame([(make_id(i), t) for i, t in rows],
                               f"qid {sql_type}, body string")
    got = query_term_map(types.SimpleNamespace(cfg=cfg), df,
                         query_col="body", id_col="qid")
    assert got == _relation_map(df, cfg, "qid", "body")


def test_typo_query_term_map_equals_resolved_relation(spark, golden_corpus_df):
    """Typo-tolerant: the batch's distinct terms resolve through ONE
    approx_lookup and map back on the driver — the same pairs as
    joining the token relation with the resolved terms."""
    from textsearch_spark.operators.approxvoc import approx_lookup

    cfg = TextConfig(nlist=[1])
    idx = build_bm25_index(golden_corpus_df, cfg)
    q = spark.createDataFrame(
        [(1, "la csa verd"), (2, "manzanna roja roja"), (3, "zzzz"),
         (4, None), (1, "pera")],
        "query_id long, qtext string")
    toks = exploded_tokens(q, cfg, doc_col="query_id", text_col="qtext") \
        .select("query_id", "token").distinct()
    resolved = approx_lookup(idx.vocab, toks.select(F.col("token").alias("qtoken")),
                             maxdist=0.7, qgram_index=idx.qgrams)
    want: dict = {}
    for qid, tok in (toks.join(resolved, toks.token == resolved.qtoken)
                     .select("query_id", "match_token").distinct().collect()):
        want.setdefault(qid, set()).add(tok)
    want = {k: tuple(sorted(v)) for k, v in want.items()}
    got = query_term_map(idx, q, typo_tolerant=True, maxdist=0.7)
    assert got == want
    # rows sharing an id pool their terms; "verd" resolves to "verde",
    # "csa" is past maxdist and drops
    assert got[1] == ("la", "pera", "verde")
    assert 3 not in got and 4 not in got
