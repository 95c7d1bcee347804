"""Query-relation freezing for the Catalyst scorers.

The scorers freeze their query relation with ONE collect (BM25:
operators/search.query_term_map; cosine: materialize_query_relation):
every consumer — the IN-pushdown term list and the broadcast scoring
join — reads the same frozen driver-side rows, so a non-deterministic
queries source can never be re-evaluated into an inconsistent term
set, results collected LATE (after many other searches) included.
Serving sessions therefore accumulate no cached query relations at all.

(The earlier bounded persist registry — pin_query_relation — was
removed in r05: no product caller remained after both scorers moved to
driver materialization, and its eviction re-exposed the very recompute
hazard the scorers left it to avoid.)
"""

from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.plans.build import build_bm25_index


def _cached_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_search_accumulates_no_cached_relations(spark, golden_corpus_df):
    """A serving loop of many query batches must not grow executor
    cache at all — the query relation is driver-frozen, not persisted."""
    idx = build_bm25_index(golden_corpus_df, TextConfig(nlist=[1]))
    expect = None
    # one warm-up search materializes the INDEX-side lazy caches
    # (postings/vocab) so the loop below measures only per-batch growth
    search_bm25(idx, spark.createDataFrame([(0, "casa")],
                "query_id long, qtext string"), k=3).collect()
    base = _cached_count(spark)
    texts = ["casa verde", "manzana roja", "pera rica", "hoja verde"]
    for i in range(12):
        q = spark.createDataFrame([(1, texts[i % len(texts)])],
                                  "query_id long, qtext string")
        rows = search_bm25(idx, q, k=3).orderBy("rank").collect()
        if i % len(texts) == 0:
            got = [(r.rank, r.doc_id) for r in rows]
            if expect is None:
                expect = got
            assert got == expect  # batch count never changes any result
    # no GROWTH — the property under test. (<=, not ==: the shared
    # test session carries cached relations from earlier tests, and
    # Spark's ContextCleaner may unpersist any of them mid-loop when
    # their driver references get GC'd, shrinking the count by an
    # amount this test doesn't control.)
    assert _cached_count(spark) <= base


def test_late_collect_sees_frozen_query_relation(spark, golden_corpus_df):
    """The r05 review scenario: build MANY search results over a
    NON-DETERMINISTIC queries source, collect them only afterwards —
    every result must reflect exactly the rows its own single
    evaluation saw (no silent truncation from a recompute serving a
    different sample)."""
    idx = build_bm25_index(golden_corpus_df, TextConfig(nlist=[1]))
    all_q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["casa verde", "manzana roja", "pera rica", "hoja verde",
             "casa azul", "manzana verde", "la pera", "roja rica"] * 2)],
        "query_id long, qtext string")
    results = []
    for i in range(12):
        # unordered limit over a shuffled frame: re-evaluation is free
        # to return a different row — the classic hazard source
        nd = all_q.orderBy(F.rand(seed=i)).limit(1)
        results.append((nd, search_bm25(idx, nd, k=3)))
    # collect LATE, after every other search has come and gone
    for nd, res in results:
        rows = res.collect()
        qids = {r.query_id for r in rows}
        # exactly one query was evaluated into this result, and every
        # returned row belongs to ONE query id (no phantom queries, no
        # truncation to zero for an in-vocab text)
        assert len(qids) == 1, qids
