"""Differential tests: block-max WAND vs the naive Catalyst scorer
must be rank-identical (SURVEY §7 step 7)."""

import pytest
from pyspark.sql import functions as F

from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index

from .conftest import WAND_PLANS, recorded_wand_plans, wand_plan


def _assert_rank_identical(naive_rows, wand_rows, tol=1e-9):
    """Same (query, rank)->doc mapping; tied scores may permute, so
    compare score sequences and doc sets per tied group."""
    def group(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
        return {q: sorted(v) for q, v in by_q.items()}

    a, b = group(naive_rows), group(wand_rows)
    assert a.keys() == b.keys()
    for q in a:
        ra, rb = a[q], b[q]
        assert len(ra) == len(rb)
        for (rka, da, sa), (rkb, db, sb) in zip(ra, rb):
            assert rka == rkb
            assert abs(sa - sb) <= tol * max(1.0, abs(sa))
            assert da == db


@pytest.fixture(scope="module")
def golden_index(golden_corpus_df):
    idx = build_bm25_index(golden_corpus_df, TextConfig(nlist=[1]),
                           vocab_filter="ndocs > 1 AND ndocs < 5")
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4).cache()
    return idx


def test_wand_matches_golden(golden_index, spark):
    """The reference golden (test/search.jl:27-70) on both plans."""
    from .test_bm25_golden import GOLDEN_IDS, GOLDEN_NEG_SCORES

    qs = spark.createDataFrame(
        [(1, "la casa de la manzana verde")], "query_id long, qtext string"
    )
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            res = search_bm25_wand(golden_index, qs, k=3, n_buckets=2).orderBy("rank").collect()
        assert [r.doc_id for r in res] == GOLDEN_IDS, plan
        sql2 = sum(((-r.score) - g) ** 2 for r, g in zip(res, GOLDEN_NEG_SCORES))
        assert sql2 <= 1e-4, plan


@pytest.mark.parametrize("id_type, ids", [
    ("long", [None, 7, 3]),
    ("string", [None, "q-7", "q-3"]),
])
def test_wand_null_query_id_differential(golden_index, spark, id_type, ids):
    """A null query id is a valid query key: search_bm25 ranks it, so
    WAND must rank it identically. None does not order against the
    other ids, so the surrogate-id mapping must sort null-safely."""
    texts = ["la casa", "manzana verde", "casa verde de la"]
    qdf = spark.createDataFrame(list(zip(ids, texts)),
                                f"query_id {id_type}, qtext string")
    naive = search_bm25(golden_index, qdf, k=3).collect()
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            wand = search_bm25_wand(golden_index, qdf, k=3, n_buckets=2).collect()
        _assert_rank_identical(naive, wand)
        assert any(r.query_id is None for r in wand), plan


def test_wand_differential_sf0001(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_bm25_index(docs, TextConfig(nlist=[1]))
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=64).cache()

    # queries sampled from doc contents (guaranteed hits) + OOV + mixed
    sample = [r.text.split()[:4] for r in docs.orderBy("doc_id").limit(8).collect()]
    qs = [(i, " ".join(s)) for i, s in enumerate(sample)]
    qs += [(100, "zzz qqq"), (101, "table zzz scan"), (102, "")]
    qdf = spark.createDataFrame(qs, "query_id long, qtext string")

    naive = search_bm25(idx, qdf, k=10).collect()
    wand = search_bm25_wand(idx, qdf, k=10, n_buckets=4).collect()
    _assert_rank_identical(naive, wand)
    # query_groups only partitions the batch across tasks — results
    # must be identical for any (n_buckets, query_groups) combination
    wand_qg = search_bm25_wand(idx, qdf, k=10, n_buckets=3, query_groups=5).collect()
    _assert_rank_identical(naive, wand_qg)
    assert naive  # sanity: non-empty


def test_wand_differential_many_random_queries(spark):
    from textsearch_spark.sources.corpus import synthetic_code_corpus, with_doc_ids

    corpus = with_doc_ids(synthetic_code_corpus(spark, 2000, partitions=8)).cache()
    cfg = TextConfig(nlist=[1])
    idx = build_bm25_index(corpus, cfg, text_col="content")
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=256).cache()

    import random

    rnd = random.Random(42)
    texts = [r.content for r in corpus.select("content").limit(200).collect()]
    qs = []
    for i in range(60):
        words = rnd.choice(texts).split()
        start = rnd.randrange(max(1, len(words) - 6))
        qs.append((i, " ".join(words[start:start + rnd.randint(1, 5)])))
    qdf = spark.createDataFrame(qs, "query_id long, qtext string")

    naive = search_bm25(idx, qdf, k=10).collect()
    wand = search_bm25_wand(idx, qdf, k=10).collect()
    _assert_rank_identical(naive, wand)
    # coverage sanity: most queries return hits
    hit_queries = {r.query_id for r in naive}
    assert len(hit_queries) >= 55


@pytest.fixture(scope="module")
def zipf_index(spark):
    """Small Zipf-vocabulary corpus + direct block index — the df shape
    where block-max bounds actually prune (tiny-keyword corpora are
    term-dense, so every range's upper bound is comparable and the
    bound test never fires)."""
    from textsearch_spark.plans.build import build_bm25_index_direct
    from textsearch_spark.sources.corpus import synthetic_zipf_corpus, with_doc_ids

    corpus = with_doc_ids(synthetic_zipf_corpus(spark, 3000, vocab_size=2000,
                                                partitions=8)).cache()
    idx = build_bm25_index_direct(corpus, TextConfig(nlist=[1]),
                                  text_col="content", span=64)
    idx.blocks = idx.blocks.cache()
    return corpus, idx


def _zipf_queries(spark, corpus, n, seed=7, id0=0):
    import random

    rnd = random.Random(seed)
    texts = [r.content for r in corpus.select("content").limit(100).collect()]
    qs = []
    for i in range(n):
        words = rnd.choice(texts).split()
        start = rnd.randrange(max(1, len(words) - 6))
        qs.append((id0 + i, " ".join(words[start:start + rnd.randint(2, 5)])))
    return spark.createDataFrame(qs, "query_id long, qtext string")


def test_wand_prunes_on_zipf_corpus(spark, zipf_index):
    """BMW must actually skip doc ranges on a realistic vocabulary, and
    the skipping must not change any result (VERDICT r02 item 1) — on
    both plans; the driver plan adds to the counters on the driver."""
    from textsearch_spark.operators.wand import WandCounters

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 64)
    naive = search_bm25(idx, qdf, k=10).collect()
    for plan in WAND_PLANS:
        ctr = WandCounters(spark)
        with wand_plan(spark, plan):
            wand = search_bm25_wand(idx, qdf, k=10, counters=ctr).collect()
        _assert_rank_identical(naive, wand)
        stats = ctr.as_dict()
        assert stats["ranges_pruned"] > 0, (plan, stats)
        # eager one-pass decode: every candidate row a kernel receives
        # is decoded exactly once, pruned ranges included
        assert stats["blocks_decoded"] == stats["block_rows"] > 0, (plan, stats)


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_wand_lookup_job_budget(spark, zipf_index, distributed_plan):
    """A distributed-plan 4-query lookup on a cached, non-resident
    index costs at most the queries collect, the term broadcast, the
    two scoring stages and the result — no tokenize job, no span probe,
    no group broadcast. The span is probed at most once per index
    handle."""
    import dataclasses

    from textsearch_spark.operators.wand import _default_n_buckets, _default_query_groups

    corpus, idx = zipf_index
    assert idx.prebucket_n is None and idx.span is not None
    qdf = _zipf_queries(spark, corpus, 4, seed=5)
    # the query-group fan-out is on this path and must add no job
    assert _default_query_groups(idx, _default_n_buckets(idx)) > 1
    search_bm25_wand(idx, qdf, 10).collect()  # warm codegen and workers
    n = _jobs_run_by(spark, lambda: search_bm25_wand(idx, qdf, 10).collect())
    assert n <= 5, n

    fresh = dataclasses.replace(idx, span=None)
    assert _jobs_run_by(spark, lambda: _default_n_buckets(fresh)) == 1
    assert fresh.span == idx.span
    assert _jobs_run_by(spark, lambda: _default_n_buckets(fresh)) == 0


def test_wand_chunked_differential(spark, zipf_index):
    """Chunked large-batch driver must be row-identical to the unchunked
    path (queries are independent; chunking only bounds the per-chunk
    driver collect + broadcast)."""
    from textsearch_spark.operators.wand import search_bm25_wand_chunked

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 50, seed=11)
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            whole = search_bm25_wand(idx, qdf, k=5).collect()
            chunked = search_bm25_wand_chunked(idx, qdf, k=5, chunk_size=12).collect()
        _assert_rank_identical(whole, chunked)
        assert len(chunked) == len(whole) > 0, plan


def test_wand_chunked_incremental_write(spark, zipf_index, tmp_path):
    """output_path= switches the chunk loop to incremental parquet
    appends (r03 verdict item 7): results identical to the union path,
    and the returned plan is a flat table scan whose size does NOT grow
    with chunk count — driver planning stays O(1) at 10^8 queries."""
    from textsearch_spark.operators.wand import search_bm25_wand_chunked

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 50, seed=13)
    wholes = []
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            whole = search_bm25_wand(idx, qdf, k=5).collect()
            wholes.append(whole)

            out_few = str(tmp_path / plan / "few")
            res_few = search_bm25_wand_chunked(idx, qdf, k=5, chunk_size=30,
                                               output_path=out_few)
            _assert_rank_identical(whole, res_few.collect())

            out_many = str(tmp_path / plan / "many")
            res_many = search_bm25_wand_chunked(idx, qdf, k=5, chunk_size=7,
                                                output_path=out_many)
            _assert_rank_identical(whole, res_many.collect())

            plan_few = res_few._jdf.queryExecution().optimizedPlan().toString()
            plan_many = res_many._jdf.queryExecution().optimizedPlan().toString()
            assert plan_few.count("\n") == plan_many.count("\n"), (
                "incremental-write plan size must be flat in chunk count")
            assert "Union" not in plan_many

            # the call OWNS output_path: a rerun into the same path (retry
            # after a mid-loop failure, or over a stale previous result)
            # must replace it, not append duplicate (query_id, rank) rows
            res_rerun = search_bm25_wand_chunked(idx, qdf, k=5, chunk_size=7,
                                                 output_path=out_many)
            _assert_rank_identical(whole, res_rerun.collect())
            assert res_rerun.count() == len(whole)
    _assert_rank_identical(*wholes)


def test_wand_accept_veto_differential(spark, zipf_index):
    """The accept_posting_list veto (list-length bounds) must agree
    between the naive scorer and WAND — both skip the same lists."""
    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 40, seed=3)
    # veto stop-wordish lists: drops the Zipf head terms from scoring
    naive = search_bm25(idx, qdf, k=10, accept_max_ndocs=400).collect()
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            wand = search_bm25_wand(idx, qdf, k=10, accept_max_ndocs=400).collect()
        _assert_rank_identical(naive, wand)
    # and the veto actually changes results vs the unvetoed run
    full = search_bm25(idx, qdf, k=10).collect()
    assert sorted((r.query_id, r.rank, r.doc_id) for r in full) != sorted(
        (r.query_id, r.rank, r.doc_id) for r in naive)


def test_wand_typo_differential(spark):
    """typo_tolerant resolves query terms through the q-gram approx
    vocabulary before scoring; WAND and naive must agree on the
    resolved terms too (VERDICT r02 item 7)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_bm25_index(docs, TextConfig(nlist=[1]))
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=64).cache()

    sample = [r.text.split()[:3] for r in docs.orderBy("doc_id").limit(6).collect()]
    # misspell the first word of each query (drop last char, swap two)
    qs = []
    for i, words in enumerate(sample):
        if words and len(words[0]) > 3:
            words[0] = words[0][:-1]
        qs.append((i, " ".join(words)))
    qdf = spark.createDataFrame(qs, "query_id long, qtext string")

    naive = search_bm25(idx, qdf, k=10, typo_tolerant=True).collect()
    for plan in WAND_PLANS:
        with wand_plan(spark, plan):
            wand = search_bm25_wand(idx, qdf, k=10, typo_tolerant=True, n_buckets=3).collect()
        _assert_rank_identical(naive, wand)
    assert naive  # the misspelled terms still resolve and score


def test_wand_kernel_group_mode_differential(spark, zipf_index, distributed_plan):
    """group_mode='kernel' (r04 verdict item 7): identical results to
    shuffle mode, and blocks_decoded stays FLAT as query_groups rises
    (the threads share one decode pass — shuffle mode re-decodes per
    group)."""
    from textsearch_spark.operators.wand import WandCounters

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 64).cache()
    qdf.count()
    base = search_bm25_wand(idx, qdf, k=10, n_buckets=4, query_groups=1).collect()

    decoded = {}
    for qg in (1, 4, 8):
        ctr = WandCounters(spark)
        got = search_bm25_wand(idx, qdf, k=10, n_buckets=4, query_groups=qg,
                               group_mode="kernel", counters=ctr).collect()
        _assert_rank_identical(base, got)
        decoded[qg] = ctr.blocks_decoded.value
    # each blob decodes exactly once per bucket regardless of groups
    assert decoded[1] == decoded[4] == decoded[8] > 0

    # shuffle mode's decode count GROWS with groups on the same batch —
    # the cost kernel mode exists to remove (sanity that the comparison
    # is meaningful, not a no-op corpus)
    ctr1, ctr8 = WandCounters(spark), WandCounters(spark)
    search_bm25_wand(idx, qdf, k=10, n_buckets=4, query_groups=1,
                     counters=ctr1).count()
    search_bm25_wand(idx, qdf, k=10, n_buckets=4, query_groups=8,
                     counters=ctr8).count()
    assert ctr8.blocks_decoded.value > ctr1.blocks_decoded.value


def test_wand_adaptive_defaults(spark, zipf_index, distributed_plan):
    """Knob-free call (r04 verdict item 8): n_buckets and query_groups
    both default adaptively and the result matches explicit knobs."""
    from textsearch_spark.operators.wand import (
        MAX_DEFAULT_QUERY_GROUPS, _default_n_buckets, _default_query_groups)

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 32).cache()
    base = search_bm25_wand(idx, qdf, k=10, n_buckets=4, query_groups=2).collect()
    got = search_bm25_wand(idx, qdf, k=10).collect()  # no knobs at all
    _assert_rank_identical(base, got)

    nb = _default_n_buckets(idx)
    qg = _default_query_groups(idx, nb)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= qg <= MAX_DEFAULT_QUERY_GROUPS
    assert qg == max(1, min(MAX_DEFAULT_QUERY_GROUPS, shuffle // nb))


def test_wand_prebucket_resident(spark, zipf_index, distributed_plan):
    """prebucket_blocks (r04 verdict item 3 follow-through): queries
    over a partition-resident blocks table are rank-identical, the
    scoring groupBy adds NO exchange (postings stop re-shipping per
    batch), and an explicitly mismatched n_buckets falls back to the
    shuffled path — still correct."""
    import contextlib
    import dataclasses
    import io

    from textsearch_spark.operators.wand import prebucket_blocks

    corpus, idx0 = zipf_index
    qdf = _zipf_queries(spark, corpus, 32, seed=23).cache()
    base = search_bm25_wand(idx0, qdf, k=10, n_buckets=4, query_groups=2).collect()

    # clone the handle: the fixture is module-shared and prebucket
    # mutates index.blocks
    idx = dataclasses.replace(idx0)
    # the fixture handle idx0 keeps serving from the old cached blocks
    prebucket_blocks(idx, n_buckets=4, unpersist_displaced=False)
    assert idx.prebucket_n == 4 and "bucket" in idx.blocks.columns
    res = search_bm25_wand(idx, qdf, k=10, query_groups=2)  # adopts n_buckets=4
    _assert_rank_identical(base, res.collect())

    def exchange_between_groupby_and_scan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = buf.getvalue().splitlines()
        fm = next(i for i, l in enumerate(lines) if "FlatMapGroupsInPandas" in l)
        seg = []
        for line in lines[fm:]:
            if "InMemoryTableScan" in line or "Scan parquet" in line:
                break
            seg.append(line)
        return any("Exchange" in line for line in seg)

    # resident: exchange elided; plain cached index: exchange present
    assert not exchange_between_groupby_and_scan(res)
    assert exchange_between_groupby_and_scan(
        search_bm25_wand(idx0, qdf, k=10, n_buckets=4, query_groups=2))

    # mismatched explicit n_buckets: stale bucket column is dropped and
    # recomputed under the requested count — correct, just shuffled
    stale = search_bm25_wand(idx, qdf, k=10, n_buckets=7, query_groups=1)
    _assert_rank_identical(base, stale.collect())
    idx.blocks.unpersist(blocking=False)


def test_wand_replicated_resident(spark, zipf_index, distributed_plan):
    """prebucket_blocks(replicas=G): the few-bucket high-QPS serving
    shape. Query shard g scores against replica g of every bucket —
    rank-identical to the shuffled scorer (each query hits exactly one
    replica per bucket, so no duplicate rows), still zero exchange
    above the cached scan, and the kernel-mode / mismatched-group-count
    fallbacks dedupe the exploded copies instead of G-fold counting."""
    import contextlib
    import dataclasses
    import io

    from textsearch_spark.operators.wand import prebucket_blocks

    corpus, idx0 = zipf_index
    qdf = _zipf_queries(spark, corpus, 32, seed=31).cache()
    base = search_bm25_wand(idx0, qdf, k=10, n_buckets=4, query_groups=2).collect()

    idx = dataclasses.replace(idx0)
    prebucket_blocks(idx, n_buckets=4, replicas=3, unpersist_displaced=False)
    assert idx.prebucket_n == 4 and idx.prebucket_replicas == 3
    assert "replica" in idx.blocks.columns
    # adopts n_buckets=4 and query_groups=replicas=3
    res = search_bm25_wand(idx, qdf, k=10)
    _assert_rank_identical(base, res.collect())

    def exchange_between_groupby_and_scan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = buf.getvalue().splitlines()
        fm = next(i for i, l in enumerate(lines) if "FlatMapGroupsInPandas" in l)
        seg = []
        for line in lines[fm:]:
            if "InMemoryTableScan" in line or "Scan parquet" in line:
                break
            seg.append(line)
        return any("Exchange" in line for line in seg)

    assert not exchange_between_groupby_and_scan(res)

    # kernel mode on a replicated index: every-signature-per-task would
    # G-duplicate results, so the plan must fall back to ONE replica
    kern = search_bm25_wand(idx, qdf, k=10, group_mode="kernel", query_groups=2)
    _assert_rank_identical(base, kern.collect())
    # a forced group count != G likewise falls back (correct, shuffled)
    grp = search_bm25_wand(idx, qdf, k=10, query_groups=5)
    _assert_rank_identical(base, grp.collect())
    idx.blocks.unpersist(blocking=False)


# ------------------------------------------------------------ plan choice

def test_wand_driver_plan_lookup(spark, zipf_index):
    """Below the broadcast threshold a 4-query lookup is scored on the
    driver: the queries collect and the candidate collect, no
    Python-worker stage in the result's plan, and collecting the
    returned local relation starts no job."""
    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 4, seed=5)
    search_bm25_wand(idx, qdf, 10).collect()  # warm codegen
    out = []
    with wand_plan(spark, "driver"):
        n = _jobs_run_by(spark, lambda: out.append(search_bm25_wand(idx, qdf, 10)))
    assert n <= 2, n
    res = out[0]
    assert "FlatMapGroupsInPandas" not in res._jdf.queryExecution().executedPlan().toString()
    rows = []
    assert _jobs_run_by(spark, lambda: rows.extend(res.collect())) == 0
    _assert_rank_identical(search_bm25(idx, qdf, 10).collect(), rows)


def test_wand_plan_follows_threshold(spark, zipf_index):
    """The plan is chosen by Catalyst's size estimate of the blocks
    table against spark.sql.autoBroadcastJoinThreshold: at the estimate
    the call runs on the driver, one byte below it the distributed plan
    runs — and both rank identically."""
    from textsearch_spark.plans.sizing import size_estimate

    corpus, idx = zipf_index
    qdf = _zipf_queries(spark, corpus, 4, seed=5)
    est = size_estimate(idx.blocks)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(est))
        with recorded_wand_plans() as at:
            on_driver = search_bm25_wand(idx, qdf, 10).collect()
        spark.conf.set(key, str(est - 1))
        with recorded_wand_plans() as below:
            res = search_bm25_wand(idx, qdf, 10)
            distributed = res.collect()
    finally:
        spark.conf.set(key, old)
    assert [r[:3] for r in at] == [("driver", est, est)]
    assert at[0][3] > 0  # candidate rows
    assert [r[:3] for r in below] == [("distributed", est, est - 1)]
    assert "FlatMapGroupsInPandas" in res._jdf.queryExecution().executedPlan().toString()
    _assert_rank_identical(on_driver, distributed)


@pytest.mark.parametrize("plan", WAND_PLANS)
def test_wand_empty_batches_keep_id_type(spark, zipf_index, plan):
    """An empty batch and an all-OOV batch return no rows typed with
    the caller's id type, on both plans."""
    _, idx = zipf_index
    empty = spark.createDataFrame([], "query_id string, qtext string")
    oov = spark.createDataFrame([("q-x", "zzzzq qqqqz")], "query_id string, qtext string")
    with wand_plan(spark, plan):
        outs = [search_bm25_wand(idx, empty, 5), search_bm25_wand(idx, oov, 5)]
    for out in outs:
        assert out.dtypes == [("query_id", "string"), ("rank", "int"),
                              ("doc_id", "bigint"), ("score", "double")]
        assert out.count() == 0


def test_wand_driver_plan_on_replicated_blocks(spark, golden_index):
    """A replica-exploded blocks table small enough for the driver plan
    is scored from one copy of every block row, not G copies."""
    import dataclasses

    from textsearch_spark.operators.wand import prebucket_blocks

    qdf = spark.createDataFrame(
        [(1, "la casa de la manzana verde"), (2, "verde rica")], "query_id long, qtext string")
    idx = dataclasses.replace(golden_index)
    prebucket_blocks(idx, n_buckets=2, replicas=3, unpersist_displaced=False)
    with wand_plan(spark, "driver"):
        got = search_bm25_wand(idx, qdf, k=3).collect()
    _assert_rank_identical(search_bm25(idx, qdf, k=3).collect(), got)
    idx.blocks.unpersist(blocking=False)
