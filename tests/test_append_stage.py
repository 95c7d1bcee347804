"""Append staging plans (streaming/stage.py): a small batch is staged on
the driver, a large one (or any batch with the broadcast threshold at
-1) by distributed Spark jobs. Both plans must write identical tables
and raise identical errors; the driver plan must stay inside its job
budget with no Python-worker stage. Also: transaction-log loads read
tables with the schemas meta.json records, so they start no job."""

import json
import os
import shutil

import pytest

from .conftest import STAGE_LOGGER, STAGE_PLANS, local_df, recorded_wand_plans, stage_plan
from textsearch_spark.config import TextConfig
from textsearch_spark.operators.postings import build_posting_blocks
from textsearch_spark.operators.search import search_bm25
from textsearch_spark.operators.wand import search_bm25_wand
from textsearch_spark.plans.build import build_bm25_index
from textsearch_spark.sources import txnlog as tx

CFG = TextConfig(nlist=[1])

# null, empty and all-OOV docs, duplicate texts, and a doc whose
# postings straddle two blocks (span 4, ids above 7)
TEXTS = ["la casa roja", "verde verde la hoja rica", None, "",
         "zzz qqq www", "la casa roja", "la manzana verde esta rica",
         "pera pera pera"]
IDS = [9, 12, 20, 21, 22, 30, 31, 40]
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "PythonRDD")


@pytest.fixture(scope="module")
def base_dir(spark, golden_corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stage") / "base")
    idx = build_bm25_index(golden_corpus_df, CFG)
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4)
    tx.save_index_txn(idx, path)
    return path


def _copy(base_dir, tmp_path, name):
    path = str(tmp_path / name)
    shutil.copytree(base_dir, path)
    return path


def _batch(spark, with_ids):
    if with_ids:
        return local_df(spark, list(zip(IDS, TEXTS)), "doc_id long, text string")
    return local_df(spark, [(t,) for t in TEXTS], "text string")


def _appended(spark, path):
    """The last append's tables, read straight from its data dirs."""
    entry = tx.read_log(path)[-1]
    assert entry["op"] == "append"
    return {t: spark.read.parquet(os.path.join(path, d[0]))
            for t, d in entry["add"].items()}, entry["metrics"]


def _assert_same_table(a, b, what):
    assert sorted(a.columns) == sorted(b.columns), what
    b = b.select(*a.columns)
    assert dict(a.dtypes) == dict(b.dtypes), what
    assert a.exceptAll(b).count() == 0, what
    assert b.exceptAll(a).count() == 0, what


@pytest.mark.parametrize("with_ids", [False, True], ids=["auto-ids", "doc-col-ids"])
def test_stage_plans_write_identical_tables(spark, base_dir, tmp_path, with_ids):
    out = {}
    for plan in STAGE_PLANS:
        path = _copy(base_dir, tmp_path, plan)
        with stage_plan(spark, plan):
            tx.append_batch_txn(spark, path, _batch(spark, with_ids),
                                doc_col="doc_id" if with_ids else None,
                                auto_compact_after=None)
        out[plan] = _appended(spark, path)
    (drv, m_drv), (spk, m_spk) = out["driver"], out["spark"]
    for t in ("blocks", "postings", "doclens"):
        _assert_same_table(drv[t], spk[t], t)
    keys = ("n_docs_appended", "first_doc", "last_doc", "n_block_rows", "span")
    assert {k: m_drv[k] for k in keys} == {k: m_spk[k] for k in keys}
    assert m_drv["n_docs_appended"] == len(TEXTS)
    assert m_drv["n_block_rows"] == drv["blocks"].count() > 0
    # null, empty and all-OOV docs take ids but have no postings
    assert drv["doclens"].count() == len(TEXTS) - 3


def test_stage_plans_raise_identical_errors(spark, base_dir, tmp_path):
    path = _copy(base_dir, tmp_path, "idx")
    bad = {
        "high-water": local_df(spark, [(3, "la casa")], "doc_id long, text string"),
        "duplicate": local_df(spark, [(8, "a"), (8, "b")], "doc_id long, text string"),
        "duplicate doc_ids \\(2 rows, 1 distinct\\)": local_df(
            spark, [(9, "la casa"), (None, "la pera")], "doc_id long, text string"),
    }
    for match, df in bad.items():
        messages = set()
        for plan in STAGE_PLANS:
            with stage_plan(spark, plan), pytest.raises(ValueError, match=match) as err:
                tx.append_batch_txn(spark, path, df, doc_col="doc_id")
            messages.add(str(err.value))
        assert len(messages) == 1, messages
    with pytest.raises(ValueError, match="already has a doc_id column"):
        tx.append_batch_txn(spark, path, bad["duplicate"])
    assert tx.high_water_mark_txn(path) == 7


def test_batch_decoding_above_the_bound_takes_spark_plan(spark, base_dir, tmp_path,
                                                         monkeypatch):
    """Catalyst estimates a parquet batch by its compressed size, far
    below the decoded text of a repetitive one: the driver plan
    collects it, finds its Arrow size above the bound and leaves it to
    the Spark plan."""
    from textsearch_spark.plans.sizing import size_estimate
    from textsearch_spark.streaming import stage

    bound = 16 << 10
    monkeypatch.setattr(stage, "DRIVER_BATCH_BYTES", bound)
    src = str(tmp_path / "batch")
    local_df(spark, [("la casa roja verde " * 20,)] * 200, "text string") \
        .coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    assert size_estimate(batch) <= bound
    path = _copy(base_dir, tmp_path, "idx")
    with recorded_wand_plans(STAGE_LOGGER) as records:
        tx.append_batch_txn(spark, path, batch, auto_compact_after=None)
    assert [r[0] for r in records] == ["spark"], records
    assert records[0][3] > 4 * bound  # collected, then decoded above the bound
    assert tx.high_water_mark_txn(path) == 7 + 200


def _jobs_run_by(spark, fn):
    """(job count, the jobs' RDD operation graphs as DOT text) of ``fn()``."""
    import uuid

    sc = spark.sparkContext
    group = f"stage-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "append budget")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    dot = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    graphs = []
    for jid in jobs:
        seq = store.operationGraphForJob(jid)
        graphs.extend(dot.makeDotFile(seq.apply(i)) for i in range(seq.size()))
    return len(jobs), "\n".join(graphs)


def test_driver_plan_append_budget(spark, base_dir, tmp_path):
    path = _copy(base_dir, tmp_path, "idx")
    docs = local_df(spark, [(f"la casa roja {i} verde",) for i in range(40)], "text string")
    with stage_plan(spark, "driver"):
        tx.append_batch_txn(spark, path, docs, auto_compact_after=None)  # warm up
        n, graphs = _jobs_run_by(spark, lambda: tx.append_batch_txn(
            spark, path, docs, auto_compact_after=None))
    assert n <= 6, n
    assert graphs.count("digraph") >= n  # one operation graph per job
    assert not [p for p in PYTHON_NODES if p in graphs], graphs
    assert tx.high_water_mark_txn(path) == 7 + 2 * 40


def test_load_with_recorded_schemas_starts_no_job(spark, base_dir, tmp_path):
    path = _copy(base_dir, tmp_path, "idx")
    tx.append_batch_txn(spark, path, _batch(spark, False), auto_compact_after=None)
    tx.compact_index_txn(spark, path)
    tx.append_batch_txn(spark, path, _batch(spark, False), auto_compact_after=None)
    with open(os.path.join(path, tx.META)) as f:
        assert set(json.load(f)["schemas"]) == {"vocab", "qgrams", "postings",
                                                "doclens", "blocks"}
    out = []
    n, _ = _jobs_run_by(spark, lambda: out.append(tx.load_index_txn(spark, path)))
    assert n == 0, n
    # the recorded schemas are what inference reads
    idx = out[0]
    for t in ("vocab", "qgrams", "postings", "doclens", "blocks"):
        dirs = [os.path.join(path, t)] if t in ("vocab", "qgrams") else [
            os.path.join(path, d) for d in tx.snapshot(path)[t]]
        assert getattr(idx, t).schema == spark.read.parquet(*dirs).schema, t
    # a checkpoint carries the fold: still no job after the log vacuum
    tx.checkpoint_txn(path)
    tx.vacuum_log_txn(path, min_age_sec=0)
    n, _ = _jobs_run_by(spark, lambda: tx.load_index_txn(spark, path))
    assert n == 0, n


def test_appends_write_the_recorded_schemas(spark, base_dir, tmp_path):
    """A batch whose ids are 32-bit is written with the table schemas
    meta.json records, on both plans, so loads can keep reading every
    dir with them."""
    from pyspark.sql.types import StructType

    for plan in STAGE_PLANS:
        path = _copy(base_dir, tmp_path, plan)
        with open(os.path.join(path, tx.META)) as f:
            recorded = json.load(f)["schemas"]
        batch = local_df(spark, list(zip(IDS, TEXTS)), "doc_id int, text string")
        with stage_plan(spark, plan):
            tx.append_batch_txn(spark, path, batch, doc_col="doc_id",
                                auto_compact_after=None)
        tables, _ = _appended(spark, path)
        tx.compact_index_txn(spark, path)
        merged = tx.read_log(path)[-1]["add"]["blocks"][0]
        tables["merged blocks"] = spark.read.parquet(os.path.join(path, merged))
        for t, df in tables.items():
            assert df.schema == StructType.fromJson(recorded[t.split()[-1]]), (plan, t)


def test_load_without_recorded_schemas(spark, base_dir, tmp_path):
    """An index written before schemas were recorded loads by inference
    and ranks exactly as with them."""
    path = _copy(base_dir, tmp_path, "idx")
    tx.append_batch_txn(spark, path, _batch(spark, False), auto_compact_after=None)
    q = spark.createDataFrame([(0, "la casa roja"), (1, "verde hoja rica")],
                              "query_id long, qtext string")

    def ranked(idx):
        return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                      for r in search_bm25_wand(idx, q, 5).collect())

    recorded = tx.load_index_txn(spark, path)
    want = ranked(recorded)
    assert want == sorted((r.query_id, r.rank, r.doc_id, round(r.score, 10))
                          for r in search_bm25(recorded, q, 5).collect())
    meta_p = os.path.join(path, tx.META)
    with open(meta_p) as f:
        meta = json.load(f)
    del meta["schemas"]
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    legacy = tx.load_index_txn(spark, path)
    assert ranked(legacy) == want
    for t in ("vocab", "postings", "doclens", "blocks"):
        assert getattr(legacy, t).schema == getattr(recorded, t).schema, t
