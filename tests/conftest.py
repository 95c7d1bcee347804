import contextlib
import logging

import pytest


@pytest.fixture(scope="session")
def spark():
    from textsearch_spark.session import get_spark

    s = get_spark("local[4]", app_name="textsearch_spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


# search_bm25_wand's two physical plans (operators/wand.py)
WAND_PLANS = ("driver", "distributed")


@contextlib.contextmanager
def distributed_wand(spark):
    """Force search_bm25_wand onto its distributed plan: with
    ``spark.sql.autoBroadcastJoinThreshold=-1`` no blocks table counts
    as small (explicit ``F.broadcast`` hints still apply)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def distributed_plan(spark):
    """Pin one test to the distributed WAND plan."""
    with distributed_wand(spark):
        yield


class _PlanRecords(logging.Handler):
    """Collects the arguments of each plan debug record: (plan,
    estimate bytes, threshold, candidate rows) per WAND call, (plan,
    estimate bytes, threshold, Arrow bytes) per staged append batch."""

    def __init__(self):
        super().__init__(logging.DEBUG)
        self.records = []

    def emit(self, record):
        self.records.append(record.args)


@contextlib.contextmanager
def recorded_wand_plans(logger="textsearch_spark.operators.wand"):
    """Yield the list that collects the plan record of every WAND call
    made inside the block (of every staged append batch with
    ``logger=STAGE_LOGGER``)."""
    log = logging.getLogger(logger)
    seen, level = _PlanRecords(), log.level
    log.addHandler(seen)
    log.setLevel(logging.DEBUG)
    try:
        yield seen.records
    finally:
        log.removeHandler(seen)
        log.setLevel(level)


@contextlib.contextmanager
def wand_plan(spark, plan):
    """Run the block on one WAND plan and check that every WAND call in
    it took that plan. ``"distributed"`` forces it; ``"driver"`` leaves
    the session as it is, so the block's index must be small."""
    with recorded_wand_plans() as records:
        with distributed_wand(spark) if plan == "distributed" else contextlib.nullcontext():
            yield
    plans = {r[0] for r in records}
    assert plans == {plan}, records


# an append batch's two staging plans (streaming/stage.py)
STAGE_PLANS = ("driver", "spark")
STAGE_LOGGER = "textsearch_spark.streaming.stage"


@contextlib.contextmanager
def stage_plan(spark, plan):
    """Run the block on one append-staging plan and check that every
    batch staged in it took that plan. ``"spark"`` forces it (threshold
    -1, restored after); ``"driver"`` leaves the session as it is, so
    the block's batches must be small."""
    with recorded_wand_plans(STAGE_LOGGER) as records:
        with distributed_wand(spark) if plan == "spark" else contextlib.nullcontext():
            yield
    plans = {r[0] for r in records}
    assert plans == {plan}, records


def local_df(spark, rows, schema):
    """``rows`` (tuples) as an Arrow-built local relation typed by the
    DDL ``schema``. Catalyst knows its size, so an append of it takes
    the driver staging plan; a DataFrame made from a Python list has no
    size statistics, reads as huge and takes the Spark plan."""
    import pandas as pd

    cols = list(zip(*rows))
    return spark.createDataFrame(
        pd.DataFrame({i: pd.Series(c, dtype=object) for i, c in enumerate(cols)}), schema)


# The 7-doc BM25 golden corpus (reference: test/runtests.jl:20-28),
# 1-based doc ids matching the reference's array positions.
GOLDEN_CORPUS = [
    "la casa roja",
    "la casa verde",
    "la casa azul",
    "la manzana roja",
    "la pera verde esta rica",
    "la manzana verde esta rica",
    "la hoja verde",
]

SENTIMENT_CORPUS = ["me gusta", "me encanta", "lo lo odio", "odio esto", "me encanta esto LOL!"]
SENTIMENT_LABELS = ["pos", "pos", "neg", "neg", "pos"]
CORPUS3 = ["hello world :)", "@user;) excellent!!", "#jello world."]


@pytest.fixture(scope="session")
def golden_corpus_df(spark):
    rows = [(i + 1, t) for i, t in enumerate(GOLDEN_CORPUS)]
    return spark.createDataFrame(rows, "doc_id long, text string")
