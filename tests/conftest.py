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
    """Collects the arguments of each WAND call's debug record:
    (plan, estimate bytes, threshold, candidate rows)."""

    def __init__(self):
        super().__init__(logging.DEBUG)
        self.records = []

    def emit(self, record):
        self.records.append(record.args)


@contextlib.contextmanager
def recorded_wand_plans():
    """Yield the list that collects the plan record of every WAND call
    made inside the block."""
    log = logging.getLogger("textsearch_spark.operators.wand")
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
