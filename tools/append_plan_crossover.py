"""Time a transaction-log append on both staging plans across batch
sizes — the measurement that places ``streaming.stage.DRIVER_BATCH_BYTES``.

    python tools/append_plan_crossover.py WORKDIR 1000,2000,3000,4000 --reps 3

Builds a 2,000-doc index of generated source code (perfbench/corpora.py,
the append-mix corpus), then appends each batch size to a fresh copy of
it three ways, in rotating order: forced onto the driver plan (its cap
lifted), forced onto the Spark plan (a cap of -1: nothing is collected,
and the session's broadcast threshold still applies to the plan's
joins), and as the default rule chooses ("auto": a batch that decodes
above the cap is collected, then staged by the Spark plan). Prints one JSON line per append: docs, plan,
seconds, text bytes, parquet bytes and Catalyst's estimate of the
batch. WORKDIR must not exist.
"""

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import corpora  # noqa: E402
from textsearch_spark.config import TextConfig  # noqa: E402
from textsearch_spark.plans.build import build_bm25_index_direct  # noqa: E402
from textsearch_spark.plans.sizing import size_estimate  # noqa: E402
from textsearch_spark.session import get_spark  # noqa: E402
from textsearch_spark.sources.txnlog import append_batch_txn, save_index_txn  # noqa: E402
from textsearch_spark.streaming import stage  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workdir")
    ap.add_argument("sizes", help="comma-separated batch sizes in docs")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    root = args.workdir
    os.makedirs(root)
    spark = get_spark(f"local[{args.cpus}]", app_name="append-crossover", extra_conf={
        "spark.driver.memory": "1g", "spark.local.dir": f"{root}/spark-local",
        "spark.sql.warehouse.dir": f"{root}/warehouse",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cap, threshold = stage.DRIVER_BATCH_BYTES, spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    corpora.write_parquet(corpora.code_docs(7, 2000), f"{root}/base", 2 * args.cpus)
    idx = build_bm25_index_direct(spark.read.parquet(f"{root}/base"), TextConfig(nlist=[1]),
                                  text_col="content", span=512)
    save_index_txn(idx, f"{root}/index")
    spark.catalog.clearCache()
    sizes = [int(x) for x in args.sizes.split(",")]
    batches = {}
    for n in sizes:
        path = f"{root}/batch-{n}"
        text = corpora.write_parquet(corpora.code_docs(7, n, first_id=10**7), path, 2,
                                     with_doc_id=False)
        disk = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        batches[n] = (path, text, disk)

    def append(n, plan):
        index = f"{root}/index-{plan}"
        shutil.copytree(f"{root}/index", index)
        stage.DRIVER_BATCH_BYTES = {"driver": 1 << 40, "spark": -1, "auto": cap}[plan]
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(1 << 40) if plan == "driver" else threshold)
        df = spark.read.parquet(batches[n][0]).select("content")
        t0 = time.perf_counter()
        append_batch_txn(spark, index, df, text_col="content", auto_compact_after=None)
        dt = time.perf_counter() - t0
        shutil.rmtree(index)
        return dt, size_estimate(df)

    append(sizes[0], "driver")  # warm both plans up
    append(sizes[0], "spark")
    for rep in range(args.reps):
        for i, n in enumerate(sizes):
            plans = ("driver", "spark", "auto")
            for plan in plans[(rep + i) % 3:] + plans[:(rep + i) % 3]:
                dt, est = append(n, plan)
                print(json.dumps({"docs": n, "plan": plan, "rep": rep, "s": round(dt, 3),
                                  "text_bytes": batches[n][1], "parquet_bytes": batches[n][2],
                                  "estimate_bytes": est}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
