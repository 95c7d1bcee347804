"""Scale-stress evidence for the ATOMIC append + auto-compaction
lifecycle (round-3): a bulk append SIGKILLed mid-write must be
invisible to readers (no partial postings scored), the retry must land
exactly once, and a sequence of appends must auto-compact back into
single base tables with rank-identical query results throughout.

Phases (one JSON line at the end):

1. build + save a base index on ``n_docs`` synthetic source-code docs;
   record a reference WAND top-k for a fixed query batch;
2. start a bulk append of ``n_docs/4`` docs in a child process and
   SIGKILL it as soon as its staging dir (``appends/<batch_id>/``)
   appears but before its manifest commits; assert the high-water mark
   and the reference results are UNCHANGED (the partial append is
   invisible);
3. retry the same batch_id to completion; assert doclens count and
   distinct doc_ids == base + batch exactly once;
4. run more appends with ``auto_compact_after=3`` until compaction
   triggers; assert the appends dir drains, (token, block_id)
   fragmentation is gone, and WAND == naive on the final index.

Usage: python tools/stress_append.py [n_docs] [index_dir]
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IS_CHILD = len(sys.argv) >= 2 and sys.argv[1] == "--child-append"
N_DOCS = int(sys.argv[1]) if (len(sys.argv) > 1 and not _IS_CHILD) else 500_000
INDEX_DIR = sys.argv[2] if (len(sys.argv) > 2 and not _IS_CHILD) else "/tmp/ts_stress_append_idx"


def _child_append(corpus_path: str, index_dir: str, lo: str, hi: str, batch_id: str):
    from pyspark.sql import functions as F

    from textsearch_spark.session import get_spark
    from textsearch_spark.streaming.append import append_batch_to_index

    spark = get_spark("local[32]", app_name="stress-append", shuffle_partitions=32)
    docs = spark.read.parquet(corpus_path).filter(
        (F.col("doc_id") > int(lo)) & (F.col("doc_id") <= int(hi)))
    append_batch_to_index(spark, index_dir, docs, doc_col="doc_id",
                          text_col="content", batch_id=batch_id,
                          auto_compact_after=None)
    spark.stop()


def _wand_rows(idx, qdf, k=10):
    from textsearch_spark.operators.wand import search_bm25_wand

    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
                  for r in search_bm25_wand(idx, qdf, k).collect())


def main():
    from pyspark.sql import functions as F

    from bench import _gen_scaling_corpus, _mk_queries
    from textsearch_spark.config import TextConfig
    from textsearch_spark.operators.postings import build_posting_blocks
    from textsearch_spark.operators.search import search_bm25
    from textsearch_spark.plans.build import build_bm25_index
    from textsearch_spark.plans.maintenance import fragmentation
    from textsearch_spark.session import get_spark
    from textsearch_spark.sources.io import (
        append_batch_dir, append_manifest_path, committed_append_ids,
        load_index, save_index,
    )
    from textsearch_spark.streaming.append import append_batch_to_index, high_water_mark

    t_all = time.time()
    total = N_DOCS + N_DOCS // 4 + 3 * (N_DOCS // 20)
    corpus_path = _gen_scaling_corpus(total, 32)
    subprocess.run(["rm", "-rf", INDEX_DIR], check=True)

    spark = get_spark("local[32]", app_name="stress-append-main", shuffle_partitions=32)
    corpus = spark.read.parquet(corpus_path).cache()
    base = corpus.filter(F.col("doc_id") <= N_DOCS)

    t0 = time.time()
    idx = build_bm25_index(base, TextConfig(nlist=[1]), text_col="content")
    idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=4096)
    save_index(idx, INDEX_DIR, postings_partitions=64)
    build_sec = round(time.time() - t0, 1)

    idx = load_index(spark, INDEX_DIR)
    texts = [r.content for r in base.select("content").limit(200).collect()]
    qdf = _mk_queries(spark, texts, 256).cache()
    qdf.count()
    ref = _wand_rows(idx, qdf)

    # phase 2: kill the bulk append mid-write (staged, uncommitted)
    batch_hi = N_DOCS + N_DOCS // 4
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child-append",
         corpus_path, INDEX_DIR, str(N_DOCS), str(batch_hi), "bulk0"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "32g"},
    )
    staging = append_batch_dir(INDEX_DIR, "bulk0")
    manifest = append_manifest_path(INDEX_DIR, "bulk0")
    t0 = time.time()
    killed_at = None
    while child.poll() is None:
        if os.path.exists(manifest):
            break  # too fast — append committed before we could kill
        if os.path.isdir(os.path.join(staging, "blocks")):
            time.sleep(1.0)  # mid-write: blocks staging underway
            if not os.path.exists(manifest):
                child.send_signal(signal.SIGKILL)
                killed_at = round(time.time() - t0, 1)
            break
        if time.time() - t0 > 1800:
            child.kill()
            raise TimeoutError("append never started staging")
        time.sleep(0.2)
    child.wait()
    if killed_at is None:
        raise RuntimeError("append committed before the kill window — raise n_docs")
    assert not os.path.exists(manifest), "manifest must not exist after mid-write kill"

    # partial append is invisible: hwm and results unchanged
    hwm_after_kill = high_water_mark(spark, INDEX_DIR)
    assert hwm_after_kill == N_DOCS, hwm_after_kill
    idx = load_index(spark, INDEX_DIR)
    assert _wand_rows(idx, qdf) == ref, "killed append leaked into results"

    # phase 3: retry the SAME batch id to completion — exactly once
    t0 = time.time()
    m = append_batch_to_index(
        spark, INDEX_DIR,
        corpus.filter((F.col("doc_id") > N_DOCS) & (F.col("doc_id") <= batch_hi)),
        doc_col="doc_id", text_col="content", batch_id="bulk0",
        auto_compact_after=None)
    retry_sec = round(time.time() - t0, 1)
    idx = load_index(spark, INDEX_DIR)
    agg = idx.doclens.agg(F.count("*").alias("n"),
                          F.countDistinct("doc_id").alias("nd")).collect()[0]
    assert agg.n == agg.nd == batch_hi, (agg.n, agg.nd, batch_hi)

    # phase 4: more appends trip auto-compaction
    lo = batch_hi
    compact_metrics = None
    t0 = time.time()
    for i in range(3):
        hi = lo + N_DOCS // 20
        mm = append_batch_to_index(
            spark, INDEX_DIR,
            corpus.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
            doc_col="doc_id", text_col="content", batch_id=f"inc{i}",
            auto_compact_after=3)
        compact_metrics = mm.get("compaction") or compact_metrics
        lo = hi
    appends_sec = round(time.time() - t0, 1)
    assert compact_metrics is not None, "auto-compaction never triggered"
    # the batches after the auto-compaction epoch legitimately remain
    # staged; a manual maintenance compact (the CLI path) folds them too
    from textsearch_spark.plans.maintenance import compact_index

    final_compact = compact_index(spark, INDEX_DIR)
    assert committed_append_ids(INDEX_DIR) == [], "appends dir not drained"
    frag = fragmentation(spark, INDEX_DIR)
    assert frag["fragment_extra_rows"] == 0, frag

    idx = load_index(spark, INDEX_DIR)
    t0 = time.time()
    wand = _wand_rows(idx, qdf)
    final_query_sec = round(time.time() - t0, 1)
    naive = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9))
                   for r in search_bm25(idx, qdf, 10).collect())
    assert wand == naive, "WAND/naive diverge on the compacted index"
    spark.stop()

    print(json.dumps({
        "n_docs_base": N_DOCS,
        "n_docs_final": lo,
        "build_sec": build_sec,
        "append_killed_after_sec": killed_at,
        "killed_append_invisible": True,
        "retry_exactly_once_sec": retry_sec,
        "auto_compaction": compact_metrics,
        "final_manual_compaction": final_compact,
        "post_compact_fragment_rows": frag["fragment_extra_rows"],
        "incremental_appends_sec": appends_sec,
        "final_wand_256q_sec": final_query_sec,
        "wand_equals_naive_on_final": True,
        "total_sec": round(time.time() - t_all, 1),
    }))


if __name__ == "__main__":
    if _IS_CHILD:
        _child_append(*sys.argv[2:7])
    else:
        main()
