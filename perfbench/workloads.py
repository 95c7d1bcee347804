"""The benchmark's workloads: set-up, closed timed loop, correctness
gate and (traced runs only) per-layer probes.

Each workload is driven by one client in the driver process, issuing
its next call only after the previous one returned (closed loop).

- ``zipf-serve``: read-only serving over a Zipf-vocabulary index built
  and cached in set-up. The loop alternates lookups and bulk batches:
  4-query and 512-query ``search_bm25_wand(idx, q, 10)`` calls.
- ``append-mix``: writes beside reads on a transaction-log index of the
  dense source-code corpus, built and committed in set-up. Each step is
  one ``append_batch_txn`` of 500 new docs, then ``load_index_txn`` and
  a 4-query lookup whose terms come from the batch just appended.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import corpora
from harness import Tracer, Workspace, dir_bytes, median, p90, plan_metric_sums

K = 10
LOOKUP_QUERIES = 4
PROBE_DOCS = 500  # docs the Spark-free tokenizer probe times
PYTHON_BYTES = ("pythonDataSent", "pythonDataReceived")

SIZES = {
    "zipf-serve": {
        "full": {"n_docs": 3000, "span": 256, "bulk": 512},
        "tiny": {"n_docs": 1200, "span": 128, "bulk": 64},
    },
    "append-mix": {
        "full": {"n_docs": 2000, "span": 512, "batch": 500, "max_steps": 6},
        "tiny": {"n_docs": 800, "span": 256, "batch": 100, "max_steps": 2},
    },
}


@dataclass
class Ctx:
    spark: object
    ws: Workspace
    tracer: Tracer
    seed: int
    seconds: float
    size: dict
    cpus: int
    t0: float  # set-up start, before the session started


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)     # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    detail: dict = field(default_factory=dict)

    def attempt(self, fn: Callable, what: str):
        """Run one operation; a raised error counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None


def _cfg():
    from textsearch_spark.config import TextConfig

    return TextConfig(nlist=[1])


class QueryMaker:
    """Seeded 3-word windows of document text, numbered from 1. A fixed
    width keeps the work per query from varying with the seed."""

    def __init__(self, seed: int, stream: int):
        self.rng = np.random.default_rng([seed, stream])
        self.next_id = 1

    def make(self, texts: list, n: int) -> list:
        out = []
        for _ in range(n):
            words = texts[int(self.rng.integers(len(texts)))].split()
            start = int(self.rng.integers(max(1, len(words) - 3)))
            out.append((self.next_id, " ".join(words[start:start + 3])))
            self.next_id += 1
        return out


def query_df(spark, rows: list):
    return spark.createDataFrame(rows, "query_id long, qtext string")


# ------------------------------------------------------------ WAND calls

@dataclass
class WandCall:
    rows: list
    total_s: float
    prepare_s: float
    execute_s: float
    n_queries: int
    counts: dict = field(default_factory=dict)  # traced runs only


def wand_call(ctx: Ctx, idx, rows: list, name: str) -> WandCall:
    """One ``search_bm25_wand(idx, q, 10)`` call plus its ``collect()``.
    Traced runs pass a WandCounters and read the call's Spark jobs,
    shuffle bytes and Python-worker bytes."""
    from textsearch_spark.operators.wand import WandCounters, search_bm25_wand

    tr = ctx.tracer
    qdf = query_df(ctx.spark, rows)
    counters = WandCounters(ctx.spark) if tr.enabled else None
    with tr.span(name, jobs=True) as sp:
        with tr.span("wand.prepare", parent=sp) as pp:
            res = search_bm25_wand(idx, qdf, K, counters=counters)
        with tr.span("wand.execute", parent=sp) as ep:
            out = res.collect()
    call = WandCall(out, sp.dur, pp.dur, ep.dur, len(rows))
    if tr.enabled:
        py = plan_metric_sums(res, PYTHON_BYTES)
        call.counts = {
            "jobs": len(tr.jobs(sp)),
            "shuffle_bytes": tr.shuffle_write_bytes(sp),
            "python_bytes": sum(py.values()),
            **counters.as_dict(),
        }
    return call


def wand_layers(lookups: list, prefix: list) -> dict:
    """wand.* per-layer metrics. Times are medians over every lookup;
    counts come from ``prefix``, the fixed first calls of the loop, so
    they repeat exactly for a given seed."""
    looks = [c for c in prefix if c.n_queries == LOOKUP_QUERIES]
    nq = sum(c.n_queries for c in prefix)
    scored = sum(c.counts["ranges_scored"] for c in prefix)
    pruned = sum(c.counts["ranges_pruned"] for c in prefix)
    return {
        "wand.prepare_s": (median([c.prepare_s for c in lookups]), "s"),
        "wand.execute_s": (median([c.execute_s for c in lookups]), "s"),
        "wand.spark_jobs_per_call": (sum(c.counts["jobs"] for c in looks) / len(looks), "count"),
        "wand.shuffle_bytes_per_call": (sum(c.counts["shuffle_bytes"] for c in looks) / len(looks), "B"),
        "wand.python_bytes_per_call": (sum(c.counts["python_bytes"] for c in looks) / len(looks), "B"),
        "wand.blocks_decoded_per_query": (sum(c.counts["blocks_decoded"] for c in prefix) / nq, "count"),
        "wand.block_rows_per_query": (sum(c.counts["block_rows"] for c in prefix) / nq, "count"),
        "wand.ranges_pruned_frac": (pruned / (scored + pruned) if scored + pruned else 0.0, "ratio"),
    }


# ------------------------------------------------------ correctness gate

def _rankings(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def gate(ctx: Ctx, res: Result, idx, wand_rows: list, qrows: list, what: str) -> None:
    """Untimed: every query in ``qrows`` must rank identically under the
    naive scorer (same doc ids in the same order, scores within 1e-9)."""
    from textsearch_spark.operators.search import search_bm25

    naive = res.attempt(lambda: search_bm25(idx, query_df(ctx.spark, qrows), K).collect(),
                        f"{what} naive search")
    if naive is None:
        return
    got, want = _rankings(wand_rows), _rankings(naive)
    bad = 0
    for qid, _text in qrows:
        a, b = got.get(qid, []), want.get(qid, [])
        # every query is drawn from indexed text, so it must match
        same = bool(b) and [d for d, _ in a] == [d for d, _ in b] and all(
            abs(x - y) <= 1e-9 * max(1.0, abs(y)) for (_, x), (_, y) in zip(a, b))
        bad += not same
    res.attempted += len(qrows)
    res.failed += bad
    res.detail[f"gate_{what}"] = {"queries": len(qrows), "mismatched": bad}


# ------------------------------------------------------ per-layer probes

def tokenizer_layers(texts: list) -> dict:
    from textsearch_spark.functions.tokenizer import tokenize

    cfg = _cfg()
    times, n_tokens = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        n_tokens = sum(len(tokenize(cfg, t)) for t in texts)
        times.append(time.perf_counter() - t0)
    return {"tokenizer.docs_per_s": (len(texts) / median(times), "1/s"),
            "tokenizer.tokens_per_doc": (n_tokens / len(texts), "tokens/doc")}


def codec_layers(blocks) -> dict:
    """Decode then re-encode the 400 largest blocks of the index."""
    from pyspark.sql import functions as F

    from textsearch_spark.functions.codec import decode_block, encode_block

    blobs = [bytes(r.blob) for r in blocks.orderBy(F.desc("n"), "token", "block_id")
             .select("blob").limit(400).collect()]
    dec_t, enc_t, n = [], [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        decoded = [decode_block(b) for b in blobs]
        t1 = time.perf_counter()
        for d, tf, dl in decoded:
            encode_block(d, tf, dl)
        enc_t.append(time.perf_counter() - t1)
        dec_t.append(t1 - t0)
        n = sum(len(d) for d, _, _ in decoded)
    return {"codec.decode_postings_per_s": (n / median(dec_t), "1/s"),
            "codec.encode_postings_per_s": (n / median(enc_t), "1/s")}


def bow_layers(ctx: Ctx, docs) -> dict:
    from textsearch_spark.functions.udfs import bow_long

    with ctx.tracer.span("udfs.bow") as sp:
        n = bow_long(docs, _cfg(), text_col="content").count()
    return {"udfs.bow_s": (sp.dur, "s"), "udfs.bow_rows": (n, "count")}


def build_index(ctx: Ctx, docs, span: int):
    """The program's bulk build: ``build_bm25_index_direct`` then the
    blocks materialized (cached)."""
    from textsearch_spark.plans.build import build_bm25_index_direct

    tr = ctx.tracer
    with tr.span("build.build", jobs=True) as bp:
        idx = build_bm25_index_direct(docs, _cfg(), text_col="content", span=span)
    with tr.span("postings.blocks", jobs=True) as kp:
        block_rows = idx.blocks.count()
    layers = {"build.build_s": (bp.dur, "s"), "postings.blocks_s": (kp.dur, "s"),
              "postings.block_rows": (block_rows, "count")}
    if tr.enabled:
        from pyspark.sql import functions as F

        agg = idx.blocks.agg(F.sum(F.length("blob")), F.sum("n")).collect()[0]
        layers["postings.shuffle_bytes"] = (tr.shuffle_write_bytes(kp), "B")
        layers["postings.bytes_per_posting"] = (agg[0] / agg[1], "B")
    return idx, layers


def _data_dirs(index_dir: str) -> set:
    from textsearch_spark.sources.txnlog import DATA_DIR

    out = set()
    for table in ("blocks", "postings", "doclens"):
        d = os.path.join(index_dir, DATA_DIR, table)
        if os.path.isdir(d):
            out |= {os.path.join(d, x) for x in os.listdir(d)}
    return out


def txn_append(ctx: Ctx, index_dir: str, batch_path: str, batch_bytes: int):
    """One committed ``append_batch_txn`` (ids assigned by the program)."""
    from textsearch_spark.sources.txnlog import append_batch_txn

    before = _data_dirs(index_dir)
    with ctx.tracer.span("txnlog.append", jobs=True) as sp:
        m = append_batch_txn(ctx.spark, index_dir,
                             ctx.spark.read.parquet(batch_path).select("content"),
                             text_col="content")
    written = sum(dir_bytes(d) for d in _data_dirs(index_dir) - before)
    return m, sp.dur, written / batch_bytes


def txn_load(ctx: Ctx, index_dir: str):
    from textsearch_spark.sources.txnlog import load_index_txn, snapshot

    with ctx.tracer.span("txnlog.load", jobs=True) as sp:
        idx = load_index_txn(ctx.spark, index_dir)
    return idx, sp.dur, len(snapshot(index_dir)["blocks"])


def txn_compact(ctx: Ctx, index_dir: str) -> dict:
    from textsearch_spark.sources.txnlog import compact_index_txn

    before = _data_dirs(index_dir)
    with ctx.tracer.span("txnlog.compact", jobs=True) as sp:
        compact_index_txn(ctx.spark, index_dir)
    rewritten = sum(dir_bytes(d) for d in _data_dirs(index_dir) - before)
    return {"txnlog.compact_s": (sp.dur, "s"),
            "txnlog.compact_bytes_rewritten": (rewritten, "B")}


def txn_save(ctx: Ctx, idx, index_dir: str, content_bytes: int) -> dict:
    from textsearch_spark.sources.txnlog import LOG_DIR, save_index_txn

    with ctx.tracer.span("txnlog.save", jobs=True) as sp:
        save_index_txn(idx, index_dir)
    # table bytes; the log's JSON entries carry commit timestamps
    written = dir_bytes(index_dir) - dir_bytes(os.path.join(index_dir, LOG_DIR))
    return {"txnlog.save_s": (sp.dur, "s"), "txnlog.bytes_written": (written, "B"),
            "txnlog.bytes_per_content_byte": (written / content_bytes, "B/B")}


# ------------------------------------------------------------ zipf-serve

def zipf_serve(ctx: Ctx) -> Result:
    sz, res, tr = ctx.size, Result(), ctx.tracer
    docs_pd = corpora.zipf_docs(ctx.seed, sz["n_docs"])
    content_bytes = corpora.write_parquet(docs_pd, ctx.ws.path("zipf"), 2 * ctx.cpus)
    texts = docs_pd["content"].tolist()
    docs = ctx.spark.read.parquet(ctx.ws.path("zipf"))
    idx, layers = build_index(ctx, docs, sz["span"])
    qm = QueryMaker(ctx.seed, 0x5E)
    # warm-up: the first calls pay one-time costs (codegen, Python worker
    # start, JIT) that belong in set-up
    for n in (LOOKUP_QUERIES, sz["bulk"], LOOKUP_QUERIES):
        wand_call(ctx, idx, qm.make(texts, n), "warmup")
    setup_s = time.perf_counter() - ctx.t0

    cycle = (LOOKUP_QUERIES, sz["bulk"])
    lookups, bulks, calls = [], [], []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < len(cycle) or time.perf_counter() < deadline:
        n = cycle[i % len(cycle)]
        rows = qm.make(texts, n)
        kind = "lookup" if n == LOOKUP_QUERIES else "bulk"
        call = res.attempt(lambda: wand_call(ctx, idx, rows, kind), kind)
        if call is not None:
            (lookups if kind == "lookup" else bulks).append(call)
            if i < len(cycle):
                calls.append((call, rows))
        i += 1

    # gate: the first lookup plus every 64th query of the first bulk
    if len(calls) == len(cycle):
        gate_q = calls[0][1] + calls[1][1][::64]
        wand_rows = [r for c, _ in calls for r in c.rows]
        gate(ctx, res, idx, wand_rows, gate_q, "serving_index")
    else:
        res.failed += 1

    res.e2e = {
        "setup_s": (setup_s, "s"),
        "lookup_p50_s": (median([c.total_s for c in lookups]), "s"),
        "batch_p50_s": (median([c.total_s for c in bulks]), "s"),
    }
    res.detail.update({
        "lookup_s": [c.total_s for c in lookups], "bulk_s": [c.total_s for c in bulks],
        "lookup_p90_s": p90([c.total_s for c in lookups]),
        "bulk_qps": sz["bulk"] / median([c.total_s for c in bulks]),
    })
    if tr.enabled:
        layers.update(wand_layers(lookups, [c for c, _ in calls]))
        layers.update(tokenizer_layers(texts[:PROBE_DOCS]))
        layers.update(codec_layers(idx.blocks))
        layers.update(bow_layers(ctx, docs))
        # lifecycle probe on the serving index: commit, append one
        # batch, load, compact (zipf-serve itself never writes)
        index_dir = ctx.ws.path("zipf-index")
        layers.update(txn_save(ctx, idx, index_dir, content_bytes))
        batch = corpora.zipf_docs(ctx.seed + 1, 500, first_id=sz["n_docs"] + 1)
        batch_bytes = corpora.write_parquet(batch, ctx.ws.path("zipf-batch"), 2, with_doc_id=False)
        _m, append_s, ratio = txn_append(ctx, index_dir, ctx.ws.path("zipf-batch"), batch_bytes)
        layers["txnlog.append_s"] = (append_s, "s")
        layers["txnlog.append_bytes_per_content_byte"] = (ratio, "B/B")
        _idx, load_s, live = txn_load(ctx, index_dir)
        layers["txnlog.load_s"] = (load_s, "s")
        layers["txnlog.live_block_dirs"] = (live, "count")
        layers.update(txn_compact(ctx, index_dir))
    res.layers = layers
    return res


# ------------------------------------------------------------ append-mix

@dataclass
class Step:
    metrics: dict       # what append_batch_txn returned
    append_s: float
    bytes_per_content_byte: float
    fresh_s: float      # load_index_txn + lookup
    load_s: float
    live_block_dirs: int
    call: WandCall
    snapshot: object
    queries: list


def append_mix(ctx: Ctx) -> Result:
    from textsearch_spark.sources.txnlog import high_water_mark_txn

    sz, res, tr = ctx.size, Result(), ctx.tracer
    base_pd = corpora.code_docs(ctx.seed, sz["n_docs"])
    content_bytes = corpora.write_parquet(base_pd, ctx.ws.path("base"), 2 * ctx.cpus)
    # batch 0 is the set-up warm-up append; the loop uses 1..max_steps
    batches = []
    for b in range(sz["max_steps"] + 1):
        pdf = corpora.code_docs(ctx.seed, sz["batch"], first_id=(b + 1) * 10**7)
        path = ctx.ws.path(f"batch-{b}")
        batches.append((path, corpora.write_parquet(pdf, path, 2, with_doc_id=False),
                        pdf["content"].tolist()))
    docs = ctx.spark.read.parquet(ctx.ws.path("base"))
    idx, layers = build_index(ctx, docs, sz["span"])
    index_dir = ctx.ws.path("index")
    layers.update(txn_save(ctx, idx, index_dir, content_bytes))
    ctx.spark.catalog.clearCache()  # steps read the store, not the build's cache
    qm = QueryMaker(ctx.seed, 0xA9)

    def step(b: int) -> Step:
        path, nbytes, texts = batches[b]
        m, append_s, ratio = txn_append(ctx, index_dir, path, nbytes)
        rows = qm.make(texts, LOOKUP_QUERIES)
        with tr.span("fresh_query") as fq:
            snap, load_s, live = txn_load(ctx, index_dir)
            call = wand_call(ctx, snap, rows, "lookup")
        return Step(m, append_s, ratio, fq.dur, load_s, live, call, snap, rows)

    step(0)
    setup_s = time.perf_counter() - ctx.t0

    steps = []
    deadline = time.perf_counter() + ctx.seconds
    for b in range(1, sz["max_steps"] + 1):
        if steps and time.perf_counter() >= deadline:
            break
        out = res.attempt(lambda: step(b), f"append step {b}")
        if out is None:
            break  # later batches would append above a stale high-water mark
        steps.append(out)
        if b == 1 and tr.enabled:
            # a fixed state for the traced compaction: base + 2 appends
            shutil.copytree(index_dir, ctx.ws.path("index-copy"))

    # gate on the final post-append snapshot: the high-water mark, and
    # rank parity of the last step's lookup (terms from the last batch)
    res.attempted += 1
    hwm = high_water_mark_txn(index_dir)
    want = sz["n_docs"] + sz["batch"] * (len(steps) + 1)
    if hwm != want:
        res.failed += 1
        print(f"perfbench: high-water mark {hwm} != {want}", file=sys.stderr)
    res.detail["high_water_mark"] = hwm
    if steps:
        last = steps[-1]
        gate(ctx, res, last.snapshot, last.call.rows, last.queries, "post_append_snapshot")

    appends = [s.append_s for s in steps]
    fresh = [s.fresh_s for s in steps]
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "lookup_p50_s": (median(fresh), "s"),
        "batch_p50_s": (median(appends), "s"),
    }
    res.detail.update({
        "append_s": appends, "fresh_query_s": fresh,
        "compactions_in_loop": sum("compaction" in s.metrics for s in steps),
        "fresh_query_p90_s": p90(fresh),
        "append_p90_s": p90(appends),
    })
    if tr.enabled:
        first = steps[0]
        layers["txnlog.append_s"] = (median(appends), "s")
        layers["txnlog.append_bytes_per_content_byte"] = (first.bytes_per_content_byte, "B/B")
        layers["txnlog.load_s"] = (median([s.load_s for s in steps]), "s")
        layers["txnlog.live_block_dirs"] = (first.live_block_dirs, "count")
        layers.update(wand_layers([s.call for s in steps], [first.call]))
        layers.update(tokenizer_layers(base_pd["content"].tolist()[:PROBE_DOCS]))
        from textsearch_spark.sources.txnlog import load_index_txn, log_history_txn

        init_seq = log_history_txn(index_dir)[0]["seq"]
        layers.update(codec_layers(load_index_txn(ctx.spark, index_dir, at_seq=init_seq).blocks))
        layers.update(bow_layers(ctx, docs))
        layers.update(txn_compact(ctx, ctx.ws.path("index-copy")))
    res.layers = layers
    return res


WORKLOADS = {"zipf-serve": zipf_serve, "append-mix": append_mix}
