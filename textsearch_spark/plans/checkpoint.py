"""Resumable, manifest-tracked index builds.

The north rule requires builds resumable from per-partition checkpoints
with lineage and metrics per posting shard. Implementation:

- each build stage (stats -> postings -> doclens -> vocab -> blocks)
  writes its output table, then a JSON manifest under
  ``<index_dir>/_manifests/<stage>.json`` containing: the stage's
  input lineage (parent stages + source fingerprint), per-shard row
  counts and key ranges (one entry per output partition), wall-clock
  metrics, and a completion marker;
- a re-run fingerprints the source + config; stages whose manifest
  matches are skipped and their tables reused — idempotent resume
  after a mid-build failure;
- the per-row content invariant (sha256 of the document body vs the
  source table) is recorded at ingest and re-checkable any time via
  ``verify_content_integrity``.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25Params, TextConfig
from ..operators.postings import (
    BLOCKS_FORMAT,
    DEFAULT_BLOCK_SPAN,
    build_posting_blocks,
    validate_blocks_schema,
)
from ..plans.build import BM25Index, build_bm25_index
from ..sources.io import content_sha_column, load_index, save_index

_MANIFEST_DIR = "_manifests"


def _manifest_path(index_dir: str, stage: str) -> str:
    return os.path.join(index_dir, _MANIFEST_DIR, f"{stage}.json")


def _shard_stats(df: DataFrame, key: str) -> list[dict]:
    """Per-output-shard lineage row: partition id, row count, key range."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("shard"))
        .agg(
            F.count("*").alias("rows"),
            F.min(key).alias("key_min"),
            F.max(key).alias("key_max"),
        )
        .collect()
    )
    return [
        {"shard": r.shard, "rows": r.rows, "key_min": str(r.key_min), "key_max": str(r.key_max)}
        for r in sorted(rows, key=lambda r: r.shard)
    ]


def write_manifest(index_dir: str, stage: str, *, fingerprint: str, parents: list[str],
                   shards: list[dict], metrics: dict) -> None:
    os.makedirs(os.path.join(index_dir, _MANIFEST_DIR), exist_ok=True)
    doc = {
        "stage": stage,
        "fingerprint": fingerprint,
        "lineage": {"parents": parents},
        "shards": shards,
        "metrics": metrics,
        "completed_at": time.time(),
        "complete": True,
    }
    tmp = _manifest_path(index_dir, stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(index_dir, stage))


def read_manifest(index_dir: str, stage: str) -> Optional[dict]:
    p = _manifest_path(index_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        doc = json.load(f)
    return doc if doc.get("complete") else None


def source_fingerprint(df: DataFrame, cfg: TextConfig, extra: str = "") -> str:
    """Cheap deterministic fingerprint of (source rows, config): row
    count + xor/sum of per-row sha64 prefixes — an order-insensitive
    content digest computed in one distributed pass."""
    sha = F.conv(F.substring(F.sha2(F.to_json(F.struct(*df.columns)), 256), 1, 15), 16, 10).cast("decimal(38,0)")
    agg = df.agg(F.count("*").alias("n"), F.sum(sha).alias("s")).collect()[0]
    return f"{agg.n}:{agg.s}:{cfg.to_json()}:{extra}"


def build_bm25_index_checkpointed(
    df: DataFrame,
    cfg: TextConfig,
    index_dir: str,
    *,
    doc_col: str = "doc_id",
    text_col: str = "text",
    vocab_filter: Optional[str] = None,
    params: BM25Params = BM25Params(),
    block_span: int = DEFAULT_BLOCK_SPAN,
    postings_partitions: Optional[int] = None,
    fingerprint: Optional[str] = None,
) -> BM25Index:
    """Build (or resume) a persisted index at ``index_dir``.

    Stages: ``index`` (vocab+postings+doclens+meta via save_index) then
    ``blocks``. On resume, a stage with a matching complete manifest is
    loaded from its parquet instead of recomputed.
    """
    spark = df.sparkSession
    fp = fingerprint or source_fingerprint(df, cfg, extra=f"{vocab_filter}|{params}")

    m = read_manifest(index_dir, "index")
    if m and m["fingerprint"] == fp:
        index = load_index(spark, index_dir)
    else:
        t0 = time.time()
        index = build_bm25_index(
            df, cfg, doc_col=doc_col, text_col=text_col,
            vocab_filter=vocab_filter, params=params,
        )
        save_index(index, index_dir, postings_partitions=postings_partitions)
        index = load_index(spark, index_dir)  # re-root on the persisted tables
        write_manifest(
            index_dir, "index", fingerprint=fp, parents=["source"],
            shards=_shard_stats(index.postings, "token"),
            metrics={
                "n_docs": index.n_docs, "avgdl": index.avgdl,
                "build_sec": time.time() - t0,
                "postings_rows": index.postings.count(),
                "vocab_size": index.vocab.count(),
            },
        )

    mb = read_manifest(index_dir, "blocks")
    blocks_path = os.path.join(index_dir, "blocks")
    # the blocks stage has its own fingerprint: block_span and the block
    # format version are part of the stage's identity, so changing either
    # rebuilds instead of silently reusing a stale/incompatible table
    fp_blocks = f"{fp}|span={block_span}|blocks_format={BLOCKS_FORMAT}"
    if mb and mb["fingerprint"] == fp_blocks and os.path.isdir(blocks_path):
        blocks = spark.read.parquet(blocks_path)
        validate_blocks_schema(blocks, where=f"checkpointed blocks at {blocks_path}")
    else:
        t0 = time.time()
        blocks = build_posting_blocks(index.postings, index.bm25, span=block_span)
        (
            blocks.repartition("token").sortWithinPartitions("token", "block_id")
            .write.mode("overwrite").parquet(blocks_path)
        )
        blocks = spark.read.parquet(blocks_path)
        write_manifest(
            index_dir, "blocks", fingerprint=fp_blocks, parents=["index"],
            shards=_shard_stats(blocks, "token"),
            metrics={"blocks_sec": time.time() - t0, "block_rows": blocks.count(),
                     "span": block_span, "blocks_format": BLOCKS_FORMAT},
        )

    index.blocks = blocks
    index.span = block_span
    return index


def verify_content_integrity(source: DataFrame, snapshot: DataFrame, *,
                             doc_col: str = "doc_id", text_col: str = "text") -> int:
    """Per-row sha256(content) equality vs the source table (the
    input_hint invariant). ``snapshot`` must carry (doc_col,
    content_sha). Returns the number of mismatching rows (0 == intact)."""
    src = source.select(F.col(doc_col), content_sha_column(text_col).alias("__src_sha"))
    j = snapshot.select(doc_col, "content_sha").join(src, doc_col, "full")
    return j.filter(
        F.col("content_sha").isNull()
        | F.col("__src_sha").isNull()
        | (F.col("content_sha") != F.col("__src_sha"))
    ).count()
