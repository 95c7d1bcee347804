"""spark-submit entry point.

    spark-submit --py-files textsearch_spark.zip -m textsearch_spark.cli build \
        --input /data/code_files --text-col content --index /indexes/code \
        --vocab-filter "ndocs > 1" --block-span 4096
    spark-submit ... search --index /indexes/code --queries /data/queries.parquet \
        --k 10 --output /results/topk --engine wand

``build`` is checkpointed/resumable (plans/checkpoint.py); ``search``
loads the persisted index and runs either scorer.
"""

from __future__ import annotations

import argparse


def main(argv=None):
    ap = argparse.ArgumentParser(prog="textsearch_spark")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="Spark conf applied to the session builder "
                         "(repeatable, spark-submit semantics). E.g. "
                         "--conf spark.sql.catalogImplementation=hive for a "
                         "persistent local metastore, or --conf "
                         "spark.sql.catalog.lake=org.apache.iceberg.spark."
                         "SparkCatalog to register the catalog backend's "
                         "production target")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) a BM25 index")
    b.add_argument("--input", required=True, help="parquet/Iceberg path of the corpus")
    b.add_argument("--index", required=True, help="output index directory")
    b.add_argument("--doc-col", default="doc_id")
    b.add_argument("--text-col", default="text")
    b.add_argument("--textconfig", default=None, help="TextConfig JSON")
    b.add_argument("--vocab-filter", default=None)
    b.add_argument("--block-span", type=int, default=4096)
    b.add_argument("--assign-doc-ids", action="store_true",
                   help="derive stable doc ids from (repo, path, commit)")
    b.add_argument("--backend", choices=["rename", "txnlog", "catalog"],
                   default="rename",
                   help="rename = checkpointed/resumable POSIX layout; txnlog = "
                        "object-store-safe log layout (the init commit makes the "
                        "whole build atomic: a crashed build leaves only "
                        "unreachable data dirs, re-run from scratch); catalog = "
                        "spark.catalog tables (--index is a table-name prefix, "
                        "e.g. lake.db.myidx — V2 writeTo on a configured "
                        "Iceberg/Delta catalog)")

    a = sub.add_parser("append", help="append new docs into an existing index "
                                      "(append_items! semantics: frozen vocab/constants)")
    a.add_argument("--input", required=True, help="parquet path of the new docs")
    a.add_argument("--index", required=True)
    a.add_argument("--text-col", default="text")
    a.add_argument("--doc-col", default=None,
                   help="pre-assigned id column (must exceed the high-water mark); "
                        "default auto-assigns")
    a.add_argument("--backend", choices=["rename", "txnlog", "catalog"],
                   default="rename",
                   help="rename = POSIX atomic-rename protocol (local/NFS); "
                        "txnlog = transaction-log layout whose only primitive "
                        "is create-if-absent (object stores); catalog = "
                        "spark.catalog tables (--index is a table-name prefix)")

    c = sub.add_parser("compact", help="fold committed appends into the base "
                                       "tables (plans/maintenance.compact_index)")
    c.add_argument("--index", required=True)
    c.add_argument("--backend", choices=["rename", "txnlog", "catalog"],
                   default="rename")
    c.add_argument("--vacuum", action="store_true",
                   help="also reclaim dead storage after the compaction. "
                        "txnlog: delete data dirs superseded by checkpoints "
                        "— only safe with no readers on older snapshots "
                        "(see --vacuum-min-age). catalog: rewrite "
                        "crashed-append orphan rows (never published, "
                        "invisible to every reader) out of the stamped "
                        "tables — always safe on a V2/staging catalog, "
                        "single-writer on V1")
    c.add_argument("--vacuum-min-age", type=float, default=86400.0,
                   help="(txnlog) retention window in seconds: vacuum only "
                        "deletes unreferenced dirs untouched this long, so "
                        "in-flight writers' staging survives (default 24h; "
                        "0 = reclaim everything unreferenced NOW)")
    c.add_argument("--checkpoint", action="store_true",
                   help="(txnlog) also write a log checkpoint after the "
                        "compaction (folds become O(entries since it); the "
                        "older log prefix becomes prunable)")
    c.add_argument("--vacuum-log", action="store_true",
                   help="(txnlog) also prune log entries superseded by the "
                        "last checkpoint and older than --vacuum-min-age")

    s = sub.add_parser("search", help="top-k BM25 search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True, help="parquet with (query_id, qtext)")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--engine", choices=["wand", "naive"], default="wand")
    s.add_argument("--output", required=True)
    s.add_argument("--backend", choices=["rename", "txnlog", "catalog"],
                   default="rename")
    s.add_argument("--at-seq", type=int, default=None,
                   help="(txnlog) time travel: serve the index as of this "
                        "committed log seq (see `history`)")
    s.add_argument("--as-of", type=float, default=None,
                   help="(catalog) time travel: serve the index as of this "
                        "committed_at timestamp (see `history`)")

    h = sub.add_parser("history", help="list the index's committed snapshots "
                                       "(time-travel targets)")
    h.add_argument("--index", required=True)
    h.add_argument("--backend", choices=["txnlog", "catalog"], default="txnlog")

    args = ap.parse_args(argv)

    # time-travel flags are backend-specific: reject rather than
    # silently serve the latest snapshot under a flag the user set
    if args.cmd == "search":
        if args.at_seq is not None and args.backend != "txnlog":
            ap.error("--at-seq requires --backend txnlog")
        if args.as_of is not None and args.backend != "catalog":
            ap.error("--as-of requires --backend catalog")

    from pyspark.sql import SparkSession

    from .config import TextConfig

    builder = SparkSession.builder
    for kv in args.conf:
        k, sep, v = kv.partition("=")
        if not sep or not k:
            ap.error(f"--conf expects KEY=VALUE, got {kv!r}")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    if args.cmd == "build":
        from .plans.checkpoint import build_bm25_index_checkpointed
        from .sources.corpus import with_doc_ids

        df = spark.read.parquet(args.input)
        if args.assign_doc_ids:
            df = with_doc_ids(df)
        cfg = TextConfig.from_json(args.textconfig) if args.textconfig else TextConfig(nlist=[1])
        if args.backend in ("txnlog", "catalog"):
            from .operators.postings import build_posting_blocks
            from .plans.build import build_bm25_index

            idx = build_bm25_index(df, cfg, doc_col=args.doc_col,
                                   text_col=args.text_col,
                                   vocab_filter=args.vocab_filter)
            idx.blocks = build_posting_blocks(idx.postings, idx.bm25, span=args.block_span)
            idx.span = args.block_span
            if args.backend == "txnlog":
                from .sources.txnlog import save_index_txn

                save_index_txn(idx, args.index)
            else:
                from .sources.catalog import save_index_catalog

                save_index_catalog(idx, args.index)
        else:
            idx = build_bm25_index_checkpointed(
                df, cfg, args.index,
                doc_col=args.doc_col, text_col=args.text_col,
                vocab_filter=args.vocab_filter, block_span=args.block_span,
            )
        print(f"index at {args.index}: n_docs={idx.n_docs} avgdl={idx.avgdl:.3f}")
    elif args.cmd == "append":
        df = spark.read.parquet(args.input)
        if args.backend == "txnlog":
            from .sources.txnlog import append_batch_txn as do_append
        elif args.backend == "catalog":
            from .sources.catalog import append_batch_catalog as do_append
        else:
            from .streaming.append import append_batch_to_index as do_append
        m = do_append(spark, args.index, df,
                      doc_col=args.doc_col, text_col=args.text_col)
        print(f"appended {m['n_docs_appended']} docs from id {m['first_doc']} "
              f"in {m['append_sec']}s")
    elif args.cmd == "history":
        if args.backend == "txnlog":
            from .sources.txnlog import log_history_txn

            rows = log_history_txn(args.index)
        else:
            from .sources.catalog import log_history_catalog

            rows = log_history_catalog(spark, args.index)
        import json as _json

        for r in rows:
            print(_json.dumps(r, sort_keys=True, default=str))
    elif args.cmd == "compact":
        if args.backend == "catalog":
            from .sources.catalog import compact_index_catalog, vacuum_catalog

            m = compact_index_catalog(spark, args.index)
            print(f"rewrote blocks table ({m['n_block_rows']} rows) "
                  f"in {m['compact_sec']}s")
            if args.vacuum:
                removed = vacuum_catalog(spark, args.index)
                print(f"vacuumed orphan rows: {removed}")
        elif args.backend == "txnlog":
            from .sources.txnlog import compact_index_txn, vacuum_txn

            m = compact_index_txn(spark, args.index)
            if m.get("skipped"):
                print("nothing to compact")
            else:
                print(f"folded {m['appends_folded']} appends in {m['compact_sec']}s")
            if args.checkpoint:
                from .sources.txnlog import checkpoint_txn

                e = checkpoint_txn(args.index)
                print(f"log checkpoint committed at seq {e['seq']}")
            if args.vacuum:
                n = len(vacuum_txn(args.index, min_age_sec=args.vacuum_min_age))
                print(f"vacuumed {n} superseded data dirs")
            if args.vacuum_log:
                from .sources.txnlog import vacuum_log_txn

                n = len(vacuum_log_txn(args.index,
                                       min_age_sec=args.vacuum_min_age))
                print(f"pruned {n} checkpointed log entries")
        else:
            from .plans.maintenance import compact_index

            m = compact_index(spark, args.index)
            if m.get("skipped"):
                print("nothing to compact")
            else:
                print(f"folded {m['appends_folded']} appends; fragmented block rows "
                      f"{m['fragment_extra_rows_before']} -> {m['fragment_extra_rows_after']} "
                      f"in {m['compact_sec']}s")
    else:
        from .operators.search import search_bm25
        from .operators.wand import search_bm25_wand

        if args.backend == "txnlog":
            from .sources.txnlog import load_index_txn

            idx = load_index_txn(spark, args.index, at_seq=args.at_seq)
        elif args.backend == "catalog":
            from .sources.catalog import load_index_catalog

            idx = load_index_catalog(spark, args.index, as_of=args.as_of)
        else:
            from .sources.io import load_index

            idx = load_index(spark, args.index)
        queries = spark.read.parquet(args.queries)
        fn = search_bm25_wand if args.engine == "wand" else search_bm25
        fn(idx, queries, args.k).write.mode("overwrite").parquet(args.output)
        print(f"results at {args.output}")


if __name__ == "__main__":
    main()
