"""spark-submit entry point: incremental tail of a growing transcript dir.

The `tail` command analog — the reference's FLAGSHIP — with its full option
battery (TailCommand.java:74-123, per-row path :552-773): drain everything
currently available (Trigger.AvailableNow), maintain the cumulative
per-(ns,op) accumulator, per-id statistics, threshold side-output, and dump
sink across drains via the stream checkpoint + merge-safe partials, print
the reports.  Re-running resumes exactly (T8 — the extension the reference
lacks); resuming with different accumulator-defining options raises (the
configuration is pinned in work_dir/tail_meta.json).

  spark-submit --py-files dist/oplog_analyzer_spark.zip jobs/run_tail.py \
    --input <dir> --work-dir <dir> \
    [--ns a.b,c.d] [--ops i,u] [--min-size N] [--max-size N] \
    [--threshold N [--full-document]] [--shard-index 0,2] [--shards N] \
    [--dump [--dump-with-shard]] \
    [--id-stats [--id-stats-threshold N] [--top-ids K] [--doc-sizes <dir>]] \
    [--buckets 1000,10000] [--lag-wallclock "ts"] \
    [--continuous [--processing-time "5 seconds"] [--heartbeat-sec 30] \
     [--stop-file <path>]]

``--continuous`` is the reference's actual runtime behavior: block forever
polling for new entries, report on a heartbeat, and drain gracefully on
SIGINT/SIGTERM or the stop file (``streaming/microbatch.py::run_cli``).
Without it, one AvailableNow drain runs (the resumable incremental-batch
form certified by the driver rows).
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    from oplog_analyzer_spark.streaming.microbatch import parse_stream_args, run_cli

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--ns", help="comma-separated namespace include-list (F2, "
                    "--includeNamespace)")
    ap.add_argument("--ops", help="comma-separated op include-list (F3, --op)")
    ap.add_argument("--min-size", type=int, help="F4 (--minSize)")
    ap.add_argument("--max-size", type=int, help="F4 (--maxSize)")
    ap.add_argument(
        "--threshold", type=int,
        help="F5: cumulative side-output report of ops >= this size (the "
        "reference's -t/--threshold); flagged rows stay in the main "
        "accumulator",
    )
    ap.add_argument(
        "--full-document", action="store_true",
        help="with --threshold: also dump the raw over-threshold rows "
        "(--fullDocument analog, TailCommand.java:86-88)",
    )
    ap.add_argument(
        "--shard-index",
        help="F8: comma-separated shard ids in the synthesized 0..shards-1 "
        "space (--shardIndex; resolved once, like the reference's "
        "startup-time resolution, TailCommand.java:966-989)",
    )
    ap.add_argument(
        "--shards", type=int, default=4,
        help="synthesize shard = xxhash(conv_id) %% N",
    )
    ap.add_argument(
        "--dump", action="store_true",
        help="S6: write the filtered rows to <work-dir>/dump, one "
        "replay-idempotent partition per micro-batch (-d/--dump analog)",
    )
    ap.add_argument(
        "--dump-with-shard", action="store_true",
        help="partition each batch's dump by shard (--dumpWithShard analog)",
    )
    ap.add_argument(
        "--id-stats", action="store_true",
        help="A5/A6: maintain cumulative per-id statistics across "
        "micro-batches (--idStats)",
    )
    ap.add_argument(
        "--id-stats-threshold", type=int, default=0,
        help="F6: only rows >= this size enter id statistics "
        "(--idStatsThreshold; independent of --threshold — the "
        "two-threshold system)",
    )
    ap.add_argument("--top-ids", type=int, default=20,
                    help="A6: top-id report size (--topIdCount)")
    ap.add_argument(
        "--doc-sizes",
        help="--fetchDocSizes analog: parquet dimension (ns, id, doc_size) "
        "of current document sizes, broadcast-joined per micro-batch; "
        "missing documents get the -1 sentinel "
        "(TailCommand.java:398-463)",
    )
    ap.add_argument("--lag-wallclock", help="report lag vs this wallclock (P8/T4)")
    ap.add_argument(
        "--buckets",
        help="comma-separated size thresholds added to the cumulative "
        "accumulator (A3, the reference's --thresholdBuckets in tail "
        "mode); part of the partials schema — pinned per work-dir",
    )
    args = parse_stream_args(ap)

    from oplog_analyzer_spark.operators.display import console_report
    from oplog_analyzer_spark.session import get_spark
    from oplog_analyzer_spark.streaming.tail import TailStream

    spark = get_spark(master=None, app_name="oplog-tail")
    buckets = tuple(int(b) for b in args.buckets.split(",")) if args.buckets else ()
    tail = TailStream(
        spark,
        args.input,
        args.work_dir,
        buckets=buckets,
        include_namespaces=args.ns.split(",") if args.ns else None,
        include_ops=args.ops.split(",") if args.ops else None,
        min_size=args.min_size,
        max_size=args.max_size,
        threshold=args.threshold,
        full_document=args.full_document,
        dump=args.dump,
        dump_with_shard=args.dump_with_shard,
        id_stats=args.id_stats,
        id_stats_threshold=args.id_stats_threshold,
        doc_sizes_path=args.doc_sizes,
        shard_index=(
            [int(x) for x in args.shard_index.split(",")]
            if args.shard_index
            else None
        ),
        n_shards=args.shards,
    )
    run_cli(tail, args)
    print(console_report(tail.report()))
    if args.threshold is not None:
        print(f"\n--- OPS >= {args.threshold} B (F5 side output, cumulative) ---")
        print(console_report(tail.over_threshold_report(), limit=50))
    if args.id_stats:
        print(f"\n--- TOP {args.top_ids} IDS (A5/A6, cumulative) ---")
        print(console_report(tail.top_ids(args.top_ids)))
    if args.dump:
        # a run whose drain produced zero micro-batches leaves the dump dir
        # absent — report 0 rows, like a zero-row batch pass (ADVICE r05)
        n = tail.dumped_rows().count() if os.path.isdir(tail.dump_dir) else 0
        print(f"\ndump sink: {tail.dump_dir} ({n} rows)")
    if args.lag_wallclock:
        if os.path.isdir(tail.metrics_dir):
            print(console_report(tail.lag_seconds(args.lag_wallclock)))
        else:
            print("lag: no micro-batch has run yet")


if __name__ == "__main__":
    main()
