"""spark-submit entry point: streaming dedup over a growing doc dir.

The §2.11 × streaming composite (streaming/dedup_stream.py): ``--mode
exact`` (default) admits the first copy of each normalized text;
``--mode neardup`` runs incremental minhash/LSH admission (reject a doc
iff a predecessor shares a band bucket and >= --min-match of --num-hashes
signature components agree).  Either way: across micro-batches / drains /
restarts.  One AvailableNow drain by default (resumable — re-running picks
up only new files via the stream checkpoint); ``--continuous`` blocks
forever with a heartbeat and drains gracefully on SIGINT/SIGTERM or when
``--stop-file`` appears (``streaming/microbatch.py::run_cli``, shared with
run_tail).

  spark-submit --py-files dist/oplog_analyzer_spark.zip \
    jobs/run_dedup_stream.py --input <dir> --work-dir <dir> \
    [--mode exact|neardup] \
    [--id-col doc_id] [--text-col text] [--schema "<ddl>"] \
    [--top-dups 20]                                  (exact only) \
    [--num-hashes 16] [--bands 4] [--min-match 12] \
    [--shingle-n 3] [--hash md5|xxhash64]            (neardup only) \
    [--continuous [--processing-time "5 seconds"] [--heartbeat-sec 30] \
     [--stop-file <path>]]
"""

from __future__ import annotations

import argparse


def main() -> None:
    from oplog_analyzer_spark.streaming.microbatch import parse_stream_args, run_cli

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--schema", help="feed schema DDL (default: the "
                    "documents table shape)")
    ap.add_argument("--mode", choices=["exact", "neardup"], default="exact")
    ap.add_argument("--top-dups", type=int,
                    help="print the K most-duplicated texts (exact mode "
                    "only; default 20)")
    ap.add_argument("--num-hashes", type=int,
                    help="minhash signature length (neardup; default 16)")
    ap.add_argument("--bands", type=int,
                    help="LSH band count (neardup; default 4)")
    ap.add_argument("--min-match", type=int,
                    help="signature components that must agree to reject "
                    "(neardup; default 12 of 16 — est. jaccard 0.75)")
    ap.add_argument("--shingle-n", type=int,
                    help="word-shingle size (neardup; default 3)")
    ap.add_argument("--hash", choices=["md5", "xxhash64"],
                    help="signature hash family (neardup; default md5, "
                    "the SQL-certifiable form)")
    args = parse_stream_args(ap)
    for flag in ("--num-hashes", "--bands", "--min-match", "--shingle-n",
                 "--hash"):
        dest = flag.lstrip("-").replace("-", "_")
        if args.mode != "neardup" and getattr(args, dest) is not None:
            ap.error(f"{flag} only applies with --mode neardup")
    if args.mode != "exact" and args.top_dups is not None:
        ap.error("--top-dups only applies with --mode exact")

    from pyspark.sql import functions as F

    from oplog_analyzer_spark.operators.display import console_report
    from oplog_analyzer_spark.session import get_spark
    from oplog_analyzer_spark.streaming.dedup_stream import (
        DOCS_SCHEMA,
        DedupStream,
        NearDupStream,
    )

    spark = get_spark(master=None, app_name="oplog-dedup-stream")
    if args.mode == "neardup":
        stream = NearDupStream(
            spark, args.input, args.work_dir,
            id_col=args.id_col, text_col=args.text_col,
            schema=args.schema or DOCS_SCHEMA,
            num_hashes=args.num_hashes or 16,
            bands=args.bands or 4,
            min_match=args.min_match or 12,
            shingle_n=args.shingle_n or 3,
            hash_fn=args.hash or "md5",
        )
    else:
        stream = DedupStream(
            spark, args.input, args.work_dir,
            id_col=args.id_col, text_col=args.text_col,
            schema=args.schema or DOCS_SCHEMA,
        )

    run_cli(stream, args)

    if args.mode == "neardup":
        v = stream.verdicts()
        totals = v.agg(
            F.count(F.lit(1)).alias("docs_seen"),
            F.coalesce(F.sum(F.col("admitted").cast("long")), F.lit(0))
            .alias("admitted"),
            F.coalesce(F.sum((~F.col("admitted")).cast("long")), F.lit(0))
            .alias("rejected"),
        )
        print("--- STREAMING NEAR-DUP (cumulative across drains) ---")
        print(console_report(totals))
        print("\n--- REJECTS PER BATCH ---")
        print(console_report(
            v.filter(~F.col("admitted"))
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n_rejected"))
            .orderBy("batch_id")
        ))
        return

    admitted = stream.admitted()
    totals = admitted.agg(
        F.count(F.lit(1)).alias("distinct_texts"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("docs_seen"),
        F.coalesce(F.sum(F.col("dup_count") - 1), F.lit(0)).alias(
            "duplicates_turned_away"
        ),
    )
    print("--- STREAMING DEDUP (cumulative across drains) ---")
    print(console_report(totals))
    top_dups = 20 if args.top_dups is None else args.top_dups
    print(f"\n--- TOP {top_dups} DUPLICATED TEXTS ---")
    print(console_report(
        stream.duplicates_turned_away()
        .orderBy(F.desc("dup_count"), F.asc("keep_id"))
        .limit(top_dups)
    ))


if __name__ == "__main__":
    main()
