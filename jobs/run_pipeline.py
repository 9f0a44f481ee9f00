"""spark-submit entry point for the transcript pipeline (north_rule launch
path).

  spark-submit --master <cluster> \\
    --py-files dist/oplog_analyzer_spark.zip \\
    jobs/run_pipeline.py --input /path/transcripts --work-dir /path/work \\
    [--batches 16]

Runs the checkpointed parse→enrich→route→aggregate pipeline.  Re-running
with the same --work-dir resumes: it skips completed batches (per-partition
lineage in <work-dir>/checkpoint.json) and recomputes exact final
aggregates from the routed sinks.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcript parquet/Iceberg dir")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--no-diff-stats", action="store_true")
    args = ap.parse_args()

    from oplog_analyzer_spark.operators.display import console_report
    from oplog_analyzer_spark.plans.pipeline import TranscriptPipeline
    from oplog_analyzer_spark.session import get_spark
    from oplog_analyzer_spark.transcripts import tool_catalog

    # under spark-submit the master/conf come from the launcher; get_spark
    # only adds the engine's scale settings
    spark = get_spark(master=None)
    pipe = TranscriptPipeline(
        spark,
        args.work_dir,
        tool_catalog(spark),
        num_batches=args.batches,
        with_diff_stats=not args.no_diff_stats,
    )
    # file-group plan: zero staging copy, each batch reads only its files
    state = pipe.run(input_path=args.input)
    pipe.write_final_metrics()
    print(json.dumps({"completed_batches": len(state["completed"])}))
    print(console_report(pipe.final_aggregates(), limit=30))


if __name__ == "__main__":
    main()
