"""The one micro-batch protocol behind every stream in the package.

A stream tails a growing parquet directory (new files = new oplog
entries) and keeps cumulative tables in its ``work_dir``.
:class:`MicroBatchStream` owns how such a stream is started, resumed,
pinned and stopped; a subclass writes only ``_sink_batch`` (what one
micro-batch persists) and its reports.  The reference's tail loop is a
tailable-await cursor per shard, a 30 s reporter and a 3-stage graceful
shutdown (TailCommand.java:534-547, 750-763, 817-921).  Spark mapping:

  source      file-source ``readStream`` with a fixed schema and
              ``maxFilesPerTrigger``; a deployment binds the same code to
              a Kafka / Iceberg-streaming source by changing only this.
  drain       ``run_available()``: Trigger.AvailableNow reads every file
              present, runs the micro-batches and stops — the bounded
              prefix the reference reports, testable and idempotent.
  continuous  ``run_continuous()``: a processingTime trigger over the same
              source, sink and checkpoint, polling ``input_dir`` until the
              caller stops it (the blocking cursor, TailCommand.java:546).
              The two triggers share the checkpoint, so a drain hands off
              to a continuous run and back without reprocessing.
  resume      ``work_dir/checkpoint`` holds the source offsets: a fresh
              instance over the same work_dir reads only files that arrived
              since.  The reference has no cross-restart resume
              (TailCommand.java:540).  foreachBatch is at-least-once — a
              crash after a sink write but before the offset commit replays
              the batch with the SAME batch_id — so every sink writes its
              own ``<dir>/batch_id=<k>/`` with overwrite, and a replay
              rewrites identical content instead of double-counting.
  meta pin    the options that define what the cumulative tables MEAN are
              written to ``work_dir/<meta file>`` when the work_dir is
              created; a resume with other values raises instead of merging
              partials computed under different semantics.
  stop        ``query.stop()`` interrupts between (or mid-) micro-batches;
              the replay rule above keeps the next start exact.
              :func:`run_cli` is the CLI side: heartbeat while running,
              drain on SIGINT/SIGTERM or a stop file.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time

from pyspark.sql import DataFrame, SparkSession


class MicroBatchStream:
    """Base of the file-source streams.  A subclass sets ``schema`` and
    ``max_files_per_trigger`` (class constants or constructor options),
    ``_META_FILE`` and ``_META_KIND``, defines
    ``_sink_batch(batch, batch_id)``, and calls :meth:`_pin_meta` once its
    configuration is set."""

    schema: str
    max_files_per_trigger: int
    #: meta file name in work_dir, and the configuration name a mismatch
    #: error reports
    _META_FILE: str
    _META_KIND: str

    def __init__(self, spark: SparkSession, input_dir: str, work_dir: str) -> None:
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.checkpoint_dir = os.path.join(work_dir, "checkpoint")

    def _pin_meta(self, meta: dict) -> None:
        """Write ``meta`` (JSON-shaped: lists, not tuples) to the meta file
        of a new work_dir; on resume compare it with the pinned one and
        raise on any difference.  A work_dir without a meta file pins the
        current configuration."""
        path = os.path.join(self.work_dir, self._META_FILE)
        if os.path.exists(path):
            with open(path) as f:
                pinned = json.load(f)
            diffs = {k: (pinned.get(k), v) for k, v in meta.items() if pinned.get(k) != v}
            if diffs:
                raise ValueError(
                    f"work_dir {self.work_dir} was created with a different "
                    f"{self._META_KIND} configuration; changing it mid-stream "
                    f"corrupts the cumulative tables (use a fresh work_dir): {diffs}"
                )
            return
        os.makedirs(self.work_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic publish

    def _start(self, **trigger):
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.input_dir)
            .writeStream.foreachBatch(self._sink_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def run_available(self) -> None:
        """Drain all currently available input, then stop: one resumable
        increment of the unbounded stream."""
        self._start(availableNow=True).awaitTermination()

    def run_continuous(self, processing_time: str = "5 seconds"):
        """Start the forever-running form and return its
        ``StreamingQuery``; the caller owns ``stop()``."""
        return self._start(processingTime=processing_time)

    def _read_batches(self, base_dir: str, empty_schema: str) -> DataFrame:
        """All ``batch_id=<k>`` outputs of one sink, with ``batch_id`` as a
        column found by partition discovery over ``base_dir``; an empty
        frame of ``empty_schema`` when no micro-batch has written there yet
        (fresh or empty input: the reports then print empty, like a
        zero-row batch pass, instead of raising on the missing dir)."""
        if not os.path.isdir(base_dir):
            return self.spark.createDataFrame([], empty_schema)
        return self.spark.read.parquet(base_dir)


def parse_stream_args(ap: argparse.ArgumentParser) -> argparse.Namespace:
    """Add the run-mode flags every stream CLI shares, parse, and reject
    the continuous-only flags without ``--continuous``."""
    ap.add_argument(
        "--continuous", action="store_true",
        help="keep tailing forever (processingTime trigger) instead of "
        "draining once; SIGINT/SIGTERM or --stop-file triggers the graceful "
        "3-stage shutdown (stop accepting batches → await termination → "
        "final merged report), the reference's forever-tail loop + "
        "shutdown (TailCommand.java:546, 817-921)",
    )
    ap.add_argument("--processing-time", default="5 seconds",
                    help="with --continuous: micro-batch poll interval")
    ap.add_argument(
        "--heartbeat-sec", type=float, default=30.0,
        help="with --continuous: print a one-line progress heartbeat this "
        "often (the reference's 30 s reporter, TailCommand.java:750-763)",
    )
    ap.add_argument(
        "--stop-file",
        help="with --continuous: also drain gracefully when this marker "
        "file appears.  The signal path only reaches this driver when "
        "python IS the signalled process (direct `python jobs/...` — "
        "pyspark's gateway JVM ignores SIGINT); under spark-submit the "
        "parent JVM owns the default SIGINT disposition and dies first, "
        "so cluster launchers should drain via the marker file instead",
    )
    args = ap.parse_args()
    for flag in ("--processing-time", "--heartbeat-sec", "--stop-file"):
        dest = flag.lstrip("-").replace("-", "_")
        if not args.continuous and ap.get_default(dest) != getattr(args, dest):
            ap.error(f"{flag} only applies with --continuous")
    return args


def run_cli(stream: MicroBatchStream, args: argparse.Namespace) -> None:
    """Run ``stream`` as the parsed flags ask: one drain, or with
    ``--continuous`` the forever loop — heartbeat every
    ``--heartbeat-sec`` from StreamingQueryProgress and, on SIGINT/SIGTERM
    or the stop file, the reference's 3-stage graceful shutdown: (1) stop
    accepting micro-batches (``query.stop()``), (2) await termination of
    the in-flight batch, (3) the caller prints the final merged report.
    The handler only sets a flag; ``query.stop()`` runs on the main
    thread, not inside the signal frame."""
    if not args.continuous:
        stream.run_available()
        return
    q = stream.run_continuous(processing_time=args.processing_time)
    stop_requested = False

    def _request_stop(signum, frame):  # noqa: ARG001
        nonlocal stop_requested
        stop_requested = True

    prev_int = signal.signal(signal.SIGINT, _request_stop)
    prev_term = signal.signal(signal.SIGTERM, _request_stop)
    try:
        print(f"tailing {stream.input_dir} (trigger every "
              f"{args.processing_time}; Ctrl-C to drain and report)", flush=True)
        last_beat = time.monotonic()
        seen_batch, run_rows = -1, 0
        while (q.isActive and not stop_requested
               and not (args.stop_file and os.path.exists(args.stop_file))):
            time.sleep(0.2)
            p = q.lastProgress
            if p and p["batchId"] != seen_batch:
                seen_batch = p["batchId"]
                run_rows += p["numInputRows"]
            now = time.monotonic()
            if now - last_beat >= args.heartbeat_sec:
                last_beat = now
                # the reference's reporter prints entries processed + lag;
                # rows here are this RUN's (the cumulative report spans
                # resumes and prints at drain)
                rows = p["numInputRows"] if p else 0
                bid = p["batchId"] if p else "-"
                print(f"heartbeat: batch={bid} rows_in_last_batch={rows} "
                      f"rows_this_run={run_rows}", flush=True)
        print("stopping (graceful drain)...", flush=True)
        q.stop()
        q.awaitTermination()
        if q.exception() is not None:
            raise q.exception()
    finally:
        signal.signal(signal.SIGINT, prev_int)
        signal.signal(signal.SIGTERM, prev_term)
