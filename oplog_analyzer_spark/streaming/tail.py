"""Structured-Streaming tail analog (T1–T8) on the shared micro-batch
protocol (``streaming/microbatch.py``: source, drain and continuous
triggers, checkpoint resume, meta pin, graceful stop).

The reference tails the oplog with a blocking tailable-await cursor per
shard (TailCommand.java:534-547), accumulating per-(ns,op) stats in memory
and reporting every 30 s (TailCommand.java:750-763).  Spark mapping:

  T1 unbounded source   → the file source on the transcript directory.
  T2 start offset       → checkpointed source offsets (startingTimestamp
                          analog); Spark tracks them per file/partition.
  T3 heartbeat          → StreamingQueryProgress + the metrics sink written
                          per micro-batch.
  T5 graceful drain     → query.stop() + idempotent final aggregate from
                          the cumulative state table.
  T6 stateful op        → cumulative aggregates maintained exactly by
                          re-aggregating the per-batch partials (counts/
                          sums/mins/maxes merge associatively — the same
                          algebra as EntryAccumulator.merge(),
                          EntryAccumulator.java:210-228).
  T8 resume             → the stream checkpoint; the reference has no
                          cross-restart resume (TailCommand.java:540) —
                          this is the north_rule extension.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import filters as FL
from ..operators.filters import exclude_system_namespaces
from ..operators.parse import parse_transcripts
from .microbatch import MicroBatchStream

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class TailStream(MicroBatchStream):
    """Incrementally tail a growing transcript directory, maintaining the
    cumulative ns::op accumulator report across micro-batches.

    Carries the reference tail command's full option battery
    (TailCommand.java:74-123, per-row path :552-773): namespace/op
    include-lists (F2/F3), size range (F4), threshold side-output (F5,
    with the --fullDocument raw-row dump), shard subset (F8), the dump
    sink (--dump/--dumpWithShard as a per-batch routed parquet sink), and
    cumulative per-id statistics (--idStats/--idStatsThreshold/
    --topIdCount, A5/A6/F6) maintained as a second merge-safe partials
    table.  ``doc_sizes_path`` is the --fetchDocSizes analog: a broadcast
    lookup dimension of current document sizes joined per micro-batch,
    with the reference's -1 "unknown" sentinel when the document is
    missing (TailCommand.java:398-463; IdStatisticsManager.java:38-90).
    """

    schema = TRANSCRIPT_SCHEMA
    max_files_per_trigger = 8
    _META_FILE = "tail_meta.json"
    _META_KIND = "tail"

    #: options that define the MEANING of the cumulative partials; pinned
    #: in work_dir/tail_meta.json at creation and enforced on resume
    #: (ADVICE r04: resuming with a different --buckets silently
    #: undercounted via null gt_* columns — now it raises at init).
    #: ``doc_sizes_path`` + ``doc_sizes_fingerprint`` pin the --fetchDocSizes
    #: dimension itself (ADVICE r05: a resume against a different or
    #: refreshed lookup table would merge per-id doc-size partials computed
    #: against different dimensions — the same meaning-drift class).
    _META_FIELDS = (
        "buckets", "include_namespaces", "include_ops", "min_size",
        "max_size", "threshold", "full_document", "dump", "dump_with_shard",
        "id_stats", "id_stats_threshold", "doc_sizes_path",
        "doc_sizes_fingerprint", "shard_index", "n_shards",
    )

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        work_dir: str,
        buckets: tuple[int, ...] = (),
        include_namespaces: list[str] | None = None,
        include_ops: list[str] | None = None,
        min_size: int | None = None,
        max_size: int | None = None,
        threshold: int | None = None,
        full_document: bool = False,
        dump: bool = False,
        dump_with_shard: bool = False,
        id_stats: bool = False,
        id_stats_threshold: int = 0,
        doc_sizes_path: str | None = None,
        shard_index: list[int] | None = None,
        n_shards: int = 4,
    ) -> None:
        """``buckets`` adds A3 threshold counters (rows with size strictly
        > t, EntryAccumulator.java:65-70) to the accumulator — per-batch
        partial sums, merged like every other counter.

        Every option above changes what the cumulative tables MEAN, so the
        full set is pinned in ``work_dir/tail_meta.json``: the reference has
        no resume at all (TailCommand.java:540), so the only faithful
        resume is one that continues the exact same job.

        ``shard_index`` filters the synthesized shard space directly
        (shard = xxhash64(conv_id) % n_shards, ids 0..n_shards-1): the
        reference resolves --shardIndex positions against the shard list
        ONCE at startup (TailCommand.java:966-989), and with a synthesized
        0..n-1 id space position == id; resolving per micro-batch would
        make the filter time-varying as shards appear."""
        super().__init__(spark, input_dir, work_dir)
        self.buckets = tuple(int(b) for b in buckets)
        self.include_namespaces = list(include_namespaces or [])
        self.include_ops = list(include_ops or [])
        self.min_size = min_size
        self.max_size = max_size
        self.threshold = threshold
        self.full_document = bool(full_document)
        self.dump = bool(dump)
        self.dump_with_shard = bool(dump_with_shard)
        self.id_stats = bool(id_stats)
        self.id_stats_threshold = int(id_stats_threshold)
        self.doc_sizes_path = doc_sizes_path
        self.shard_index = sorted(int(i) for i in shard_index) if shard_index else None
        self.n_shards = int(n_shards)
        # modifier flags without their base option would silently no-op,
        # and the meta pinning would then force a new work_dir to fix the
        # configuration — reject them up front instead
        if self.dump_with_shard and not self.dump:
            raise ValueError("dump_with_shard requires dump=True (--dump)")
        if self.full_document and self.threshold is None:
            raise ValueError("full_document requires a threshold (--threshold)")
        self.partials_dir = os.path.join(work_dir, "partials")
        self.metrics_dir = os.path.join(work_dir, "metrics")
        self.id_partials_dir = os.path.join(work_dir, "id_partials")
        self.over_partials_dir = os.path.join(work_dir, "over_partials")
        self.over_rows_dir = os.path.join(work_dir, "over_rows")
        self.dump_dir = os.path.join(work_dir, "dump")
        self._pin_meta(self._meta())

    # -- configuration pinning ---------------------------------------------
    def _doc_sizes_fingerprint(self) -> int | None:
        """Order-independent content fingerprint of the doc-size dimension
        (bit_xor of per-row xxhash64): a resumed run whose --doc-sizes table
        was refreshed in place would otherwise pass a path-only check while
        its per-id partials mean something different batch-to-batch.  The
        dimension is broadcast-small by contract, so this one aggregate at
        init is cheap."""
        if self.doc_sizes_path is None:
            return None
        dim = self.spark.read.parquet(self.doc_sizes_path)
        row = dim.agg(
            F.expr("bit_xor(xxhash64(ns, id, doc_size))").alias("fp")
        ).collect()[0]
        return int(row["fp"]) if row["fp"] is not None else 0

    def _meta(self) -> dict:
        m = {k: getattr(self, k, None) for k in self._META_FIELDS}
        m["buckets"] = list(self.buckets)
        m["doc_sizes_fingerprint"] = self._doc_sizes_fingerprint()
        return m

    # -- per-batch transforms ------------------------------------------------
    def _apply_filters(self, parsed: DataFrame) -> DataFrame:
        """The pre-aggregate filter battery (F2/F3/F4/F8) — all plain
        Catalyst predicates, identical to the run_scan bounded path, so
        incremental == batch holds by construction."""
        df = parsed
        if self.shard_index is not None or self.dump_with_shard:
            df = df.withColumn(
                "shard",
                F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards)).cast("int"),
            )
        if self.shard_index is not None:
            df = FL.shard_subset(df, self.shard_index, "shard")
        df = FL.include_namespaces(df, self.include_namespaces)
        df = FL.include_ops(df, self.include_ops)
        return FL.size_range(df, self.min_size, self.max_size)

    def _ns_op_partial(self, rows: DataFrame, with_buckets: bool = True) -> DataFrame:
        """Merge-safe (ns,op) partial — count/total/min/max (+A3 buckets);
        avg derived at read time."""
        aggs = [
            F.count(F.lit(1)).alias("count"),
            F.sum("size").alias("total_size"),
            F.min("size").alias("min_size"),
            F.max("size").alias("max_size"),
            F.max("ts").alias("latest_ts"),
        ]
        if with_buckets:
            for b in self.buckets:
                aggs.append(
                    F.sum(F.when(F.col("size") > b, 1).otherwise(0)).alias(f"gt_{b}")
                )
        return rows.groupBy("ns", "op").agg(*aggs)

    def _id_stats_partial(self, user: DataFrame) -> DataFrame:
        """Per-batch (ns,id) partial (A5/F6): only rows ≥ the independent
        id-stats threshold enter (IdStatisticsManager.java:70-72); with a
        doc-size dimension, doc-size aggregates skip the -1 "unknown"
        sentinel while count/oplog-size include every row."""
        from ..operators.aggregate import id_stats

        src = user
        if self.id_stats_threshold:
            src = FL.id_stats_threshold(src, self.id_stats_threshold)
        doc_col = None
        if self.doc_sizes_path is not None:
            dim = self.spark.read.parquet(self.doc_sizes_path)
            src = src.join(F.broadcast(dim), on=["ns", "id"], how="left").withColumn(
                "doc_size", F.coalesce(F.col("doc_size"), F.lit(-1).cast("long"))
            )
            doc_col = "doc_size"
        return id_stats(src, doc_size_col=doc_col)

    def _sink_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Idempotent micro-batch sink: EVERY sink below (partials,
        metrics, dump, id partials, threshold side-output) overwrites its
        own ``batch_id=<k>/`` dir, so a replayed batch is a no-op rewrite.

        Single scan per micro-batch (VERDICT r02 #4): the filtered parse is
        computed once; when only the accumulator runs, the group-count-sized
        (ns,op) partial is what's persisted, and the T3 heartbeat derives
        from the same cached rows (rows = Σcount, latest_ts =
        max(latest_ts)).  When row-level sinks are on (dump / id-stats /
        threshold), the micro-batch's filtered ROWS are persisted instead —
        bounded by maxFilesPerTrigger — and every sink reads the cache."""
        base = self._apply_filters(parse_transcripts(batch, with_diff_stats=False))
        row_sinks = self.dump or self.id_stats or self.threshold is not None
        if row_sinks:
            base = base.persist()
        try:
            agg = self._ns_op_partial(base).persist()
            try:
                exclude_system_namespaces(agg).write.mode("overwrite").parquet(
                    os.path.join(self.partials_dir, f"batch_id={batch_id}")
                )
                # T3 heartbeat record: rows + lag proxy per batch (all ns,
                # matching the raw batch row count)
                agg.agg(
                    F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
                    F.max("latest_ts").alias("latest_ts"),
                ).write.mode("overwrite").parquet(
                    os.path.join(self.metrics_dir, f"batch_id={batch_id}")
                )
            finally:
                agg.unpersist()
            if not row_sinks:
                return
            # the reference's per-row tail path operates post system-ns
            # exclusion (TailCommand.java:566-568)
            user = exclude_system_namespaces(base)
            if self.dump:
                writer = user.write.mode("overwrite")
                if self.dump_with_shard:
                    writer = writer.partitionBy("shard")
                writer.parquet(os.path.join(self.dump_dir, f"batch_id={batch_id}"))
            if self.id_stats:
                self._id_stats_partial(user).write.mode("overwrite").parquet(
                    os.path.join(self.id_partials_dir, f"batch_id={batch_id}")
                )
            if self.threshold is not None:
                over = user.filter(F.col("size") >= self.threshold)
                self._ns_op_partial(over, with_buckets=False).write.mode(
                    "overwrite"
                ).parquet(
                    os.path.join(self.over_partials_dir, f"batch_id={batch_id}")
                )
                if self.full_document:
                    over.write.mode("overwrite").parquet(
                        os.path.join(self.over_rows_dir, f"batch_id={batch_id}")
                    )
        finally:
            if row_sinks:
                base.unpersist()

    def _partials_schema(self, with_buckets: bool = True) -> str:
        s = (
            "ns string, op string, count bigint, total_size bigint, "
            "min_size bigint, max_size bigint, latest_ts timestamp"
        )
        if with_buckets:
            s += "".join(f", gt_{b} bigint" for b in self.buckets)
        return s

    def _merged(self, base_dir: str, with_buckets: bool) -> DataFrame:
        """Final merge of one sink's (ns,op) partials, floor-avg display
        parity."""
        partials = self._read_batches(base_dir, self._partials_schema(with_buckets))
        aggs = [
            F.sum("count").alias("count"),
            F.sum("total_size").alias("total_size"),
            F.min("min_size").alias("min_size"),
            F.max("max_size").alias("max_size"),
            F.max("latest_ts").alias("latest_ts"),
        ]
        if with_buckets:
            aggs += [F.sum(f"gt_{b}").alias(f"gt_{b}") for b in self.buckets]
        merged = partials.groupBy("ns", "op").agg(*aggs)
        return merged.withColumn(
            "avg_size", F.floor(F.col("total_size") / F.col("count")).cast("long")
        ).orderBy(F.desc("total_size"), "ns", "op")

    def report(self) -> DataFrame:
        """Cumulative A1 report: final merge of all batch partials — the
        same partial/final algebra as the reference's mergeShardResults
        (TailCommand.java:1103-1146)."""
        return self._merged(self.partials_dir, with_buckets=True)

    def over_threshold_report(self) -> DataFrame:
        """Cumulative F5 side-output report: the ns::op accumulator over
        rows with size ≥ threshold (TailCommand.java:716-723), merged from
        the per-batch over-threshold partials with the same algebra as
        report()."""
        if self.threshold is None:
            raise ValueError("TailStream was created without threshold")
        return self._merged(self.over_partials_dir, with_buckets=False)

    def id_stats_report(self) -> DataFrame:
        """Cumulative A5 per-(ns,id) statistics across all micro-batches:
        the per-batch partials merge with the accumulator algebra
        (counts/sums add, mins/maxes extremize — IdStatisticsManager's
        updateStats as a distributive aggregate).  Doc-size aggregates
        merge null-safely: a batch where an id had only -1 "unknown"
        sentinel rows contributes null partials that sum/min/max skip,
        exactly matching a single-pass recompute."""
        if not self.id_stats:
            raise ValueError("TailStream was created without id_stats")
        id_schema = (
            "ns string, id string, count bigint, total_oplog_size bigint, "
            "min_oplog_size bigint, max_oplog_size bigint"
        )
        if self.doc_sizes_path is not None:
            id_schema += (
                ", total_doc_size bigint, min_doc_size bigint, "
                "max_doc_size bigint, doc_size_count bigint"
            )
        partials = self._read_batches(self.id_partials_dir, id_schema)
        aggs = [
            F.sum("count").alias("count"),
            F.sum("total_oplog_size").alias("total_oplog_size"),
            F.min("min_oplog_size").alias("min_oplog_size"),
            F.max("max_oplog_size").alias("max_oplog_size"),
        ]
        if self.doc_sizes_path is not None:
            aggs += [
                F.sum("total_doc_size").alias("total_doc_size"),
                F.min("min_doc_size").alias("min_doc_size"),
                F.max("max_doc_size").alias("max_doc_size"),
                F.sum("doc_size_count").alias("doc_size_count"),
            ]
        return partials.groupBy("ns", "id").agg(*aggs)

    def top_ids(self, k: int = 20) -> DataFrame:
        """Cumulative A6 top-k id report (--topIdCount, default 20) over
        the merged id statistics — TakeOrderedAndProject, no full sort."""
        from ..operators.aggregate import top_k_ids

        return top_k_ids(self.id_stats_report(), k=k)

    def dumped_rows(self) -> DataFrame:
        """All rows written by the dump sink across batches (--dump): the
        filtered, parsed, system-ns-excluded rows, one partition dir per
        micro-batch (replay-overwritten, so exactly-once content)."""
        if not self.dump:
            raise ValueError("TailStream was created without dump")
        return self.spark.read.parquet(self.dump_dir)

    def lag_seconds(self, now_ts: str) -> DataFrame:
        """T4/P8 — lag vs a supplied wallclock (TailCommand.java:1073-1082;
        max(0, wallclock − latest event ts))."""
        m = self.spark.read.parquet(self.metrics_dir)
        return m.agg(
            F.greatest(
                F.lit(0).cast("long"),
                (
                    F.unix_timestamp(F.lit(now_ts).cast("timestamp"))
                    - F.unix_timestamp(F.max("latest_ts"))
                ).cast("long"),
            ).alias("lag_sec")
        )
