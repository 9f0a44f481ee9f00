"""Bounded parquet sources.

The reference reads (a) a live capped collection, (b) a bounded ts-range
scan, (c) length-prefixed BSON dump files with transparent gzip
(BaseOplogCommand.java:298-384).  Columnar parquet replaces the hand-rolled
framing; Spark's vectorized reader replaces the 64 KB buffered decode loop.
Filters and projections expressed on these DataFrames reach the scan
(PushedFilters / ReadSchema) — the Spark equivalent of the reference's only
pushdown, the server-side ts-range query (ScanCommand.java:259-267).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: the only optimized-plan nodes under which a frame's partitioning is
#: still the file scan's own
_SCAN_NODES = frozenset({"Project", "Filter", "LogicalRelation"})


def _is_plain_scan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is a deterministic file scan under
    projections and filters only.  Any other node — exchange, aggregate,
    join, generator, Python evaluation, union, sample, local relation — or
    a non-deterministic expression answers False."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if not plan.deterministic():
            return False
        stack = [plan]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() not in _SCAN_NODES:
                return False
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    except Exception:
        return False
    return True


def _planned_scan_splits(df: DataFrame) -> int | None:
    """Best-effort count of the file splits Spark will plan for ``df``'s
    scan, or None when it cannot be derived cheaply (non-file source,
    remote filesystem, shuffled frame).  Mirrors FilePartition planning:
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + files·openCost) / minPartitionNum))`` and splits ≈
    ceil(chargedBytes / maxSplitBytes).  Pure footer-free arithmetic on
    the (already listed) file sizes — no job, no .rdd materialization
    (which costs ~0.5 s per call on this sandbox)."""
    if not _is_plain_scan(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            # remote store: at real scale inputs are many files; treat each
            # file as one split (conservative: never fan out a wide scan)
            return len(files)
        try:
            sizes.append(os.path.getsize(unquote(u.path)))
        except OSError:
            return len(files)
    spark = df.sparkSession

    def _conf_bytes(key: str, default: int) -> int:
        try:
            return int(spark.conf.get(key))
        except Exception:
            return default

    max_pb = _conf_bytes("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = _conf_bytes("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    min_pn = _conf_bytes(
        "spark.sql.files.minPartitionNum", spark.sparkContext.defaultParallelism
    )
    charged = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, charged // max(min_pn, 1)))
    return max(1, -(-charged // max(max_split, 1)))


def fan_out(df: DataFrame, *key_cols: str, min_parts: int | None = None) -> DataFrame:
    """Raise scan parallelism for compute-heavy per-row operators when the
    source's physical split count is below the cluster parallelism.

    Spark cannot split a parquet ROW GROUP across tasks, and a scan whose
    files carry few row groups (single-writer outputs — this sandbox's
    testdata has ONE 50k-row group for documents) executes the whole
    downstream narrow chain — shingling, regex extraction, chunk explodes
    — in one or two tasks regardless of core count (guide §2.5 "input
    skew": one huge unsplittable input → repartition right after the
    read).  For those operators one cheap exchange of the compact source
    rows buys full-width execution of the expensive projections, which at
    10-30× per-row amplification (text → shingle arrays) dominates.

    Deliberately conservative — returns ``df`` unchanged when:
      * the frame is not a plain file scan (:func:`_is_plain_scan`) — a
        shuffle upstream already redistributed it, or a Python stage or
        non-deterministic expression sits between scan and caller;
      * the planned split count already reaches the target — the 100 TB
        case, where inputs arrive in thousands of files and a blanket
        repartition would be a pure extra shuffle.

    ``key_cols`` hash-partitions on those columns (deterministic, no
    sort); without keys, round-robin (pays the sort-before-repartition
    stabilization pass).  All operators downstream of fan_out are
    partition-invariant by contract, so results are unchanged either way.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    splits = _planned_scan_splits(df)
    if splits is None or splits >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def time_range_scan(
    df: DataFrame, ts_col: str, start: str | None = None, end: str | None = None
) -> DataFrame:
    """S2 — bounded ts-range scan (ScanCommand.java:236-294).

    The reference builds a $gte/$lte server query; here the between()
    predicate is pushed down to the parquet/Iceberg scan and prunes
    partitions when the table is partitioned by a ts transform.
    """
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start).cast("timestamp"))
    if end is not None:
        df = df.filter(F.col(ts_col) <= F.lit(end).cast("timestamp"))
    return df


def latest_offset_agg(ts_col: str) -> F.Column:
    """S4 — latest-offset probe (TailCommand.java:1476-1482) as an
    aggregate column for an existing groupBy.  The reference sorts by
    $natural desc limit 1 projecting only ts; the aggregate form lets Spark
    do a partial max per partition — no sort."""
    return F.max(ts_col).alias("latest_ts")
