"""SparkSession factory.

Single place where scale-relevant configuration lives.  The reference
hand-tunes parallelism (one thread per shard, private accumulator maps —
TailCommand.java:991-1018); here the equivalents are shuffle partitioning,
AQE, and Arrow-vectorized Python interop, set once for every entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[N], 128 GiB); on a real cluster the
# same settings scale: AQE re-coalesces shuffle partitions at runtime so an
# over-provisioned spark.sql.shuffle.partitions is safe at 100 TB, and skew
# -join splitting handles hot keys without manual salting for joins.
_SCALE_CONF = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast when stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / mapInPandas (input_hint: no
    # per-row Python anywhere).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: the enrich dimensions (tool/role catalogs,
    # nation/region) are tiny; 64 MB leaves headroom for doc_sizes-style
    # lookup tables while never broadcasting a fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Bounded parquet split size so a 100 TB scan yields well-sized tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Parquet writes: zstd beats the snappy default on BOTH axes here —
    # measured on the 5M-turn routed sink: 281 MB → 197 MB written, write
    # wall 7.5 → 6.7 s, read-back aggregate 1.9 → 1.8 s (fewer bytes
    # through the single virtio disk); guide §6 recommends the same at
    # cluster scale (smaller than snappy at similar read speed).
    "spark.sql.parquet.compression.codec": "zstd",
    # zstd level 1, not the parquet-java default 3: measured on the
    # 20M-turn routed sink, level 3 wrote 756 MB in 28-54 s, level 1
    # 768 MB in 23-25 s — 1.6% more bytes for ~20% less write CPU, with
    # identical read-back speed.  The sink write is encoding-CPU-bound
    # (the disk itself does 1.1 GB/s).
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # local mode runs every task thread in the driver JVM; the 1g default
    # heap thrashes GC as soon as tens of tasks run concurrently, but an
    # over-sized lazily-committed heap is just as bad: 48g with default
    # -Xms spent MINUTES in G1 region commit/zeroing churn on the first
    # large query (measured 595s → 25s for the identical 20M-row job after
    # switching to a moderate pre-touched heap).  12g + -Xms12g +
    # AlwaysPreTouch (set via PYSPARK_SUBMIT_ARGS below) is the sweet spot
    # for local[32].  On a cluster, spark-submit overrides.
    "spark.driver.memory": "12g",
    "spark.driver.maxResultSize": "4g",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def _under_spark_submit() -> bool:
    """True when this interpreter was launched by spark-submit's
    PythonRunner (it exports the py4j gateway coordinates).  In that case
    the launcher's SparkConf — including ``--master`` — must win: a
    code-set ``builder.master()`` would silently override it and run the
    whole job local on the driver."""
    return "PYSPARK_GATEWAY_PORT" in os.environ


def _resolve_master(master: str | None) -> str | None:
    """None ⇒ inherit the launcher's master (spark-submit) or, when
    self-launched (tests, bench), default to ``local[$SPARK_GRAFT_CPUS]``,
    else ``local[<cores this process may run on>]``."""
    if master is not None:
        return master
    if _under_spark_submit():
        return None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    return f"local[{cpus}]"


def _ensure_driver_memory(mem: str) -> None:
    """``spark.driver.memory`` via SparkSession.builder is a no-op for
    python-launched sessions: launch_gateway has already started the driver
    JVM by the time the conf applies.  Export it through
    PYSPARK_SUBMIT_ARGS *before* the first JVM launch instead.  No-op under
    spark-submit (launcher owns the JVM) or once a JVM is up."""
    if _under_spark_submit():
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        return  # JVM already launched; too late, and resizing is impossible
    if "PYSPARK_SUBMIT_ARGS" in os.environ:
        return  # caller/env owns the launch args
    # -Xms matters as much as -Xmx: --driver-memory sets only the max, and
    # lazy heap growth during the first large query costs minutes of region
    # commit/zeroing/GC churn (measured 595s → 25s on an identical 20M-row
    # job).  Pre-size AND pre-touch the whole heap; cap G1 pause target so
    # young collections stay small under the string-heavy parse load.
    opts = f"-Xms{mem} -XX:+AlwaysPreTouch -XX:MaxGCPauseMillis=100"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-memory {mem} --driver-java-options "{opts}" pyspark-shell'
    )


def get_spark(
    master: str | None = None,
    app_name: str = "oplog-analyzer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale settings.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, then the
    host's usable cores) when self-launched; under spark-submit (detected
    via the py4j gateway env) ``master=None`` inherits the launcher's
    ``--master`` untouched.
    """
    # Executor Python workers must be able to import this package (the
    # pandas UDFs pickle by reference).  Local mode: workers inherit the
    # driver env, so extend PYTHONPATH; cluster mode: ship the package with
    # spark-submit --py-files (see tools/make_pyfiles.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    conf = dict(_SCALE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)

    _ensure_driver_memory(conf["spark.driver.memory"])
    builder = SparkSession.builder.appName(app_name)
    resolved = _resolve_master(master)
    if resolved is not None:
        builder = builder.master(resolved)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

