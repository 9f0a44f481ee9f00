"""SparkSession factory, sized from the host.

Single place where scale-relevant configuration lives.  The reference
hand-tunes parallelism (one thread per shard, private accumulator maps —
TailCommand.java:991-1018); here the equivalents are shuffle partitioning,
AQE, Arrow-vectorized Python interop and a host-sized driver heap
(:func:`_host_sizing`), set once for every entry point.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

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
    # Broadcast threshold: the enrich dimensions are tiny; 64 MB leaves
    # headroom for lookup tables while never broadcasting a fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Bounded parquet split size so a 100 TB scan yields well-sized tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Parquet writes: zstd level 1 (BASELINE.md "sink encoding").
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def _host_sizing(
    master: str | None, cgroup: str = "/sys/fs/cgroup", meminfo: str = "/proc/meminfo"
) -> dict[str, str]:
    """Driver heap = half the memory limit (the smaller of ``MemTotal`` and
    the cgroup limit), grown by the JVM only as needed; ``maxResultSize`` =
    a quarter of it; shuffle partitions = 2 × the cores of a ``local[N]``
    master (AQE coalesces the surplus), left unset for any other master.

    Measured only up to an ~8 GB heap; a lazily grown 48 GB heap once cost
    minutes (BASELINE.md "Session settings"): re-measure on a larger host."""
    with open(meminfo) as f:
        limit = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:"))
    for rel in ("memory.max", "memory/memory.limit_in_bytes"):  # cgroup v2, v1
        try:
            with open(os.path.join(cgroup, rel)) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw != "max":  # v1's near-2^63 "no limit" value exceeds MemTotal
            limit = min(limit, int(raw))
    heap_mb = limit // 2**21
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.maxResultSize": f"{heap_mb // 4}m",
    }
    m = re.match(r"local\[(\d+)", master or "")
    if m:  # any other master keeps the launcher's (or Spark's) count
        conf["spark.sql.shuffle.partitions"] = str(2 * int(m[1]))
    return conf


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
    PYSPARK_SUBMIT_ARGS *before* the first JVM launch instead, as the
    maximum heap only.  No-op under spark-submit (launcher owns the JVM)
    or once a JVM is up."""
    if _under_spark_submit():
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        return  # JVM already launched; too late, and resizing is impossible
    if "PYSPARK_SUBMIT_ARGS" in os.environ:
        return  # caller/env owns the launch args
    # Keep what G1 commits: a shrunk heap re-grows and re-marks on the next
    # query (BASELINE.md "heap shrink under the host-sized cap").
    opts = '--driver-java-options "-XX:MaxHeapFreeRatio=100"'
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} {opts} pyspark-shell"


def get_spark(
    master: str | None = None,
    app_name: str = "oplog-analyzer-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale settings.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, then the
    host's usable cores) when self-launched; under spark-submit (detected
    via the py4j gateway env) ``master=None`` inherits the launcher's
    ``--master`` untouched.
    """
    # Python workers must import this package (pandas UDFs pickle by
    # reference): local workers inherit PYTHONPATH; on a cluster, ship it
    # with spark-submit --py-files (see tools/make_pyfiles.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    resolved = _resolve_master(master)
    conf = {**_SCALE_CONF, **_host_sizing(resolved)}
    if extra_conf:
        conf.update(extra_conf)

    _ensure_driver_memory(conf["spark.driver.memory"])
    builder = SparkSession.builder.appName(app_name)
    if resolved is not None:
        builder = builder.master(resolved)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
