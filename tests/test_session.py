"""Session-factory behavior that must hold on a real cluster: a
spark-submit launch owns master + driver memory; self-launch defaults them.
Pure env-logic tests — no SparkSession is created here."""

import os

from oplog_analyzer_spark import session as S


def test_resolve_master_inherits_under_spark_submit(monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    # master=None must NOT be forced to local[N]; launcher conf wins
    assert S._resolve_master(None) is None
    # explicit master still honored
    assert S._resolve_master("local[4]") == "local[4]"


def test_resolve_master_defaults_local_when_self_launched(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert S._resolve_master(None) == "local[7]"
    # unset: the cores this process may run on, not a constant
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert S._resolve_master(None) == f"local[{len(os.sched_getaffinity(0))}]"


def test_driver_memory_not_exported_under_spark_submit(monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    S._ensure_driver_memory("48g")
    assert "PYSPARK_SUBMIT_ARGS" not in __import__("os").environ


def test_driver_memory_respects_existing_submit_args(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 2g pyspark-shell")
    S._ensure_driver_memory("48g")
    assert (
        __import__("os").environ["PYSPARK_SUBMIT_ARGS"]
        == "--driver-memory 2g pyspark-shell"
    )


def _fake_host(tmp_path, mem_total_kb=16_000_000, v2=None, v1=None):
    """A cgroup root and a meminfo file under ``tmp_path``; ``v2``/``v1``
    are the contents of ``memory.max``/``memory/memory.limit_in_bytes``
    (absent when None)."""
    cg = tmp_path / "cgroup"
    (cg / "memory").mkdir(parents=True)
    if v2 is not None:
        (cg / "memory.max").write_text(f"{v2}\n")
    if v1 is not None:
        (cg / "memory" / "memory.limit_in_bytes").write_text(f"{v1}\n")
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\nMemFree:        1234 kB\n"
    )
    return str(cg), str(meminfo)


def _heap_mb(conf):
    assert conf["spark.driver.memory"].endswith("m")
    return int(conf["spark.driver.memory"][:-1])


def test_host_sizing_halves_the_cgroup_limit(tmp_path):
    gib = 2**30
    # v2 limit below MemTotal wins
    conf = S._host_sizing("local[4]", *_fake_host(tmp_path / "a", v2=6 * gib))
    assert _heap_mb(conf) == 3 * 1024
    # v1 limit below MemTotal wins
    conf = S._host_sizing("local[4]", *_fake_host(tmp_path / "b", v1=4 * gib))
    assert _heap_mb(conf) == 2 * 1024


def test_host_sizing_unlimited_falls_back_to_memtotal(tmp_path):
    mem_total_kb = 16 * 1024 * 1024  # 16 GiB
    for name, kw in {
        "v2_max": {"v2": "max"},
        "v1_sentinel": {"v1": 9223372036854771712},
        "no_cgroup_files": {},
    }.items():
        conf = S._host_sizing(
            "local[4]", *_fake_host(tmp_path / name, mem_total_kb, **kw)
        )
        assert _heap_mb(conf) == 8 * 1024, name


def test_host_sizing_result_size_and_partitions(tmp_path):
    host = _fake_host(tmp_path, v2=10 * 2**30)
    conf = S._host_sizing("local[3]", *host)
    heap = _heap_mb(conf)
    assert heap == 5 * 1024
    assert conf["spark.driver.maxResultSize"] == f"{heap // 4}m"
    assert conf["spark.sql.shuffle.partitions"] == "6"
    assert S._host_sizing("local[16]", *host)["spark.sql.shuffle.partitions"] == "32"
    # a master with no local core count: the launcher (or Spark) decides
    for master in (None, "local[*]", "spark://head:7077"):
        assert "spark.sql.shuffle.partitions" not in S._host_sizing(master, *host)


def test_driver_memory_export_is_lazy_max_heap_only(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    heap = S._host_sizing(None)["spark.driver.memory"]
    S._ensure_driver_memory(heap)
    args = os.environ["PYSPARK_SUBMIT_ARGS"]
    assert "-Xms" not in args and "AlwaysPreTouch" not in args
    assert args.startswith(f"--driver-memory {heap} ")
