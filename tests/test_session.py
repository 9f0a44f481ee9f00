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
