"""Driver-contract smoke tests: entry() runs, every queries() entry runs at
sf0.001, every oracle key has a matching query key; and the publish-once
helper the materialize-then-oracle rows share."""

from __future__ import annotations

import errno
import os
import re
import zipfile
from pathlib import Path

import pytest

import __spark_entry__ as E

from tests.conftest import SF_ORACLE, SF_SMALL


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"ns", "op", "count", "total_size", "min_size", "max_size", "avg_size"} <= set(
        df.columns
    )


def test_oracle_keys_subset_of_queries():
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


# TPC-H bench anchors: oracled but deliberately registered PAST the driver
# window (r5) — they certify no SURVEY §2 operator, and their slots went to
# the md5-certified dedup rows.  Anything else oracled past the window is a
# registration slip.
# oracled entries deliberately registered PAST the driver's 50-row window
# (it is exactly full of certified rows): the TPC-H bench anchors, and the
# r6 connected-components row — its recursive-CTE oracle still runs in
# tools/check_oracles.py even though the driver window can't reach it.
PARKED_ORACLED = {
    "tpch_q1", "tpch_q3ish", "dedup_cc_clusters",
    # r6 training-data-family rows (decontamination, repetition filters,
    # PII redaction, keep-best cluster resolution) — all oracle-certified
    # by tools/check_oracles.py, parked only because the window is full.
    "decontam_report", "gopher_repetition", "pii_redaction",
    "dedup_keep_best", "domain_mixture", "dedup_cluster_sizes",
    "stream_dedup_admitted", "ann_lsh_recall", "doc_chunks", "dup_span_stats",
    "span_removed_docs", "trigram_quality", "stream_neardup_verdicts",
    "corpus_profile", "stream_embdedup_audit", "gopher_quality", "semdedup",
    "dsir_weights", "crosscorpus_dedup", "semantic_decontam",
    "temperature_mixture", "text_cleaning", "packing_utilization",
    "uniform_sample_k", "token_budget_sample", "score_tertiles",
}


def test_driver_window_fully_oracled():
    """The driver harness runs exactly the FIRST 50 registered queries in
    registration order; a registration slip (an oracled row pushed past
    the cap, or a rows-only entry drifting inside it) silently downgrades
    the correctness gate.  Pin the window: first 50 all oracled, and past
    the window only the oracle-hostile rows-only entries plus the
    explicitly parked bench anchors."""
    qs, os_ = E.queries(), E.oracle_sql()
    names = list(qs)
    in_window = names[:50]
    assert all(n in os_ for n in in_window), [n for n in in_window if n not in os_]
    assert len(os_) == 50 + len(PARKED_ORACLED)
    past = [n for n in names[50:] if n in os_]
    assert set(past) == PARKED_ORACLED, past


def test_all_queries_run_small(spark):
    """Every queries() entry analyzes AND executes at sf0.001.  Counts are
    submitted from a thread pool — Spark job submission is thread-safe and
    overlapping the per-query scheduling/codegen overhead cuts this smoke
    from ~430s to a fraction (the driver re-executes everything at sf0.01
    against the oracles anyway)."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = {name: fn(spark, SF_SMALL) for name, fn in E.queries().items()}  # analysis

    def run(item):
        name, df = item
        return name, df.count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, n in pool.map(run, dfs.items()):
            assert n >= 0, name


def test_parked_oracled_rows_match_their_oracles(spark):
    """The driver window stops at 50 rows, so the PARKED_ORACLED entries
    never get a CORRECTNESS_r{N} row — run the SAME differential here
    (rows + sorted columns + stringified values vs DuckDB) at sf0.01, the
    driver's own scale (the ANN recall rows pin their published-answer
    paths to sf0.01), so the suite itself certifies them, not just
    tools/check_oracles.py."""
    import importlib.util
    import os

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "check_oracles",
        os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracles.py"),
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name in sorted(PARKED_ORACLED):
        sdf = qs[name](spark, SF_ORACLE).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        s_cols, _, s_rows = co.normalize(sdf)
        o_cols, _, o_rows = co.normalize(odf)
        if s_cols != o_cols:
            failures.append((name, f"columns {s_cols} != {o_cols}"))
        elif len(s_rows) != len(o_rows):
            failures.append((name, f"rows {len(s_rows)} != {len(o_rows)}"))
        elif s_rows != o_rows:
            bad = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            failures.append((name, f"value mismatch at sorted row {bad}"))
    assert not failures, failures


def test_bench_headline_queries_registered():
    """bench.py calls its headline queries by name; parking or folding a
    row must never orphan one (the driver's per-round bench run would
    crash, not skip)."""
    import bench

    qs = E.queries()
    missing = [n for n in bench.HEADLINE_QUERIES if n not in qs]
    assert not missing, missing
    assert set(bench.QUERY_REV) <= set(qs)


# ---------------------------------------------------------------------------
# the publish-once helper behind the materialize-then-oracle rows (no Spark)


def _publish_root(monkeypatch, root):
    from oplog_analyzer_spark import entry_queries as EQ

    monkeypatch.setattr(EQ, "_PUBLISH_ROOT", str(root))
    return EQ


def _writer(calls: list, content: str):
    def build(tmp, scratch):
        assert os.path.isdir(scratch)
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part.txt"), "w") as f:
            f.write(content)

    return build


def test_publish_once_second_call_does_not_rebuild(tmp_path, monkeypatch):
    EQ = _publish_root(monkeypatch, tmp_path)
    calls = []
    first = EQ._publish_once("art", _writer(calls, "a"))
    again = EQ._publish_once("art", _writer(calls, "b"))
    assert first == again == str(tmp_path / "art")
    assert len(calls) == 1
    assert (tmp_path / "art" / "part.txt").read_text() == "a"
    assert os.listdir(tmp_path) == ["art"]  # no tmp or scratch dir left


def test_publish_once_new_key_publishes_new_dir(tmp_path, monkeypatch):
    calls = []
    EQ = _publish_root(monkeypatch, tmp_path / "key1")
    old = EQ._publish_once("art", _writer(calls, "old"))
    EQ = _publish_root(monkeypatch, tmp_path / "key2")
    new = EQ._publish_once("art", _writer(calls, "new"))
    assert old != new and len(calls) == 2
    assert (tmp_path / "key1" / "art" / "part.txt").read_text() == "old"
    assert (tmp_path / "key2" / "art" / "part.txt").read_text() == "new"


def test_publish_once_lost_race_returns_winner(tmp_path, monkeypatch):
    EQ = _publish_root(monkeypatch, tmp_path)
    calls = []
    loser = _writer(calls, "loser")

    def build(tmp, scratch):
        _writer([], "winner")(str(tmp_path / "art"), scratch)  # a concurrent winner
        loser(tmp, scratch)

    out = EQ._publish_once("art", build)
    assert out == str(tmp_path / "art") and len(calls) == 1
    assert (tmp_path / "art" / "part.txt").read_text() == "winner"
    assert os.listdir(tmp_path) == ["art"]


def test_publish_once_failed_rename_raises(tmp_path, monkeypatch):
    EQ = _publish_root(monkeypatch, tmp_path)

    def rename(src, dst):
        raise OSError(errno.EXDEV, "cross-device link", src)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError):
        EQ._publish_once("art", _writer([], "a"))
    assert os.listdir(tmp_path) == []


def test_code_key_covers_py_sources_and_zip(tmp_path):
    """The key changes with any .py byte, ignores other files, and reads a
    --py-files zip of the package exactly like the checkout."""
    from importlib.resources import files

    from oplog_analyzer_spark.entry_queries import _code_key

    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "sub" / "b.py").write_text("y = 2\n")
    key = _code_key(pkg)
    assert re.fullmatch(r"[0-9a-f]{12}", key)
    (pkg / "sub" / "b.pyc").write_bytes(b"\0")
    assert _code_key(pkg) == key
    (pkg / "sub" / "b.py").write_text("y = 3\n")
    assert _code_key(pkg) != key

    src = files("oplog_analyzer_spark")
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for path in Path(str(src)).rglob("*.py"):
            rel = path.relative_to(str(src)).as_posix()
            z.write(path, f"oplog_analyzer_spark/{rel}")
    assert _code_key(zipfile.Path(archive, "oplog_analyzer_spark/")) == _code_key(src)


def test_oracle_paths_lie_under_the_keyed_root():
    """Every /tmp path an oracle reads is a published artifact of THIS
    package source, never a fixed path an older build may have filled."""
    from oplog_analyzer_spark.entry_queries import _PUBLISH_ROOT

    assert re.fullmatch(r"/tmp/oplog_spark_published/[0-9a-f]{12}", _PUBLISH_ROOT)
    paths = [
        p for sql in E.oracle_sql().values() for p in re.findall(r"'(/tmp/[^']*)'", sql)
    ]
    assert paths
    assert all(p.startswith(_PUBLISH_ROOT + "/") for p in paths), paths
