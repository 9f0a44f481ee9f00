"""North-rule invariant tests (SURVEY.md §5.3-5.4):
  * parse correctness vs an independent pandas re-implementation
  * routed-row equality (union of sinks == filtered input, each row once)
  * per-turn text equality under stable (conv_id, turn_idx) ordering
  * checkpoint kill-and-resume idempotence
"""

from __future__ import annotations

import json
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oplog_analyzer_spark import transcripts as T
from oplog_analyzer_spark.operators.parse import parse_transcripts, unwind_applyops
from oplog_analyzer_spark.plans.pipeline import TranscriptPipeline


def test_generator_deterministic(spark, transcripts):
    again = T.generate_transcripts(
        spark, num_conversations=120, turns_per_conv=8, hot_every=60, hot_turns=60
    )
    a = sorted(map(tuple, transcripts.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_generator_invariants(transcripts):
    pdf = transcripts.toPandas()
    # turn_idx unique per conv, ts strictly increasing per conv
    for _, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        assert g["turn_idx"].is_unique
        assert g["ts"].is_monotonic_increasing
    # hot conversations exist (skew fixture)
    sizes = pdf.groupby("conv_id").size()
    assert sizes.max() >= 5 * sizes.median()


def _pandas_parse(pdf: pd.DataFrame) -> pd.DataFrame:
    """Independent reference implementation of the parse stage (pure
    pandas, written against the text layout spec — not the Spark code)."""
    out = pd.DataFrame(index=pdf.index)
    # a text without the field's marker yields "" (regexp_extract no-match)
    out["ns"] = pdf["text"].str.extract(r"ns=([a-zA-Z0-9_.$]+)", expand=False).fillna("")
    out["op"] = pdf["text"].str.extract(r"op:([iudcn])", expand=False).fillna("")
    out["size"] = pdf["text"].str.encode("utf-8").str.len()
    diffs = pdf["text"].str.extract(r"diff=(\{.*?\})(?: |$)", expand=False)

    def count_elems(o):
        if isinstance(o, dict):
            return sum(count_elems(v) for v in o.values())
        if isinstance(o, list):
            return sum(count_elems(v) for v in o)
        return 1

    out["diff_fields"] = diffs.map(lambda s: len(json.loads(s)) if isinstance(s, str) else 0)
    out["total_elements"] = diffs.map(
        lambda s: count_elems(json.loads(s)) if isinstance(s, str) else 0
    )
    return out


def _edge_rows(spark):
    """Hand-built rows the generator never emits: no field markers at
    all, multibyte text, and rows without a diff block."""
    texts = [
        "plain text with no field markers",
        'ns=app.users op:u id=42 diff={"a":1,"b":[1,{"c":2}]} größe ✓',
        "ns=app.users op:i id=7 héllo wörld",
        "op:d only an op marker",
    ]
    return spark.createDataFrame(
        [(f"e{i}", i, "user", t, None, None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )


def test_parse_matches_pandas_reference(spark, transcripts):
    for source in (transcripts, _edge_rows(spark)):
        parsed = (
            parse_transcripts(source)
            .withColumn("diff_fields", F.col("diff.diff_fields"))
            .withColumn("total_elements", F.col("diff.total_elements"))
            .toPandas()
        )
        expected = _pandas_parse(parsed)
        for col in ("ns", "op", "size", "diff_fields", "total_elements"):
            pd.testing.assert_series_equal(
                parsed[col].reset_index(drop=True),
                expected[col].reset_index(drop=True),
                check_names=False,
                check_dtype=False,
            )
    edge = {r["turn_idx"]: r for r in parse_transcripts(_edge_rows(spark)).collect()}
    assert [edge[0][c] for c in ("ns", "op", "id", "sub")] == ["", "", "", ""]
    assert (edge[3]["ns"], edge[3]["op"], edge[3]["id"]) == ("", "d", "")
    # multibyte text: size is the byte length, not the character count
    assert edge[1]["size"] == len(edge[1]["text"].encode()) > len(edge[1]["text"])
    assert [tuple(edge[i]["diff"]) for i in range(4)] == [(0, 0), (2, 3), (0, 0), (0, 0)]


def test_unwind_integer_division(spark):
    df = spark.createDataFrame(
        [("x.$cmd", "c", "a.b/i;c.d/u;e.f/i", 100), ("x.y", "i", "", 50)],
        "ns string, op string, sub string, size long",
    )
    out = unwind_applyops(df).collect()
    inner = [r for r in out if r["ns"] != "x.y"]
    # 100 // 3 == 33 — integer division parity (TailCommand.java:657)
    assert sorted((r["ns"], r["op"], r["size"]) for r in inner) == [
        ("a.b", "i", 33), ("c.d", "u", 33), ("e.f", "i", 33),
    ]


def test_routed_row_equality(spark, transcripts, tmp_path):
    pipe = TranscriptPipeline(spark, str(tmp_path / "wd"), T.tool_catalog(spark), num_batches=3)
    pipe.run(transcripts)
    routed = pipe.routed()
    # reference semantics: every non-system input row lands in exactly one
    # sink partition; applyOps rows fan out to k inner rows
    expect = unwind_applyops(
        parse_transcripts(transcripts).filter(~F.col("ns").startswith("config."))
    )
    assert routed.count() == expect.count()
    key_in = expect.groupBy("conv_id", "turn_idx", "ns", "op").count()
    key_out = routed.groupBy("conv_id", "turn_idx", "ns", "op").count()
    assert key_in.exceptAll(key_out).count() == 0
    assert key_out.exceptAll(key_in).count() == 0
    # each input row routes to exactly one category (inner unwound rows
    # inherit the parent's tool → same single category)
    multi_cat = (
        routed.groupBy("conv_id", "turn_idx")
        .agg(F.countDistinct("category").alias("n_cat"))
        .filter(F.col("n_cat") != 1)
    )
    assert multi_cat.count() == 0


@pytest.mark.parametrize("bucket_span", [None, 4, 64])
def test_reassembly_per_turn_text_equality(spark, transcripts, bucket_span):
    from oplog_analyzer_spark.operators.windows import reassemble_conversations

    got = reassemble_conversations(transcripts, bucket_span=bucket_span).toPandas()
    pdf = transcripts.toPandas()
    expected = (
        pdf.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["text"]
        .apply("\n".join)
    )
    full = got.set_index("conv_id")["full_text"]
    pd.testing.assert_series_equal(
        full.sort_index(), expected.sort_index(), check_names=False
    )
    # lineage columns survive the two-phase merge
    n = got.set_index("conv_id")["n_turns"]
    pd.testing.assert_series_equal(
        n.sort_index().astype("int64"),
        pdf.groupby("conv_id").size().sort_index().astype("int64"),
        check_names=False,
    )


def test_reassembly_hot_conversation_splits_across_tasks(spark, transcripts):
    """The hot conversation's phase-1 partials must land on ≥2 distinct
    reduce tasks — the whole point of two-phase vs groupBy(conv_id)."""
    from oplog_analyzer_spark.operators.windows import reassembly_partials

    hot = (
        transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )["conv_id"]
    # at test scale AQE would coalesce the tiny shuffle to 1 partition;
    # at 10^12 turns it would not — pin it off to observe the key spread
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = reassembly_partials(transcripts, bucket_span=4).withColumn(
            "pid", F.spark_partition_id()
        )
        hot_tasks = (
            parts.filter(F.col("conv_id") == hot)
            .select("pid").distinct().count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert hot_tasks >= 2


def test_checkpoint_resume_idempotent(spark, transcripts, tmp_path):
    cat = T.tool_catalog(spark)
    # uninterrupted run
    ref = TranscriptPipeline(spark, str(tmp_path / "ref"), cat, num_batches=4)
    ref.run(transcripts)
    want = sorted(map(tuple, ref.final_aggregates().collect()))

    # killed after 2 batches, then resumed
    pipe = TranscriptPipeline(spark, str(tmp_path / "kill"), cat, num_batches=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(transcripts, fail_after_batch=2)
    state = pipe._load_checkpoint()
    assert len(state["completed"]) == 2
    state2 = pipe.run(transcripts)  # resume
    assert len(state2["completed"]) == 4
    got = sorted(map(tuple, pipe.final_aggregates().collect()))
    assert got == want
    # lineage recorded per batch
    assert all("rows_in" in v and "rows_out" in v for v in state2["completed"].values())


def test_pipeline_file_group_mode_matches_staged(spark, transcripts, tmp_path):
    """input_path mode (zero-copy file-group plan) produces identical final
    aggregates to the stage-once DataFrame mode, and pins its plan in the
    checkpoint."""
    cat = T.tool_catalog(spark)
    src = str(tmp_path / "src")
    transcripts.repartition(6).write.parquet(src)

    staged = TranscriptPipeline(spark, str(tmp_path / "a"), cat, num_batches=3)
    staged.run(transcripts)

    filemode = TranscriptPipeline(spark, str(tmp_path / "b"), cat, num_batches=3)
    state = filemode.run(input_path=src)
    # the pinned plan lives in a write-once sidecar; the checkpoint itself
    # stays O(num_batches) no matter how many input files exist
    assert "file_plan" in state and state["file_plan_n_files"] >= 6
    groups = filemode._file_groups(state)
    assert len(groups) == 3 and sum(len(g) for g in groups) >= 6
    import json as _json
    import os as _os

    assert _os.path.getsize(filemode.checkpoint_path) < 4096
    # the sidecar path is stored RELATIVE to work_dir (ADVICE r04:
    # a moved/renamed work_dir must still resume)
    assert not _os.path.isabs(state["file_plan"])
    with open(_os.path.join(filemode.work_dir, state["file_plan"])) as f:
        assert _json.load(f)["groups"] == groups
    # relocation: a pipeline pointed at a MOVED copy of the work_dir
    # resolves the same plan
    import shutil as _shutil
    moved = str(tmp_path / "b_moved")
    _shutil.copytree(filemode.work_dir, moved)
    relocated = TranscriptPipeline(spark, moved, cat, num_batches=3)
    assert relocated._file_groups(state) == groups
    a = sorted(map(tuple, staged.final_aggregates().collect()))
    b = sorted(map(tuple, filemode.final_aggregates().collect()))
    assert a == b
    # lineage totals match the input row count (no per-batch rescans needed)
    assert sum(v["rows_in"] for v in state["completed"].values()) == transcripts.count()


def test_pipeline_file_plan_via_hadoop_fs_uri(spark, transcripts, tmp_path):
    """The file-group plan must come from the Hadoop FileSystem API, not
    os.walk (VERDICT r03 #6): a ``file:`` URI input_path — which os.walk
    cannot list — plans, runs, and matches the plain-path results; the
    pinned plan stores fully-qualified URIs."""
    cat = T.tool_catalog(spark)
    src = str(tmp_path / "src_uri")
    transcripts.repartition(4).write.parquet(src)

    plain = TranscriptPipeline(spark, str(tmp_path / "p"), cat, num_batches=2)
    plain.run(input_path=src)

    # kill after batch 0, resume with a FRESH object: the plan reloads
    # from the write-once sidecar, not from driver memory
    uri = TranscriptPipeline(spark, str(tmp_path / "u"), cat, num_batches=2)
    with pytest.raises(RuntimeError):
        uri.run(input_path="file://" + src, fail_after_batch=1)
    uri2 = TranscriptPipeline(spark, str(tmp_path / "u"), cat, num_batches=2)
    state = uri2.run(input_path="file://" + src)
    planned = [f for g in uri2._file_groups(state) for f in g]
    assert planned and all(f.startswith("file:") for f in planned)
    a = sorted(map(tuple, plain.final_aggregates().collect()))
    b = sorted(map(tuple, uri2.final_aggregates().collect()))
    assert a == b


def test_pipeline_rejects_inline_file_groups_checkpoint(spark, tmp_path):
    """A checkpoint that inlines its plan as ``file_groups`` (no sidecar)
    is no longer read.  Re-planning it would keep its completed entries
    against a new plan and skip them, so run() raises instead."""
    inline = {
        "completed": {"0": {"rows_in": 1, "rows_out": 1, "path": None}},
        "file_groups": [["a.parquet"], ["b.parquet"]],
        "mode": "file_groups",
        "num_batches": 2,
    }
    wd = tmp_path / "wd_l"
    wd.mkdir()
    (wd / "checkpoint.json").write_text(json.dumps(inline))
    pipe = TranscriptPipeline(spark, str(wd), T.tool_catalog(spark), num_batches=2)
    with pytest.raises(ValueError, match="use a fresh work_dir"):
        pipe.run(input_path=str(tmp_path / "src"))


def test_pipeline_resume_adopts_checkpointed_num_batches(spark, transcripts, tmp_path):
    """Resuming with a different --batches must NOT reinterpret batch ids
    under a new modulus (ADVICE: silent dup/drop)."""
    cat = T.tool_catalog(spark)
    wd = str(tmp_path / "wd")
    p1 = TranscriptPipeline(spark, wd, cat, num_batches=3)
    with pytest.raises(RuntimeError):
        p1.run(transcripts, fail_after_batch=1)
    p2 = TranscriptPipeline(spark, wd, cat, num_batches=8)  # wrong CLI value
    state = p2.run(transcripts)
    assert p2.num_batches == 3  # adopted from checkpoint
    assert len(state["completed"]) == 3


def test_pipeline_rejects_batch_mode_mixing(spark, transcripts, tmp_path):
    """A work_dir completed in staged mode re-run in file-group mode (or
    vice versa) must raise, not silently skip every batch against a
    different plan (ADVICE r02)."""
    cat = T.tool_catalog(spark)
    wd = str(tmp_path / "wd")
    src = str(tmp_path / "src")
    transcripts.write.mode("overwrite").parquet(src)
    TranscriptPipeline(spark, wd, cat, num_batches=2).run(transcripts)
    with pytest.raises(ValueError, match="batch mode"):
        TranscriptPipeline(spark, wd, cat, num_batches=2).run(input_path=src)


def test_pipeline_empty_input_reports_zero_rows(spark, tmp_path):
    """Every file group empty → no batch directory; final_aggregates must
    report zero rows instead of crashing on the glob read (ADVICE r02)."""
    cat = T.tool_catalog(spark)
    src = str(tmp_path / "empty_src")
    import os

    os.makedirs(src, exist_ok=True)  # input dir with no parquet files
    pipe = TranscriptPipeline(spark, str(tmp_path / "wd"), cat, num_batches=3)
    state = pipe.run(input_path=src)
    assert all(v["path"] is None for v in state["completed"].values())
    assert pipe.final_aggregates().count() == 0


def test_routed_schema_identical_empty_vs_nonempty(spark, transcripts, tmp_path):
    """ADVICE r03: routed() must expose the SAME schema (names, types,
    order) whether or not any batch produced output — no stray ``batch``
    partition column on the non-empty path, no pre-join column order on
    the empty fallback; unions and positional consumers bind identically."""
    import os

    cat = T.tool_catalog(spark)
    src = str(tmp_path / "no_rows")
    os.makedirs(src, exist_ok=True)
    empty_pipe = TranscriptPipeline(spark, str(tmp_path / "wd_e"), cat, num_batches=2)
    empty_pipe.run(input_path=src)
    full_pipe = TranscriptPipeline(spark, str(tmp_path / "wd_f"), cat, num_batches=2)
    full_pipe.run(transcripts)
    assert full_pipe.routed().count() > 0
    assert empty_pipe.routed().schema == full_pipe.routed().schema
    # unioning the two shapes (the consumer pattern that broke) works
    assert (
        empty_pipe.routed().unionAll(full_pipe.routed()).count()
        == full_pipe.routed().count()
    )


def test_pipeline_skips_completed_batches(spark, transcripts, tmp_path):
    pipe = TranscriptPipeline(spark, str(tmp_path / "wd2"), T.tool_catalog(spark), num_batches=2)
    s1 = pipe.run(transcripts)
    wall1 = {k: v["wall_sec"] for k, v in s1["completed"].items()}
    s2 = pipe.run(transcripts)  # second run: all batches already complete
    wall2 = {k: v["wall_sec"] for k, v in s2["completed"].items()}
    assert wall1 == wall2  # untouched checkpoint entries → nothing re-ran


def test_unwind_parity_modes(spark):
    """keep_parent/only_cmd_ns recover the reference's exact unwind
    semantics (TailCommand.java:637-668 + ~695)."""
    df = spark.createDataFrame(
        [
            ("x.$cmd", "c", "a.b/i;c.d/u", 100),   # $cmd batch
            ("x.other", "c", "e.f/i", 60),          # batch marker, non-$cmd ns
            ("x.y", "i", "", 50),                   # plain row
        ],
        "ns string, op string, sub string, size long",
    )
    # reference mode: parent kept, only .$cmd unwinds
    ref = sorted(
        (r["ns"], r["op"], r["size"])
        for r in unwind_applyops(df, keep_parent=True, only_cmd_ns=True).collect()
    )
    assert ref == [
        ("a.b", "i", 50), ("c.d", "u", 50),
        ("x.$cmd", "c", 100),               # parent accumulated too
        ("x.other", "c", 60),               # non-$cmd ns NOT unwound
        ("x.y", "i", 50),
    ]
    # default mode: parent replaced, any sub-marked command unwinds
    dflt = sorted(
        (r["ns"], r["op"], r["size"]) for r in unwind_applyops(df).collect()
    )
    assert dflt == [
        ("a.b", "i", 50), ("c.d", "u", 50), ("e.f", "i", 60), ("x.y", "i", 50),
    ]


def test_role_catalog_enrich_consistency(spark, transcripts):
    """The role→op-class broadcast dimension (north_star enrich on role):
    every parsed row's op equals its role's op_class after the lookup."""
    from oplog_analyzer_spark.operators.parse import parse_transcripts

    parsed = parse_transcripts(transcripts, with_diff_stats=False)
    dim = T.role_catalog(spark)
    joined = parsed.join(F.broadcast(dim), on="role", how="left")
    assert joined.filter(F.col("op_class").isNull()).count() == 0
    assert joined.filter(F.col("op") != F.col("op_class")).count() == 0


def test_unwind_string_explode_edge_shapes(spark):
    """r7 rewrite (string-array explode + codegen post-project) must keep
    the old struct-transform semantics exactly: a NULL sub row passes
    through as parent, and a malformed element without '/' raises the
    same ANSI array-index error the old ``F.transform`` form raised
    (verified against the pre-rewrite implementation)."""
    df = spark.createDataFrame(
        [
            ("x.$cmd", "c", "a.b/i;c.d/u", 100),
            ("x.y", "c", None, 50),  # null sub → parent pass-through
        ],
        "ns string, op string, sub string, size long",
    )
    out = sorted(
        (r["ns"], r["op"], r["size"]) for r in unwind_applyops(df).collect()
    )
    assert out == [
        ("a.b", "i", 50),
        ("c.d", "u", 50),
        ("x.y", "c", 50),          # null sub passes through unchanged
    ]
    bad = spark.createDataFrame(
        [("x.$cmd", "c", "a.b/i;noslash", 100)],
        "ns string, op string, sub string, size long",
    )
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        unwind_applyops(bad).collect()
