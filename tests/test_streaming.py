"""Streaming tail analog: incremental drain equals batch recompute, and new
files arriving between runs are picked up exactly once (resume via stream
checkpoint — the T8 extension the reference lacks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oplog_analyzer_spark import transcripts as T
from oplog_analyzer_spark.operators.aggregate import ns_op_report
from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
from oplog_analyzer_spark.operators.parse import parse_transcripts
from oplog_analyzer_spark.streaming.tail import TailStream


def _expected_report(spark, input_dir):
    df = spark.read.parquet(input_dir)
    parsed = exclude_system_namespaces(parse_transcripts(df, with_diff_stats=False))
    return {
        (r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"], r["max_size"], r["avg_size"])
        for r in ns_op_report(parsed).collect()
    }


def test_tail_incremental_equals_batch(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    first = T.generate_transcripts(spark, num_conversations=60, seed=42)
    first.coalesce(2).write.mode("append").parquet(input_dir)

    tail = TailStream(spark, input_dir, str(tmp_path / "wd"))
    tail.run_available()
    got1 = {
        (r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"], r["max_size"], r["avg_size"])
        for r in tail.report().collect()
    }
    assert got1 == _expected_report(spark, input_dir)

    # new data arrives (different seed → different rows); second drain must
    # consume ONLY the new files (checkpointed offsets) yet the cumulative
    # report equals a full batch recompute
    more = T.generate_transcripts(spark, num_conversations=40, seed=99)
    more.coalesce(2).write.mode("append").parquet(input_dir)
    tail.run_available()
    got2 = {
        (r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"], r["max_size"], r["avg_size"])
        for r in tail.report().collect()
    }
    assert got2 == _expected_report(spark, input_dir)
    assert sum(v[0] for v in got2.values()) > sum(v[0] for v in got1.values())

    # heartbeat metrics recorded per micro-batch (T3)
    m = spark.read.parquet(tail.metrics_dir)
    assert m.count() >= 2
    assert m.agg(F.sum("rows")).collect()[0][0] == spark.read.parquet(input_dir).count()


def test_tail_replayed_batch_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a micro-batch with the
    same batch_id (crash between sink write and offset commit) must leave
    the cumulative report and heartbeat metrics unchanged."""
    input_dir = str(tmp_path / "in3")
    T.generate_transcripts(spark, num_conversations=30).coalesce(1).write.parquet(input_dir)
    tail = TailStream(spark, input_dir, str(tmp_path / "wd3"))
    batch = spark.read.parquet(input_dir)

    tail._sink_batch(batch, 0)
    once = sorted(map(tuple, tail.report().collect()))
    rows_once = spark.read.parquet(tail.metrics_dir).agg(F.sum("rows")).collect()[0][0]

    tail._sink_batch(batch, 0)  # replay
    twice = sorted(map(tuple, tail.report().collect()))
    rows_twice = spark.read.parquet(tail.metrics_dir).agg(F.sum("rows")).collect()[0][0]
    assert once == twice
    assert rows_once == rows_twice


def test_tail_lag_metric(spark, tmp_path):
    input_dir = str(tmp_path / "in2")
    T.generate_transcripts(spark, num_conversations=10).coalesce(1).write.parquet(input_dir)
    tail = TailStream(spark, input_dir, str(tmp_path / "wd2"))
    tail.run_available()
    lag = tail.lag_seconds("2025-06-01 00:00:00").collect()[0]["lag_sec"]
    assert lag > 0
    # wallclock before every event → clamped to 0 (TailCommand.java:1073)
    lag0 = tail.lag_seconds("2020-01-01 00:00:00").collect()[0]["lag_sec"]
    assert lag0 == 0


def test_tail_threshold_buckets_incremental(spark, tmp_path):
    """A3 buckets in tail mode (the reference's --thresholdBuckets on the
    tail command): bucket counters accumulate through the per-batch
    partials and the cumulative counts equal a batch recompute over both
    drains' input."""
    input_dir = str(tmp_path / "in_b")
    T.generate_transcripts(spark, num_conversations=50, seed=7).coalesce(
        2
    ).write.mode("append").parquet(input_dir)

    tail = TailStream(spark, input_dir, str(tmp_path / "wd_b"), buckets=(90, 120))
    tail.run_available()
    T.generate_transcripts(spark, num_conversations=30, seed=8).coalesce(
        2
    ).write.mode("append").parquet(input_dir)
    tail.run_available()

    got = {
        (r["ns"], r["op"]): (r["count"], r["gt_90"], r["gt_120"])
        for r in tail.report().collect()
    }
    batch = exclude_system_namespaces(
        parse_transcripts(spark.read.parquet(input_dir), with_diff_stats=False)
    )
    want = {
        (r["ns"], r["op"]): (r["count"], r["gt_90"], r["gt_120"])
        for r in ns_op_report(batch, buckets=(90, 120)).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in got.values())  # buckets non-vacuous


# -- r5: the full TailCommand option battery on the streaming path ---------

import pytest

from oplog_analyzer_spark.operators import filters as FL
from oplog_analyzer_spark.operators.aggregate import id_stats, top_k_ids


def _battery_batch_user(spark, input_dir, ns_list, min_size, max_size):
    """Batch-side recompute of the tail battery's filtered per-row stream
    (same composition as TailStream._apply_filters + system-ns exclusion)."""
    parsed = parse_transcripts(spark.read.parquet(input_dir), with_diff_stats=False)
    df = FL.include_namespaces(parsed, ns_list)
    df = FL.size_range(df, min_size, max_size)
    return exclude_system_namespaces(df)


def test_tail_full_battery_incremental_equals_batch(spark, tmp_path):
    """The reference flagship `tail -t N --idStats --dump --includeNamespace
    ... --fetchDocSizes` (TailCommand.java:74-123) as a resumable stream:
    after two grow-the-directory drains, every cumulative surface — main
    accumulator, F5 over-threshold report + raw rows, A5/A6 id stats with
    the -1 doc-size sentinel, dump sink — equals the one-shot batch
    recompute over the union of both drains' input."""
    input_dir = str(tmp_path / "in_fb")
    T.generate_transcripts(spark, num_conversations=60, seed=21).coalesce(2).write.mode(
        "append"
    ).parquet(input_dir)

    ns_list = [f"db{d}.coll{c}" for d in range(4) for c in range(8) if (d + c) % 2 == 0]
    # doc-size dimension covering only SOME (ns,id) pairs → the uncovered
    # rest exercises the -1 "unknown" sentinel (TailCommand.java:398-463)
    parsed0 = parse_transcripts(spark.read.parquet(input_dir), with_diff_stats=False)
    dim_dir = str(tmp_path / "doc_sizes")
    (
        parsed0.select("ns", "id").distinct()
        .filter(F.pmod(F.xxhash64("ns", "id"), F.lit(2)) == 0)
        .withColumn("doc_size", (F.pmod(F.xxhash64(F.lit(5), "id"), F.lit(900)) + 100))
        .write.parquet(dim_dir)
    )

    kw = dict(
        include_namespaces=ns_list, min_size=50, max_size=130,
        threshold=100, full_document=True, dump=True,
        id_stats=True, id_stats_threshold=70, doc_sizes_path=dim_dir,
    )
    tail = TailStream(spark, input_dir, str(tmp_path / "wd_fb"), **kw)
    tail.run_available()
    T.generate_transcripts(spark, num_conversations=40, seed=22).coalesce(2).write.mode(
        "append"
    ).parquet(input_dir)
    tail.run_available()  # resumes: consumes only the new files

    user = _battery_batch_user(spark, input_dir, ns_list, 50, 130)

    # main cumulative accumulator == batch
    got = {(r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"],
                                r["max_size"], r["avg_size"])
           for r in tail.report().collect()}
    want = {(r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"],
                                 r["max_size"], r["avg_size"])
            for r in ns_op_report(user).collect()}
    assert got == want and got

    # F5 cumulative over-threshold side output == batch filter >= 150
    got_over = {(r["ns"], r["op"]): (r["count"], r["total_size"])
                for r in tail.over_threshold_report().collect()}
    want_over = {(r["ns"], r["op"]): (r["count"], r["total_size"])
                 for r in ns_op_report(user.filter(F.col("size") >= 100)).collect()}
    assert got_over == want_over and got_over
    # --fullDocument raw over-threshold rows, exactly once across drains
    over_rows = spark.read.option("basePath", tail.over_rows_dir).parquet(
        tail.over_rows_dir + "/batch_id=*"
    )
    assert over_rows.count() == user.filter(F.col("size") >= 100).count()

    # A5 cumulative id stats (with doc-size sentinel algebra) == batch
    dim = spark.read.parquet(dim_dir)
    src = FL.id_stats_threshold(user, 70).join(
        F.broadcast(dim), on=["ns", "id"], how="left"
    ).withColumn("doc_size", F.coalesce(F.col("doc_size"), F.lit(-1).cast("long")))
    want_ids = {(r["ns"], r["id"]): tuple(r)[2:] for r in id_stats(
        src, doc_size_col="doc_size").collect()}
    got_ids = {(r["ns"], r["id"]): tuple(r)[2:] for r in tail.id_stats_report().collect()}
    assert got_ids == want_ids and got_ids
    # sentinel branch non-vacuous: some ids have doc_size_count < count
    assert any(r[-1] < r[0] for r in got_ids.values())
    assert any(r[-1] > 0 for r in got_ids.values())
    # A6 top-k over the merged stats matches batch top-k
    got_top = [tuple(r) for r in tail.top_ids(5).collect()]
    want_top = [tuple(r) for r in top_k_ids(id_stats(src, doc_size_col="doc_size"), k=5).collect()]
    assert got_top == want_top

    # dump sink rows (cumulative, exactly-once) == the filtered stream
    key = ["conv_id", "turn_idx", "ns", "op", "size"]
    got_dump = sorted(map(tuple, tail.dumped_rows().select(*key).collect()))
    want_dump = sorted(map(tuple, user.select(*key).collect()))
    assert got_dump == want_dump


def test_tail_shard_subset_and_dump_with_shard(spark, tmp_path):
    """F8 + --dumpWithShard on the streaming path: only the requested
    synthesized shards flow, and the dump is hive-partitioned by shard."""
    input_dir = str(tmp_path / "in_sh")
    T.generate_transcripts(spark, num_conversations=50, seed=31).coalesce(2).write.parquet(
        input_dir
    )
    tail = TailStream(
        spark, input_dir, str(tmp_path / "wd_sh"),
        shard_index=[0, 2], n_shards=4, dump=True, dump_with_shard=True,
    )
    tail.run_available()

    parsed = parse_transcripts(spark.read.parquet(input_dir), with_diff_stats=False)
    want_user = exclude_system_namespaces(
        parsed.withColumn(
            "shard", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
        ).filter(F.col("shard").isin([0, 2]))
    )
    dumped = tail.dumped_rows()
    assert set(r["shard"] for r in dumped.select("shard").distinct().collect()) <= {0, 2}
    key = ["conv_id", "turn_idx", "shard", "size"]
    assert sorted(map(tuple, dumped.select(*key).collect())) == sorted(
        map(tuple, want_user.select(*key).collect())
    )
    # accumulator restricted to the shard subset too
    got_n = sum(r["count"] for r in tail.report().collect())
    assert got_n == want_user.count() > 0


def test_tail_meta_mismatch_raises(spark, tmp_path):
    """ADVICE r04: resuming a work_dir under a different accumulator-defining
    configuration must raise at init, not silently merge mismatched
    partials."""
    wd = str(tmp_path / "wd_meta")
    TailStream(spark, str(tmp_path / "in"), wd, buckets=(90,))
    # identical config resumes fine
    TailStream(spark, str(tmp_path / "in"), wd, buckets=(90,))
    with pytest.raises(ValueError, match="different tail configuration"):
        TailStream(spark, str(tmp_path / "in"), wd, buckets=(90, 120))
    with pytest.raises(ValueError, match="different tail configuration"):
        TailStream(spark, str(tmp_path / "in"), wd, buckets=(90,), id_stats=True)


def test_tail_modifier_flags_require_base_option(spark, tmp_path):
    """A modifier flag without its base option would silently no-op (and
    the meta pinning would then block fixing it in the same work_dir) —
    reject at init instead."""
    with pytest.raises(ValueError, match="dump_with_shard requires"):
        TailStream(spark, str(tmp_path / "in"), str(tmp_path / "wd1"),
                   dump_with_shard=True)
    with pytest.raises(ValueError, match="full_document requires"):
        TailStream(spark, str(tmp_path / "in"), str(tmp_path / "wd2"),
                   full_document=True)


def test_tail_continuous_trigger_feeds_while_running(spark, tmp_path):
    """T1/T5 full parity: the forever-tail (processingTime trigger) picks
    up files written WHILE it runs, a graceful stop drains it, and the
    cumulative report equals one batch recompute over everything —
    then an AvailableNow drain resumes the SAME checkpoint without
    reprocessing (trigger handoff)."""
    import time

    input_dir = str(tmp_path / "in_cont")
    T.generate_transcripts(spark, num_conversations=40, seed=3).coalesce(2).write.mode(
        "append"
    ).parquet(input_dir)
    tail = TailStream(spark, input_dir, str(tmp_path / "wd_cont"))

    def processed_rows() -> int:
        import os
        if not os.path.isdir(tail.metrics_dir):
            return 0
        try:
            return (
                spark.read.parquet(tail.metrics_dir).agg(F.sum("rows")).collect()[0][0]
                or 0
            )
        except Exception:  # in-flight batch dir, schema not yet readable
            return 0

    def wait_until(target: int, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if processed_rows() >= target:
                return
            time.sleep(0.5)
        raise AssertionError(
            f"continuous tail never reached {target} rows "
            f"(got {processed_rows()})"
        )

    q = tail.run_continuous(processing_time="1 second")
    try:
        assert q.isActive
        n1 = spark.read.parquet(input_dir).count()
        wait_until(n1)
        # new files arrive while the query is LIVE — no restart involved
        T.generate_transcripts(spark, num_conversations=25, seed=7).coalesce(
            2
        ).write.mode("append").parquet(input_dir)
        total = spark.read.parquet(input_dir).count()
        assert total > n1
        wait_until(total)
    finally:
        q.stop()  # graceful drain: between/mid-batch, sinks are idempotent
        q.awaitTermination()
    assert not q.isActive and q.exception() is None

    got = {
        (r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"],
                             r["max_size"], r["avg_size"])
        for r in tail.report().collect()
    }
    assert got == _expected_report(spark, input_dir)

    # handoff: an AvailableNow drain over the same work_dir sees nothing
    # new (shared checkpoint) and the report is unchanged
    tail2 = TailStream(spark, input_dir, str(tmp_path / "wd_cont"))
    tail2.run_available()
    got2 = {
        (r["ns"], r["op"]): (r["count"], r["total_size"], r["min_size"],
                             r["max_size"], r["avg_size"])
        for r in tail2.report().collect()
    }
    assert got2 == got


def test_tail_zero_batch_reports_empty(spark, tmp_path):
    """A tail whose drain produced ZERO micro-batches (fresh/empty input
    dir) must report empty, exactly like a zero-row batch pass, instead of
    raising on the missing partials glob (ADVICE r05)."""
    import os

    input_dir = str(tmp_path / "in_empty")
    os.makedirs(input_dir)
    tail = TailStream(
        spark, input_dir, str(tmp_path / "wd_empty"),
        buckets=(90,), threshold=50, id_stats=True,
    )
    tail.run_available()  # no files → foreachBatch never fires
    assert tail.report().collect() == []
    assert tail.over_threshold_report().collect() == []
    assert tail.id_stats_report().collect() == []
    assert tail.top_ids().collect() == []
    # and the report schema matches a real pass (merge columns + avg)
    assert {"ns", "op", "count", "total_size", "gt_90", "avg_size"} <= set(
        tail.report().columns
    )


def test_tail_meta_pins_doc_sizes_dimension(spark, tmp_path):
    """ADVICE r05: --doc-sizes defines the MEANING of the per-id doc-size
    partials; resuming with a different path OR refreshed contents at the
    same path must raise like any other accumulator-defining option."""
    dim_a = str(tmp_path / "dim_a")
    dim_b = str(tmp_path / "dim_b")
    spark.createDataFrame(
        [("db0.c", "x", 10)], "ns string, id string, doc_size long"
    ).write.parquet(dim_a)
    spark.createDataFrame(
        [("db0.c", "x", 99)], "ns string, id string, doc_size long"
    ).write.parquet(dim_b)

    wd = str(tmp_path / "wd_dim")
    TailStream(spark, str(tmp_path / "in"), wd, id_stats=True,
               doc_sizes_path=dim_a)
    # same path, same contents → resumes
    TailStream(spark, str(tmp_path / "in"), wd, id_stats=True,
               doc_sizes_path=dim_a)
    # different path → raises
    with pytest.raises(ValueError, match="different tail configuration"):
        TailStream(spark, str(tmp_path / "in"), wd, id_stats=True,
                   doc_sizes_path=dim_b)
    # SAME path, refreshed contents → the fingerprint catches it
    spark.createDataFrame(
        [("db0.c", "x", 77)], "ns string, id string, doc_size long"
    ).write.mode("overwrite").parquet(dim_a)
    with pytest.raises(ValueError, match="different tail configuration"):
        TailStream(spark, str(tmp_path / "in"), wd, id_stats=True,
                   doc_sizes_path=dim_a)


# --- streaming exact dedup (r6: §2.11 × streaming) --------------------------


def _docs_frame(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_dedup_stream_two_drains_equal_batch(spark, tmp_path):
    """Two checkpoint-resumed drains over an id-ordered feed (duplicates
    both within and across drains) must equal batch exact_dedup: same keep
    id per normalized text, same duplicate counts."""
    import os

    from oplog_analyzer_spark.functions.dedup import exact_dedup
    from oplog_analyzer_spark.streaming.dedup_stream import DedupStream

    input_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    os.makedirs(input_dir)

    first = [(0, "alpha beta gamma"), (1, "  ALPHA  beta gamma "),  # dup of 0
             (2, "unique one")]
    second = [(3, "alpha beta gamma"),       # cross-drain dup of 0
              (4, "unique two"), (5, "unique two extra"),
              (6, "Unique Two")]             # dup of 4 (case/space norm)
    _docs_frame(spark, first).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "s1")
    )
    for f in os.listdir(str(tmp_path / "s1")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "s1" / f), os.path.join(input_dir, "a.parquet"))
    DedupStream(spark, input_dir, work).run_available()

    _docs_frame(spark, second).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "s2")
    )
    for f in os.listdir(str(tmp_path / "s2")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "s2" / f), os.path.join(input_dir, "b.parquet"))
    # FRESH DedupStream over the same work_dir: checkpointed offsets mean
    # only the delta file is read
    DedupStream(spark, input_dir, work).run_available()

    got = {
        r["text_hash"]: (r["keep_id"], r["dup_count"])
        for r in DedupStream(spark, input_dir, work).admitted().collect()
    }
    batch = {
        r["text_hash"]: (r["keep_id"], r["dup_count"])
        for r in exact_dedup(spark.read.parquet(input_dir)).collect()
    }
    assert got == batch
    assert got[[h for h, v in got.items() if v[0] == 0][0]][1] == 3  # 0,1,3

    # replay idempotency: draining again with no new files changes nothing
    DedupStream(spark, input_dir, work).run_available()
    again = {
        r["text_hash"]: (r["keep_id"], r["dup_count"])
        for r in DedupStream(spark, input_dir, work).admitted().collect()
    }
    assert again == got

    turned = DedupStream(spark, input_dir, work).duplicates_turned_away()
    assert {r["dup_count"] for r in turned.collect()} == {2, 3}


def test_dedup_stream_meta_pinned_and_empty_report(spark, tmp_path):
    import os

    import pytest

    from oplog_analyzer_spark.streaming.dedup_stream import DedupStream

    input_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    os.makedirs(input_dir)
    s = DedupStream(spark, input_dir, work)
    # no micro-batch ever ran -> reports print empty, not raise
    assert s.admitted().count() == 0
    with pytest.raises(ValueError, match="different dedup-stream"):
        DedupStream(spark, input_dir, work, text_col="body")


def _neardup_batch_expected(spark, df, num_hashes=16, bands=4, min_match=12):
    """Ground truth for NearDupStream under an id-ordered feed: the same
    signature-estimate greedy-predecessor semantics computed in ONE batch
    pass (predecessor = smaller id)."""
    from pyspark.sql import functions as F

    from oplog_analyzer_spark.functions.dedup import (
        minhash_banded,
        minhash_signatures,
        signature_match_count,
    )

    sigs = minhash_signatures(df, "doc_id", "text", num_hashes, 3, "md5")
    banded = minhash_banded(sigs, num_hashes, bands, "md5")
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(sigs.select(F.col("id"), F.col("sig").alias("sig_a")),
                  cand.id_a == F.col("id")).drop("id")
        .join(sigs.select(F.col("id"), F.col("sig").alias("sig_b")),
              cand.id_b == F.col("id")).drop("id")
        .filter(signature_match_count(F.col("sig_a"), F.col("sig_b")) >= min_match)
    )
    rejects = {r["id_b"] for r in verified.select("id_b").distinct().collect()}
    all_ids = {r["doc_id"] for r in df.select("doc_id").collect()}
    return {i: i not in rejects for i in all_ids}


def test_neardup_stream_two_drains_equal_batch_semantics(spark, tmp_path):
    """Streaming minhash/LSH admission over two checkpoint-resumed drains
    (near-dups within a batch, across drains, and a chain through a
    REJECTED doc) equals the one-pass batch computation of the same
    greedy-predecessor estimator semantics."""
    import os

    from oplog_analyzer_spark.streaming.dedup_stream import NearDupStream

    input_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    os.makedirs(input_dir)

    base = "the quick brown fox jumps over the lazy dog in the misty morning"
    first = [
        (0, base),
        (1, base),                                    # exact clone -> reject
        (2, "completely different words about spark shuffles and parquet files"),
        (3, "a third document with its own vocabulary entirely unrelated"),
    ]
    second = [
        (10, base + " tonight"),                      # near-dup of 0 (cross-drain)
        (11, "fresh text for the second drain nothing like the others here"),
        (12, first[2][1]),                            # clone of 2 (cross-drain)
        (13, "fresh text for the second drain nothing like the others here"),
        # ^ clone of 11, within-batch
        (20, base + " tonight"),                      # clone of 10 — rejected
        # even though 10 itself is (likely) rejected: predecessor semantics
    ]

    def land(rows, name):
        stage = str(tmp_path / ("s_" + name))
        _docs_frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f),
                          os.path.join(input_dir, f"{name}.parquet"))

    land(first, "a")
    NearDupStream(spark, input_dir, work, max_files_per_trigger=64).run_available()
    land(second, "b")
    NearDupStream(spark, input_dir, work, max_files_per_trigger=64).run_available()

    s = NearDupStream(spark, input_dir, work, max_files_per_trigger=64)
    got = {r["id"]: r["admitted"] for r in s.verdicts().collect()}
    want = _neardup_batch_expected(spark, spark.read.parquet(input_dir))
    assert got == want
    # the planted structure actually fired
    assert got[0] and not got[1] and not got[12] and not got[13] and not got[20]
    # batch attribution: drain 1 docs are batch 0, drain 2 docs batch 1
    batches = {r["id"]: r["batch_id"] for r in s.verdicts().collect()}
    assert batches[0] == 0 and batches[10] == 1

    # replay idempotency: a third drain with no new files changes nothing
    NearDupStream(spark, input_dir, work, max_files_per_trigger=64).run_available()
    again = {r["id"]: r["admitted"] for r in s.verdicts().collect()}
    assert again == got


def test_neardup_stream_meta_and_validation(spark, tmp_path):
    import os

    import pytest

    from oplog_analyzer_spark.streaming.dedup_stream import NearDupStream

    input_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    os.makedirs(input_dir)
    s = NearDupStream(spark, input_dir, work)
    assert s.verdicts().count() == 0          # no batch ever ran -> empty
    with pytest.raises(ValueError, match="different near-dup-stream"):
        NearDupStream(spark, input_dir, work, min_match=9)
    with pytest.raises(ValueError, match="min_match"):
        NearDupStream(spark, input_dir, str(tmp_path / "w2"),
                      num_hashes=16, min_match=17)
    with pytest.raises(ValueError, match="bands"):
        NearDupStream(spark, input_dir, str(tmp_path / "w3"),
                      num_hashes=16, bands=5)


def _emb_frame(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )


def _embdedup_batch_expected(spark, df, threshold=0.9, n_planes=6,
                             n_tables=2, dim=8, seed=42):
    """Ground truth for EmbNearDupStream under an id-ordered feed: the same
    bucket-candidate + exact-cosine greedy-predecessor semantics in ONE
    pass (predecessor = smaller id)."""
    from pyspark.sql import functions as F

    from oplog_analyzer_spark.functions.similarity import (
        _dot,
        lsh_signatures,
        make_planes,
        normalize,
    )

    planes = make_planes(dim, n_tables * n_planes, seed)
    norm = normalize(df, "embedding").select(F.col("vec_id").alias("id"), "v")
    buckets = lsh_signatures(norm, planes, "id", "v", n_tables).select(
        "id", F.posexplode("sigs").alias("table", "bucket")
    )
    probes = buckets.withColumn(
        "bucket",
        F.explode(F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )),
    )
    cand = (
        probes.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(norm.select(F.col("id"), F.col("v").alias("va")),
                  cand.id_a == F.col("id")).drop("id")
        .join(norm.select(F.col("id"), F.col("v").alias("vb")),
              cand.id_b == F.col("id")).drop("id")
        .filter(_dot(F.col("va"), F.col("vb")) >= threshold)
    )
    rejects = {r["id_b"] for r in verified.select("id_b").distinct().collect()}
    return {r["vec_id"]: r["vec_id"] not in rejects
            for r in df.select("vec_id").collect()}


def test_emb_neardup_stream_two_drains_equal_batch_semantics(spark, tmp_path):
    """Streaming embedding near-dup (hyperplane LSH + exact cosine) over
    two checkpoint-resumed drains equals the one-pass batch computation of
    the same greedy-predecessor semantics."""
    import os

    from oplog_analyzer_spark.streaming.dedup_stream import EmbNearDupStream

    input_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    os.makedirs(input_dir)

    e = [0.0] * 8
    def vec(*pairs):
        v = list(e)
        for i, x in pairs:
            v[i] = x
        return v

    first = [
        (0, vec((0, 1.0))),
        (1, vec((0, 2.0))),                    # same direction -> cos 1.0, reject
        (2, vec((1, 1.0))),                    # orthogonal, admitted
        (3, vec((2, 1.0), (3, 0.2))),          # own direction, admitted
    ]
    second = [
        (10, vec((0, 1.0), (1, 0.05))),        # near-dup of 0 (cross-drain)
        (11, vec((4, 1.0))),                   # fresh, admitted
        (12, vec((4, 3.0))),                   # clone of 11 (within-batch)
        (20, vec((0, 1.0), (1, 0.049))),       # near 10 AND 0 — rejected
    ]

    def land(rows, name):
        stage = str(tmp_path / ("s_" + name))
        _emb_frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f),
                          os.path.join(input_dir, f"{name}.parquet"))

    def stream():
        return EmbNearDupStream(
            spark, input_dir, work, threshold=0.9, n_planes=6,
            n_tables=2, dim=8, max_files_per_trigger=64,
        )

    assert stream().verdicts().count() == 0   # no batch ever ran -> empty
    land(first, "a")
    stream().run_available()
    land(second, "b")
    stream().run_available()

    got = {r["id"]: r["admitted"] for r in stream().verdicts().collect()}
    want = _embdedup_batch_expected(spark, spark.read.parquet(input_dir))
    assert got == want
    # the planted structure fired: clones rejected, originals admitted
    assert got[0] and got[2] and got[11]
    assert not got[1] and not got[12]

    # replay idempotency
    stream().run_available()
    assert {r["id"]: r["admitted"] for r in stream().verdicts().collect()} == got

    # meta pin: different threshold on the same work_dir raises
    import pytest

    with pytest.raises(ValueError, match="embedding-near-dup-stream"):
        EmbNearDupStream(spark, input_dir, work, threshold=0.8, n_planes=6,
                         n_tables=2, dim=8)
    with pytest.raises(ValueError, match="threshold"):
        EmbNearDupStream(spark, input_dir, str(tmp_path / "w2"), threshold=1.5)
